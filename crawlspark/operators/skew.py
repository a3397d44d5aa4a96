"""Hot-host skew mitigation: salted-key per-host sequencing.

The reference runs one goroutine per host (worker.go:49-105), so a host
with 10^6 pending URLs is inherently serial there — and naively mapping
"one ordered group per host" onto ``Window.partitionBy('host')`` keeps
that serialization: the whole hot host lands in ONE task while every
other core idles (SURVEY §4 P11).

This module computes the exact same per-host FIFO sequence and
politeness cumsum *without* ever materializing a host inside a single
partition, via the classic two-phase distributed ranking:

1. ``repartitionByRange(host, ord...)`` — the range partitioner splits
   a hot host across many consecutive partitions by its ordering tuple
   (the "salt" is the range-bucket id, monotone in the sort order, so
   concatenating buckets preserves the global per-host order — unlike a
   random ``pmod(xxhash64(url), k)`` salt, which balances load but
   scrambles FIFO order).
2. local ``row_number``/cumsum per (bucket, host) — the window key now
   includes the bucket id, so no window group exceeds a partition range.
3. exact offset correction: per-(bucket, host) counts/sums are a tiny
   aggregate (≤ buckets + hosts-that-straddle rows); an exclusive cumsum
   over the bucket index per host turns local ranks into global ones.

Politeness semantics are untouched: the schedule is still a per-host
cumulative sum over the un-salted host (SURVEY §2.5) — only the
*shuffle* is salted.  Results are bit-identical to the plain
``Window.partitionBy('host')`` formulation (tests/test_skew.py).

The machinery is applied PER HOST, not per wave: :func:`host_seq` and
:func:`host_seq_cumsum` route only hosts whose wave row count reaches
the salt threshold (:data:`SALT_THRESHOLD_ROWS`) through the
range-bucketed path; every other host takes the plain window, and an
empty hot list is exactly the plain window.  The engine always
sequences through them and detects hot hosts from the PREVIOUS wave's
per-host batch sizes recorded in its host_state commits (any list is
correct — results are bit-identical either way — so a one-wave-stale
statistic costs at most one slow-tail wave).  The salted path's
sampling pass + eager materialization are real costs — profiling
attributed most of a wave's non-scaling wall to them when they ran
wave-wide — and a sub-threshold host's window group is something one
task sorts in milliseconds, so paying them for all hosts bought
nothing.  A wave whose committed row count is below the threshold
skips hot detection outright.

CORRECTNESS NOTE — the bucket assignment is MATERIALIZED (eager
localCheckpoint) before use: ``repartitionByRange`` *samples* the data
to pick boundaries, so re-evaluating the same lineage can yield
different ``spark_partition_id`` buckets — and the offset join plus
every downstream job must all see ONE consistent assignment (without
the cut, an A/B crawl run measurably dropped rows: the counts
aggregate and the final join each triggered their own sampling pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Per-host rows per wave at which a host's window group takes the
# salted path (the OOM guard on one task's sort); the engine also
# clamps it to the wave's per-task share.  Residual exposure: hot
# detection reads the PREVIOUS wave's per-host batch sizes, so a host
# that jumps from ~0 to far beyond this within ONE wave sorts its whole
# window group in one task for that wave (slow tail / memory pressure,
# never a wrong result) and salts from the next wave on.  Read at call
# time, so tests can lower it to force the salted path at fixture scale.
SALT_THRESHOLD_ROWS = 1_000_000


def host_seq(
    df: DataFrame,
    ord_cols: list[str],
    hot_hosts: list,
    host_col: str = "host",
    num_buckets: int | None = None,
    seq_col: str = "_rn_host",
) -> DataFrame:
    """Hot/cold dispatch for per-host ``row_number``: hosts in
    ``hot_hosts`` go through the exact salted two-phase ranking; every
    other host takes the plain window (one shuffle, zero sampling, zero
    materialization).  Bit-identical either way (tests/test_skew.py) —
    the split is purely a physical-plan decision.

    Rationale: the range machinery's sampling pass + eager
    localCheckpoint cost a full extra materialization of the wave, which
    profiling showed dominating the non-scaling share of the wave wall —
    paying it for EVERY host when only a handful (often none) have
    window groups too big for one task was the wrong default."""
    w = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in ord_cols])
    if not hot_hosts:
        return df.withColumn(seq_col, F.row_number().over(w))
    is_hot = F.coalesce(F.col(host_col).isin(hot_hosts), F.lit(False))
    cold = df.filter(~is_hot).withColumn(seq_col, F.row_number().over(w))
    hot = host_seq_skewproof(
        df.filter(is_hot),
        ord_cols,
        host_col=host_col,
        num_buckets=num_buckets,
        seq_col=seq_col,
    )
    return cold.unionByName(hot)


def host_seq_cumsum(
    df: DataFrame,
    value_col: str,
    ord_cols: list[str],
    hot_hosts: list,
    host_col: str = "host",
    num_buckets: int | None = None,
    seq_col: str = "seq_in_wave",
    cumsum_col: str = "_cum_excl",
) -> DataFrame:
    """Hot/cold dispatch for the fused per-host row_number + exclusive
    cumsum (the politeness schedule shape) — see :func:`host_seq`."""
    w = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in ord_cols])

    def _plain(d: DataFrame) -> DataFrame:
        d = d.withColumn(seq_col, F.row_number().over(w))
        return d.withColumn(
            cumsum_col,
            F.coalesce(
                F.sum(F.col(value_col)).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )

    if not hot_hosts:
        return _plain(df)
    is_hot = F.coalesce(F.col(host_col).isin(hot_hosts), F.lit(False))
    cold = _plain(df.filter(~is_hot))
    hot = host_seq_cumsum_skewproof(
        df.filter(is_hot),
        value_col,
        ord_cols,
        host_col=host_col,
        num_buckets=num_buckets,
        seq_col=seq_col,
        cumsum_col=cumsum_col,
    )
    return cold.unionByName(hot)


def _ranged_buckets(df: DataFrame, ordering, n: int) -> DataFrame:
    """Range-partition by the ordering tuple and PIN the resulting
    bucket ids by materializing them (see CORRECTNESS NOTE above)."""
    return (
        df.repartitionByRange(n, *ordering)
        .withColumn("_bkt", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )


def host_seq_skewproof(
    df: DataFrame,
    ord_cols: list[str],
    host_col: str = "host",
    num_buckets: int | None = None,
    seq_col: str = "_rn_host",
) -> DataFrame:
    """Exact per-host ``row_number`` ordered by ``ord_cols`` with no
    single-partition hot-host group.  Adds ``seq_col`` (1-based)."""
    spark = df.sparkSession
    n = num_buckets or spark.sparkContext.defaultParallelism * 2
    ordering = [F.col(host_col)] + [F.col(c) for c in ord_cols]
    ranged = _ranged_buckets(df, ordering, n)
    w_local = Window.partitionBy("_bkt", host_col).orderBy(
        *[F.col(c) for c in ord_cols]
    )
    ranked = ranged.withColumn("_local_rn", F.row_number().over(w_local))

    counts = ranked.groupBy("_bkt", host_col).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_off = (
        Window.partitionBy(host_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_bkt", host_col, "_off")

    return (
        ranked.join(F.broadcast(offsets), on=["_bkt", host_col])
        .withColumn(seq_col, (F.col("_off") + F.col("_local_rn")).cast("int"))
        .drop("_bkt", "_local_rn", "_off")
    )


def host_seq_cumsum_skewproof(
    df: DataFrame,
    value_col: str,
    ord_cols: list[str],
    host_col: str = "host",
    num_buckets: int | None = None,
    seq_col: str = "seq_in_wave",
    cumsum_col: str = "_cum_excl",
) -> DataFrame:
    """Fused exact per-host ``row_number`` AND exclusive cumsum of
    ``value_col`` over the same ordering, sharing ONE range shuffle —
    the politeness schedule needs both (seq + virtual-time offset) and
    ``value_col`` must already be a materialized column."""
    spark = df.sparkSession
    n = num_buckets or spark.sparkContext.defaultParallelism * 2
    ordering = [F.col(host_col)] + [F.col(c) for c in ord_cols]
    ranged = _ranged_buckets(df, ordering, n)
    w_local = Window.partitionBy("_bkt", host_col).orderBy(
        *[F.col(c) for c in ord_cols]
    )
    local = ranged.withColumn("_local_rn", F.row_number().over(w_local))
    local = local.withColumn(
        "_local_sum",
        F.coalesce(
            F.sum(F.col(value_col)).over(
                w_local.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )

    agg = local.groupBy("_bkt", host_col).agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum(F.col(value_col)).alias("_s")
    )
    w_off = (
        Window.partitionBy(host_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        agg.withColumn("_off_n", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)))
        .withColumn("_off_s", F.coalesce(F.sum("_s").over(w_off), F.lit(0)))
        .select("_bkt", host_col, "_off_n", "_off_s")
    )

    return (
        local.join(F.broadcast(offsets), on=["_bkt", host_col])
        .withColumn(seq_col, (F.col("_off_n") + F.col("_local_rn")).cast("int"))
        .withColumn(cumsum_col, F.col("_off_s") + F.col("_local_sum"))
        .drop("_bkt", "_local_rn", "_local_sum", "_off_n", "_off_s")
    )


def global_cumsum_skewproof(
    df: DataFrame,
    value_col: str,
    ord_cols: list[str],
    num_buckets: int | None = None,
    out_col: str = "_cumsum_excl",
) -> DataFrame:
    """GLOBAL (no partition key) exact exclusive cumsum over a total
    order — e.g. the MaxVisits cumulative-visit counter — without a
    partition-less window (which would serialize the whole wave into
    one task).

    Constant-key reuse of :func:`host_cumsum_skewproof`: the data-sized
    windows are all per range-bucket; only the ≤ num_buckets offset
    rows ever share one partition (the reference analog is the single
    visit counter cell, crawler.go:300-309)."""
    tmp = "_gall"
    return host_cumsum_skewproof(
        df.withColumn(tmp, F.lit(0)),
        value_col,
        ord_cols,
        host_col=tmp,
        num_buckets=num_buckets,
        out_col=out_col,
    ).drop(tmp)


def host_cumsum_skewproof(
    df: DataFrame,
    value_col: str,
    ord_cols: list[str],
    host_col: str = "host",
    num_buckets: int | None = None,
    out_col: str = "_cumsum_excl",
) -> DataFrame:
    """Exact per-host EXCLUSIVE cumulative sum of ``value_col`` ordered
    by ``ord_cols`` (the politeness virtual-time schedule, SURVEY §2.5)
    with no single-partition hot-host group."""
    spark = df.sparkSession
    n = num_buckets or spark.sparkContext.defaultParallelism * 2
    ordering = [F.col(host_col)] + [F.col(c) for c in ord_cols]
    ranged = _ranged_buckets(df, ordering, n)
    w_local = (
        Window.partitionBy("_bkt", host_col)
        .orderBy(*[F.col(c) for c in ord_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn(
        "_local_sum",
        F.coalesce(F.sum(F.col(value_col)).over(w_local), F.lit(0)),
    )

    sums = local.groupBy("_bkt", host_col).agg(
        F.sum(F.col(value_col)).alias("_s")
    )
    w_off = (
        Window.partitionBy(host_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.withColumn(
        "_off", F.coalesce(F.sum("_s").over(w_off), F.lit(0))
    ).select("_bkt", host_col, "_off")

    return (
        local.join(F.broadcast(offsets), on=["_bkt", host_col])
        .withColumn(out_col, F.col("_off") + F.col("_local_sum"))
        .drop("_bkt", "_local_sum", "_off")
    )
