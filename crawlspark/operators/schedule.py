"""Per-host politeness scheduling — the reference's crawl-delay logic
(worker.go:190-268) as a virtual-time window computation.

The reference sleeps: each host-worker waits ``delay`` between response
receipt and the next request (worker.go:214-217, 266-268).  The engine
*schedules* instead (SURVEY §2.5): within a host, fetch k is assigned

    sched_ms(k) = host_next_free_ms + Σ_{j<k} delay_ms(j)

an exclusive cumulative sum over ``Window.partitionBy(host).orderBy(...)``
— no sleeping, same ordering/throughput semantics, and the per-host
schedule is exactly reproducible.  The host's ``next_free_ms`` carries
across waves through the host_state table.

Delay resolution (default ComputeDelay, ext.go:109-114): robots
crawl-delay if present else the configured delay.  A custom
``compute_delay`` hook receives lag columns over the host window
(last_delay_ms) like the reference's DelayInfo (ext.go:14-21).

Hot hosts: when the engine's committed row counts flag hosts as hot
(``hot_hosts``), the default-delay schedule takes seq and cumsum from
:func:`skew.host_seq_cumsum`, salted for those hosts and the plain
window for the rest; with no hot host (every wave below the salt
threshold) it is the plain host window below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.config import Options
from crawlspark.operators.admission import ORD_COLS


def politeness_schedule(
    batch: DataFrame,
    opts: Options,
    compute_delay=None,
    hot_hosts: list | None = None,
) -> DataFrame:
    """Annotate a fetch batch with (seq, delay_ms, sched_ms).

    Expects columns: host, robots_delay_ms (nullable), next_free_ms
    (nullable, from host_state), fetch_rank int (0 = robots fetch —
    always first per host, crawler.go:246-254; 1 = HEAD, 2 = GET),
    plus the ORD_COLS ordering tuple.

    Everything is window arithmetic over the host partition — one
    shuffle by host, no UDFs, whole-stage codegen throughout.
    """
    # url_norm (when present) before fetch_rank: deterministic under
    # ord_seq hash collisions (DataFrame seeds), while a HEAD and its
    # GET (same url) still sort adjacent by rank
    ord_all = (
        ORD_COLS
        + (["url_norm"] if "url_norm" in batch.columns else [])
        + ["fetch_rank"]
    )
    w = Window.partitionBy("host").orderBy(*[F.col(c) for c in ord_all])
    # NOTE on ordering: robots (rank 0) sorts before pages; a HEAD and
    # its GET share ORD_COLS, and (rank==2) sorts the GET directly
    # after its HEAD, matching the reference's HEAD→GET sequence
    # (worker.go:278-293).

    df = batch.withColumn(
        "opts_delay_ms", F.lit(opts.crawl_delay_ms).cast("bigint")
    )

    default_delay = F.coalesce(
        F.when(F.col("robots_delay_ms") > 0, F.col("robots_delay_ms")),
        F.col("opts_delay_ms"),
    ).cast("bigint")

    if compute_delay is None and hot_hosts:
        # hot-host salted path (SURVEY §4 P11): delay needs no window
        # here, so seq + exclusive cumsum come from the fused two-phase
        # ranking for the hosts in ``hot_hosts`` (detected per wave by
        # the engine) and from the plain host window for everyone else —
        # bit-identical results, no single-partition hot group, and no
        # sampling/materialization pass when no host is hot.  The
        # lag-based custom compute_delay hook is a parity feature and
        # keeps the plain window below.
        from crawlspark.operators.skew import host_seq_cumsum

        df = df.withColumn("delay_ms", default_delay)
        df = host_seq_cumsum(
            df,
            value_col="delay_ms",
            ord_cols=ord_all,
            hot_hosts=hot_hosts,
            seq_col="seq_in_wave",
            cumsum_col="_cum_excl",
        )
        return df.withColumn(
            "sched_ms",
            F.coalesce(F.col("next_free_ms"), F.lit(0)).cast("bigint")
            + F.col("_cum_excl"),
        ).drop("_cum_excl")

    df = df.withColumn("seq_in_wave", F.row_number().over(w))
    if compute_delay is not None:
        df = df.withColumn(
            "last_delay_ms", F.lag(default_delay).over(w)
        )
        delay = compute_delay(df).cast("bigint")
    else:
        delay = default_delay
    df = df.withColumn("delay_ms", delay)

    cum = (
        F.sum("delay_ms")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    df = df.withColumn(
        "sched_ms",
        F.coalesce(F.col("next_free_ms"), F.lit(0)).cast("bigint")
        + F.coalesce(cum, F.lit(0)),
    )
    return df


def host_next_free(scheduled: DataFrame) -> DataFrame:
    """(host, next_free_ms') after this wave: last sched + its delay."""
    return scheduled.groupBy("host").agg(
        F.max(F.col("sched_ms") + F.col("delay_ms")).alias("next_free_ms")
    )
