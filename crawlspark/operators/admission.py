"""Candidate admission — the reference's ``enqueueUrls`` pipeline
(crawler.go:199-273) as one declarative DataFrame stage.

Order of predicates (crawler.go): robots-URL bypass → visited probe →
Filter hook → absolute-URL policy → http-scheme policy → same-host
policy → stack + mark-visited.

The one non-trivial piece is the **visited flag for within-wave
duplicates**.  The reference marks a URL visited at *stack* time
(crawler.go:263-269), and processes candidates sequentially, so the
flag for occurrence k of a URL depends on whether some earlier
occurrence was admitted.  Because the flag is monotone (false→true
once), the recurrence has a closed form computable with one unordered
window per url_norm group:

    admit_if_unvisited(j) = filter(row_j, visited=false) ∧ policies(j)
    m  = min ord over the group where admit_if_unvisited
    is_visited(k) = seen(k) ∨ (m exists ∧ ord_k > m)
    admitted(k)   = is_visited(k) ? admit_if_visited(k) : admit_if_unvisited(k)

(no sequential scan, no UDF — pure Catalyst expressions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.config import Options
from crawlspark.functions.udfs import make_canonicalize_udf
from crawlspark.operators import skew

# ordering tuple carried by every candidate: (parent wave, parent host,
# parent per-host seq, link position) — a deterministic linearization of
# the reference's per-host FIFO arrival order (popchannel.go:17-30)
ORD_COLS = ["ord_wave", "ord_host", "ord_seq", "ord_pos"]

CANDIDATE_DDL = (
    "url string, src_url_norm string, src_host string, state string, "
    "head_before_get boolean, ord_wave int, ord_host string, "
    "ord_seq bigint, ord_pos int"
)


def _ord_rank() -> Column:
    # raw url as final component: two candidates may collide on the
    # whole ord tuple (xxhash64 seed ord_seq), and the within-wave
    # first-admit min must still be a UNIQUE row or both copies would
    # test unvisited and be admitted twice
    return F.struct(*[F.col(c) for c in ORD_COLS], F.col("url"))


def admit_candidates(
    candidates: DataFrame,
    seen: DataFrame,  # (url_norm)
    seed_hosts: DataFrame,  # (seed_host)
    opts: Options,
    filter_factory=None,
    bloom_df: DataFrame | None = None,
    pin=None,
    bloom_words: DataFrame | None = None,
    bloom_pending: DataFrame | None = None,
    rows_bound: int = 0,
) -> DataFrame:
    """Annotate candidates with canonical columns + admission verdicts.

    Returns every candidate row with:
      url_norm, host, path, is_robots, is_abs_http,
      is_visited, admitted (page rows), robots_bypass (stacked robots rows)
    Filter-hook invocation count = rows where ``counts_filter``.
    ``rows_bound`` is the candidates' row count: at or above
    ``skew.SALT_THRESHOLD_ROWS`` the within-wave duplicate check takes
    the skew-hardened groupBy form.
    """
    canon = make_canonicalize_udf(opts.url_normalization_flags)
    pinned = False  # at most ONE pinned copy of the wave candidates
    df = candidates.withColumn("_c", canon(F.col("url"))).select(
        "*",
        F.col("_c.url_norm").alias("url_norm"),
        F.col("_c.host").alias("host"),
        F.col("_c.path").alias("path"),
        F.col("_c.is_robots").alias("is_robots"),
        F.col("_c.is_abs_http").alias("is_abs_http"),
    ).drop("_c")

    # visited probe: exact membership vs the seen table (crawler.go:209).
    # Left join (not anti) because the Filter hook *receives* the flag
    # and may still admit visited rows (complex_test.go:203-236).
    # With the Bloom sidecar, candidates testing definitely-unseen skip
    # the big join entirely (no false negatives ⇒ exact result); only
    # "maybe seen" rows (true dups + fpp) hit the table (SURVEY §4 P1).
    seen_side = seen.select(F.col("url_norm").alias("_seen_url")).withColumn(
        "_seen", F.lit(True)
    )
    if bloom_df is not None:
        from crawlspark.operators.seen import apply_bloom_join

        df = apply_bloom_join(
            df,
            bloom_df,
            url_col="url_norm",
            num_partitions=opts.bloom_partitions,
            expected_per_partition=opts.bloom_expected_per_partition,
            fpp=opts.bloom_fpp,
            word_rows=bloom_words,
        )
        if bloom_pending is not None:
            # seen increments not yet folded into the filter (the engine
            # folds lazily — rebuilding MB-scale bitmaps for a small
            # wave increment costs more than it prunes).  The pending
            # broadcast join is itself an EXACT membership probe of the
            # pending half of the seen set: a pending hit IS seen, no
            # confirmation needed.  bloom ∪ pending covers exactly the
            # full seen set, preserving no-false-negatives.  Pending is
            # bounded by the fold threshold → broadcast-able.
            # distinct: a duplicate key on the right of the left join
            # would duplicate candidate rows (small side, cheap)
            pend = (
                bloom_pending.select(F.col("url_norm").alias("_pend_url"))
                .distinct()
                .withColumn("_pend", F.lit(True))
            )
            df = (
                df.join(
                    F.broadcast(pend),
                    df["url_norm"] == F.col("_pend_url"),
                    "left",
                )
                .withColumn("_pend", F.coalesce(F.col("_pend"), F.lit(False)))
                .drop("_pend_url")
            )
        else:
            df = df.withColumn("_pend", F.lit(False))
        if pin is not None:
            df = pin(df)  # maybe_keys forks df — evaluate the probe once
            pinned = True
        # THE structural win: the exact check against the big (folded)
        # seen table only runs for rows the bloom flags AND the pending
        # probe didn't already resolve — true re-links to folded URLs
        # plus the fpp sliver.  That key set is tiny → BROADCAST, so
        # the exact check becomes seen ⋉ maybe_keys (scan-only
        # semi-join; the big seen table is never shuffled) followed by
        # a broadcast join of the matched keys back onto the
        # candidates.  The plain path's left-outer join must exchange
        # the whole seen table every wave — at a 10^10-row frontier
        # that exchange IS the crawl's dominant cost.  The distinct
        # matters for the BROADCAST, not the join: F.broadcast collects
        # rows to the driver BEFORE the hash build dedups them, so a
        # seen URL re-linked from 10^6 pages in one wave would ship
        # 10^6 duplicate keys driver-side.  distinct's partial
        # aggregation collapses duplicates map-side, so its exchange
        # carries ~unique keys only and the broadcast stays bounded by
        # true dups + fpp regardless of link multiplicity.
        maybe_keys = (
            df.filter(F.col("maybe_seen") & ~F.col("_pend"))
            .select("url_norm")
            .distinct()
        )
        matched = seen_side.join(
            F.broadcast(maybe_keys),
            F.col("_seen_url") == F.col("url_norm"),
            "left_semi",
        )
        df = (
            df.join(
                F.broadcast(matched),
                df["url_norm"] == F.col("_seen_url"),
                "left",
            )
            .withColumn(
                "_seen", F.col("_pend") | F.coalesce(F.col("_seen"), F.lit(False))
            )
            .drop("_seen_url", "maybe_seen", "_pend")
        )
    else:
        df = df.join(
            seen_side, df["url_norm"] == F.col("_seen_url"), "left"
        ).drop("_seen_url")
    seen_flag = F.coalesce(F.col("_seen"), F.lit(False))

    # policy predicates (crawler.go:220-229) — pure column expressions
    same_host_ok = (
        F.lit(True)
        if not opts.same_host_only
        else F.when(
            F.col("src_host").isNotNull(), F.col("src_host") == F.col("host")
        ).otherwise(F.col("_is_seed_host"))
    )
    df = df.join(
        F.broadcast(
            seed_hosts.select(F.col("seed_host")).withColumn("_ish", F.lit(True))
        ),
        df["host"] == F.col("seed_host"),
        "left",
    ).drop("seed_host")
    df = df.withColumn("_is_seed_host", F.coalesce(F.col("_ish"), F.lit(False))).drop(
        "_ish"
    )

    policies = F.col("is_abs_http") & same_host_ok

    def _filter(visited: Column) -> Column:
        if filter_factory is None:
            return ~visited  # default Filter (ext.go:172-174)
        return filter_factory(df, visited)

    f_unv = _filter(F.lit(False))
    f_vis = _filter(F.lit(True))
    admit_if_unvisited = f_unv & policies
    admit_if_visited = f_vis & policies

    first_admit_expr = F.when(
        admit_if_unvisited & ~seen_flag & ~F.col("is_robots"), _ord_rank()
    )
    if rows_bound >= skew.SALT_THRESHOLD_ROWS:
        # skew-hardened formulation: a URL linked from 10^6+ pages in one
        # wave puts all its duplicate candidates into ONE window
        # partition (WindowExec has no partial aggregation).  groupBy
        # gets map-side combine — duplicates collapse to one row per map
        # partition before the shuffle — and the join back on url_norm
        # is AQE-skew-splittable.  Same result as the window min.
        # Gated on the wave's known row bound: below the salt threshold
        # even a fully-duplicated wave fits one window task, and the
        # plain window below costs two fewer exchanges and no fork pin.
        #
        # This forks df (mins + join back): without pinning, the canon
        # UDF, bloom probe and seen join — the wave's most expensive
        # admission work — evaluate twice.  ``pin`` (engine-supplied:
        # persist + wave-end unpersist) materializes the fork point once.
        # In bloom mode the candidates are ALREADY pinned at the probe
        # fork above; this fork's input is just a broadcast-hash join on
        # top of that cache (matched keys back onto candidates), so both
        # consumers re-derive it from the one cache — re-running a
        # broadcast probe is far cheaper than a second full copy of the
        # wave in executor memory (VERDICT r4 item 4: bloom mode pinned
        # 2x plain mode's candidate bytes, measured memory pressure).
        if pin is not None and not pinned:
            df = pin(df)
        mins = (
            df.withColumn("_fa", first_admit_expr)
            .groupBy("url_norm")
            .agg(F.min("_fa").alias("_first_admit_ord"))
        )
        df = df.join(mins, on="url_norm", how="left")
        first_admit_ord = F.col("_first_admit_ord")
    else:
        grp = Window.partitionBy("url_norm")
        first_admit_ord = F.min(first_admit_expr).over(grp)

    is_visited = seen_flag | (
        first_admit_ord.isNotNull() & (_ord_rank() > first_admit_ord)
    )

    admitted = (
        ~F.col("is_robots")
        & F.col("url_norm").isNotNull()
        & F.when(is_visited, admit_if_visited).otherwise(admit_if_unvisited)
    )

    # first-failing-policy label in the reference's precedence order
    # (crawler.go:212-229: Filter → absolute → scheme → same host) —
    # feeds the LogIgnored lines; pure column exprs, pruned when unused
    raw_scheme = F.lower(
        F.regexp_extract(F.col("url"), r"^([A-Za-z][A-Za-z0-9+.\-]*):", 1)
    )
    filter_ok = F.when(is_visited, f_vis).otherwise(f_unv)
    reject_reason = (
        F.when(~filter_ok, F.lit("filter"))
        .when(raw_scheme == "", F.lit("absolute"))
        .when(~raw_scheme.startswith("http"), F.lit("scheme"))
        .when(~same_host_ok, F.lit("same host"))
        .otherwise(F.lit("unparsable"))
    )

    return (
        df.withColumn("is_visited", is_visited)
        .withColumn("counts_filter", ~F.col("is_robots") & F.col("url_norm").isNotNull())
        .withColumn("admitted", admitted)
        .withColumn("robots_bypass", F.col("is_robots"))
        .withColumn("reject_reason", reject_reason)
        .drop("_seen", "_is_seed_host", "_first_admit_ord")
    )
