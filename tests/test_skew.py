"""Hot-host salted sequencing (SURVEY §4 P11): the skew-proof two-phase
ranking must be BIT-IDENTICAL to the plain host window, on a skewed
input where one host dwarfs the rest, and the full engine must produce
the same crawl with salting forced on and off."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from crawlspark.operators.skew import (
    host_cumsum_skewproof,
    host_seq_cumsum_skewproof,
    host_seq_skewproof,
)


@pytest.fixture(scope="module")
def skewed(spark):
    # host0: 5000 rows (the hot host); hosts 1..50: 20 rows each
    hot = spark.range(5000).select(
        F.lit("host0").alias("host"),
        F.col("id").alias("ord_a"),
        (F.col("id") % 7).cast("int").alias("ord_b"),
        ((F.col("id") * 37) % 100 + 1).cast("bigint").alias("delay"),
    )
    cold = spark.range(1000).select(
        F.concat(F.lit("host"), (F.col("id") % 50 + 1)).alias("host"),
        (F.col("id") / 50).cast("long").alias("ord_a"),
        (F.col("id") % 3).cast("int").alias("ord_b"),
        ((F.col("id") * 11) % 50 + 1).cast("bigint").alias("delay"),
    )
    return hot.unionByName(cold)


def test_seq_matches_plain_window(spark, skewed):
    w = Window.partitionBy("host").orderBy("ord_a", "ord_b")
    plain = skewed.withColumn("rn", F.row_number().over(w))
    salted = host_seq_skewproof(
        skewed, ["ord_a", "ord_b"], num_buckets=7, seq_col="rn"
    )
    key = ["host", "ord_a", "ord_b"]
    joined = plain.select(*key, F.col("rn").alias("rn_plain")).join(
        salted.select(*key, F.col("rn").alias("rn_salt")), on=key
    )
    assert joined.count() == skewed.count()
    assert joined.filter(F.col("rn_plain") != F.col("rn_salt")).count() == 0


def test_cumsum_matches_plain_window(spark, skewed):
    w = (
        Window.partitionBy("host")
        .orderBy("ord_a", "ord_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    plain = skewed.withColumn(
        "cs", F.coalesce(F.sum("delay").over(w), F.lit(0))
    )
    salted = host_cumsum_skewproof(
        skewed, "delay", ["ord_a", "ord_b"], num_buckets=5, out_col="cs"
    )
    key = ["host", "ord_a", "ord_b"]
    joined = plain.select(*key, F.col("cs").alias("cs_plain")).join(
        salted.select(*key, F.col("cs").alias("cs_salt")), on=key
    )
    assert joined.count() == skewed.count()
    assert joined.filter(F.col("cs_plain") != F.col("cs_salt")).count() == 0


def test_global_cumsum_matches_plain_window(spark, skewed):
    """The MaxVisits counter shape: GLOBAL exclusive cumsum over a total
    order, no partition-less window (engine.py max_visits path)."""
    from crawlspark.operators.skew import global_cumsum_skewproof

    w = (
        Window.orderBy("host", "ord_a", "ord_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    plain = skewed.withColumn(
        "cs", F.coalesce(F.sum("delay").over(w), F.lit(0))
    )
    salted = global_cumsum_skewproof(
        skewed, "delay", ["host", "ord_a", "ord_b"], num_buckets=6,
        out_col="cs",
    )
    key = ["host", "ord_a", "ord_b"]
    joined = plain.select(*key, F.col("cs").alias("cs_plain")).join(
        salted.select(*key, F.col("cs").alias("cs_salt")), on=key
    )
    assert joined.count() == skewed.count()
    assert joined.filter(F.col("cs_plain") != F.col("cs_salt")).count() == 0
    # and the salted plan carries no partition-less data-sized window
    plan = salted._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition(" in line:
            assert "_bkt" in line or "_gall" in line, line


def test_fused_matches_plain_window(spark, skewed):
    w = Window.partitionBy("host").orderBy("ord_a", "ord_b")
    plain = skewed.withColumn("rn", F.row_number().over(w)).withColumn(
        "cs",
        F.coalesce(
            F.sum("delay").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    fused = host_seq_cumsum_skewproof(
        skewed, "delay", ["ord_a", "ord_b"], num_buckets=6,
        seq_col="rn", cumsum_col="cs",
    )
    key = ["host", "ord_a", "ord_b"]
    joined = plain.select(
        *key, F.col("rn").alias("rn_p"), F.col("cs").alias("cs_p")
    ).join(
        fused.select(
            *key, F.col("rn").alias("rn_s"), F.col("cs").alias("cs_s")
        ),
        on=key,
    )
    assert joined.count() == skewed.count()
    assert (
        joined.filter(
            (F.col("rn_p") != F.col("rn_s")) | (F.col("cs_p") != F.col("cs_s"))
        ).count()
        == 0
    )


def test_hot_cold_split_matches_plain_window(spark, skewed):
    """The hot/cold dispatcher (host_seq / host_seq_cumsum) with a
    genuinely MIXED split — host0 salted, hosts 1..50 on the plain
    window — must be bit-identical to the plain window over the union,
    and with an empty hot list it must be the plain window exactly."""
    from crawlspark.operators.skew import host_seq, host_seq_cumsum

    w = Window.partitionBy("host").orderBy("ord_a", "ord_b")
    plain = skewed.withColumn("rn", F.row_number().over(w)).withColumn(
        "cs",
        F.coalesce(
            F.sum("delay").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    key = ["host", "ord_a", "ord_b"]
    for hot in ([], ["host0"], ["host0", "host7"]):
        seq = host_seq(
            skewed, ["ord_a", "ord_b"], hot_hosts=hot, num_buckets=6,
            seq_col="rn",
        )
        fused = host_seq_cumsum(
            skewed, "delay", ["ord_a", "ord_b"], hot_hosts=hot,
            num_buckets=6, seq_col="rn", cumsum_col="cs",
        )
        j1 = plain.select(*key, F.col("rn").alias("p")).join(
            seq.select(*key, F.col("rn").alias("s")), on=key
        )
        assert j1.count() == skewed.count(), hot
        assert j1.filter(F.col("p") != F.col("s")).count() == 0, hot
        j2 = plain.select(
            *key, F.col("rn").alias("rp"), F.col("cs").alias("cp")
        ).join(
            fused.select(
                *key, F.col("rn").alias("rs"), F.col("cs").alias("cs2")
            ),
            on=key,
        )
        assert j2.count() == skewed.count(), hot
        assert (
            j2.filter(
                (F.col("rp") != F.col("rs")) | (F.col("cp") != F.col("cs2"))
            ).count()
            == 0
        ), hot


def test_engine_parity_salted_vs_plain(spark, monkeypatch):
    """Same crawl (visit order, schedule, counters) with salting on/off."""
    import crawlspark.operators.skew as skew
    from crawlspark.config import Options
    from crawlspark.fixtures import fixture_pages_df
    from crawlspark.plans.engine import CrawlEngine
    from crawlspark.sources.pages import PagesSource

    pages_df = fixture_pages_df(spark)

    def run(salt: bool):
        pages = PagesSource(pages_df, versioned=False)
        # a threshold of 1 → every host goes through the salted
        # machinery even at fixture scale; the production threshold
        # leaves this tiny crawl entirely on the plain window
        monkeypatch.setattr(
            skew, "SALT_THRESHOLD_ROWS", 1 if salt else 1_000_000
        )
        opts = Options(crawl_delay_ms=100, same_host_only=False)
        res = CrawlEngine(spark, pages, opts).run(
            ["http://hosta/page1.html", "http://hostb/page1.html"]
        )
        log = [
            (r["url_norm"], r["host"], r["wave"], r["seq"])
            for r in res.visit_log.orderBy("host", "wave", "seq").collect()
        ]
        sched = sorted(
            (r["url_norm"], r["seq"], r["sched_ms"])
            for r in res.fetch_log.collect()
        )
        return res.counters, log, sched

    c_plain, log_plain, sched_plain = run(False)
    c_salt, log_salt, sched_salt = run(True)
    assert log_plain == log_salt
    assert sched_plain == sched_salt
    assert vars(c_plain) == vars(c_salt)


def test_hot_stat_populates_host_state(spark, monkeypatch):
    """The scheduling statistic behind hot-host detection must actually
    POPULATE: detection reads host_state.last_wave_rows (the previous
    wave's PRE-CAP per-host batch size), and since any host list is
    bit-identical-correct, a silently-empty statistic would pass every
    parity test while quietly disabling the salted path.  Pin that (a)
    active hosts record positive last_wave_rows, (b) with a per-host
    wave cap the stat records the PRE-cap group size (>= dispatched),
    and (c) a host whose final-wave batch exceeded the cap records a
    stat above the cap (its overflow deferred)."""
    from crawlspark.config import Options
    from crawlspark.fixtures import fixture_pages_df
    from crawlspark.plans.engine import CrawlEngine
    from crawlspark.sources.pages import PagesSource

    import crawlspark.operators.skew as skew

    pages = PagesSource(fixture_pages_df(spark), versioned=False)
    monkeypatch.setattr(skew, "SALT_THRESHOLD_ROWS", 1)
    opts = Options(
        crawl_delay_ms=100, same_host_only=False,
        max_urls_per_host_per_wave=1, max_waves=2,
    )
    res = CrawlEngine(spark, pages, opts).run(
        ["http://hosta/page1.html", "http://hostb/page1.html"]
    )
    stats = {
        r["host"]: r["last_wave_rows"]
        for r in res.host_state.collect()
    }
    assert stats, "host_state empty"
    # dispatched counts of the FINAL wave (cap=1 → at most 1 per host)
    last_wave = max(r["wave"] for r in res.fetch_log.collect())
    dispatched = {}
    for r in res.fetch_log.collect():
        if r["wave"] == last_wave and r["fetch_rank"] == 2:
            dispatched[r["host"]] = dispatched.get(r["host"], 0) + 1
    for host, n in dispatched.items():
        assert stats.get(host, 0) >= n, (host, n, stats.get(host))
    # with cap=1 and a multi-page graph, some host must have had a
    # pre-cap batch above the cap in its last active wave
    assert any(v > 1 for v in stats.values()), stats
