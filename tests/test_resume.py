"""Mid-frontier checkpoint/resume: kill between waves, resume, final
state identical to an uninterrupted run (north-rule resumability)."""

from pyspark.sql import functions as F

from crawlspark.config import Options
from crawlspark.plans.engine import CrawlEngine


def _visit_order(res):
    return [r[0] for r in res.visit_log.orderBy("seq").select("url_norm").collect()]


def _seen_set(res):
    return {r[0] for r in res.seen.select("url_norm").collect()}


def test_resume_matches_uninterrupted(spark, fixture_pages, tmp_path):
    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]

    full = CrawlEngine(
        spark, fixture_pages, Options(crawl_delay_ms=100)
    ).run(seeds)

    ckdir = str(tmp_path / "ck")
    # interrupted run: stop after 1 wave (simulated kill between waves)
    part = CrawlEngine(
        spark, fixture_pages,
        Options(crawl_delay_ms=100, checkpoint_dir=ckdir, max_waves=1),
    ).run(seeds)
    assert part.waves == 1
    assert part.counters.visit < full.counters.visit

    resumed = CrawlEngine(
        spark, fixture_pages, Options(crawl_delay_ms=100, checkpoint_dir=ckdir)
    ).resume(seeds)

    assert resumed.counters.visit == full.counters.visit == 5
    assert resumed.counters.filter == full.counters.filter == 13
    assert resumed.counters.enqueued == full.counters.enqueued
    assert _seen_set(resumed) == _seen_set(full)
    # per-host visit order identical
    order_full = [
        r[0]
        for r in full.visit_log.filter(F.col("host") == "hosta")
        .orderBy("seq")
        .select("url_norm")
        .collect()
    ]
    order_res = [
        r[0]
        for r in resumed.visit_log.filter(F.col("host") == "hosta")
        .orderBy("seq")
        .select("url_norm")
        .collect()
    ]
    # the resumed run's visit_log only covers post-resume waves; compare
    # the tail of the full order
    assert order_res == order_full[-len(order_res):]


def test_per_partition_lineage_metrics(spark, fixture_pages, tmp_path):
    """Checkpoint mode commits a per-partition metrics table every wave
    (wave, stage, partition_id, count, passed)."""
    import os

    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    ckdir = str(tmp_path / "ckm")
    CrawlEngine(
        spark, fixture_pages, Options(crawl_delay_ms=100, checkpoint_dir=ckdir)
    ).run(["http://hosta/page1.html"])
    waves = sorted(d for d in os.listdir(ckdir) if d.startswith("wave="))
    assert len(waves) >= 2
    m = spark.read.parquet(*[os.path.join(ckdir, w, "metrics") for w in waves])
    assert set(m.columns) == {"wave", "stage", "partition_id", "count", "passed"}
    rows = m.collect()
    assert {r["stage"] for r in rows} == {"admission", "fetch"}
    # totals reconcile with the crawl: fetch passed == visits per wave
    total_visits = sum(
        r["passed"] for r in rows if r["stage"] == "fetch"
    )
    assert total_visits == 3


def test_resume_from_pre_round5_host_state(spark, fixture_pages, tmp_path):
    """Checkpoints written before host_state carried the hot-host
    scheduling statistic (last_wave_rows) must still resume: the engine
    shims the missing column to 0 and the first resumed wave runs
    unsalted, repopulating the stat at its commit."""
    import glob
    import os

    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    full = CrawlEngine(
        spark, fixture_pages, Options(crawl_delay_ms=100)
    ).run(seeds)

    ckdir = str(tmp_path / "ck")
    CrawlEngine(
        spark, fixture_pages,
        Options(crawl_delay_ms=100, checkpoint_dir=ckdir, max_waves=1),
    ).run(seeds)

    # rewrite the committed host_state WITHOUT the round-5 column —
    # the on-disk shape a pre-round-5 checkpoint has
    [hs_dir] = glob.glob(os.path.join(ckdir, "wave=0", "host_state"))
    legacy = spark.read.parquet(hs_dir).drop("last_wave_rows")
    assert "last_wave_rows" not in legacy.columns
    tmp_out = str(tmp_path / "legacy_hs")
    legacy.write.mode("overwrite").parquet(tmp_out)
    spark.read.parquet(tmp_out).write.mode("overwrite").parquet(hs_dir)

    resumed = CrawlEngine(
        spark, fixture_pages,
        Options(crawl_delay_ms=100, checkpoint_dir=ckdir),
    ).resume(seeds)
    assert resumed.counters.visit == full.counters.visit
    assert _seen_set(resumed) == _seen_set(full)
    # the resumed run's commits repopulate the statistic
    assert "last_wave_rows" in resumed.host_state.columns


class TestResumeDeferred:
    def test_resume_restores_deferred_frontier(self, spark, fixture_pages, tmp_path):
        """Interrupt while the politeness cap is holding deferred URLs;
        resume must crawl them (they are in neither candidates nor
        re-admittable seen)."""
        opts = dict(crawl_delay_ms=100, max_urls_per_host_per_wave=1)
        full = CrawlEngine(spark, fixture_pages, Options(**opts)).run(
            ["http://hosta/page1.html"]
        )
        assert full.counters.visit == 3

        ckdir = str(tmp_path / "ck")
        part = CrawlEngine(
            spark, fixture_pages,
            Options(**opts, checkpoint_dir=ckdir, max_waves=2),
        ).run(["http://hosta/page1.html"])
        # with cap=1, wave1 visits page1, wave2 visits page2 and DEFERS
        # page3's sibling links beyond the cap
        assert part.counters.visit < full.counters.visit

        resumed = CrawlEngine(
            spark, fixture_pages, Options(**opts, checkpoint_dir=ckdir)
        ).resume(["http://hosta/page1.html"])
        assert resumed.counters.visit == full.counters.visit
        assert _visit_order(resumed) == _visit_order(full)[-len(
            _visit_order(resumed)
        ):]
        # seen sets identical
        assert {r[0] for r in resumed.seen.select("url_norm").collect()} == {
            r[0] for r in full.seen.select("url_norm").collect()
        }


class TestResumeInitialSeen:
    def test_initial_seen_survives_resume(self, spark, fixture_pages, tmp_path):
        """run(initial_seen=...) + crash + resume: the pre-populated
        seen set must persist — page2 pre-seen means page2 is never
        visited, before OR after the resume point."""
        initial = spark.createDataFrame(
            [("http://hosta/page2.html", "hosta", -1)],
            "url_norm string, host string, wave_added int",
        )
        ckdir = str(tmp_path / "ck")
        part = CrawlEngine(
            spark, fixture_pages,
            Options(crawl_delay_ms=100, checkpoint_dir=ckdir, max_waves=1),
        ).run(["http://hosta/page1.html"], initial_seen=initial)
        assert part.waves == 1

        resumed = CrawlEngine(
            spark, fixture_pages, Options(crawl_delay_ms=100, checkpoint_dir=ckdir)
        ).resume(["http://hosta/page1.html"])
        visited = set(_visit_order(part)) | set(_visit_order(resumed))
        assert "http://hosta/page2.html" not in visited
        seen = {r[0] for r in resumed.seen.select("url_norm").collect()}
        assert "http://hosta/page2.html" in seen
