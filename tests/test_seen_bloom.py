"""Bloom seen-filter sidecar: no false negatives, bounded false
positives, shard merge correctness."""

import os

import pytest
from pyspark.sql import functions as F

from crawlspark.config import Options
from crawlspark.operators.seen import (
    apply_bloom,
    bloom_params,
    build_bloom,
    collect_shards,
    merge_blooms,
)
from crawlspark.plans.engine import CrawlEngine

BLOOM_KW = dict(num_partitions=4, expected_per_partition=1000, fpp=0.01)


def _visit_order(res):
    return [r[0] for r in res.visit_log.orderBy("seq").select("url_norm").collect()]


def test_bloom_params_sane():
    m, k = bloom_params(1000, 0.01)
    assert m > 9000 and m % 8 == 0
    assert 5 <= k <= 9


def test_no_false_negatives_and_low_fpp(spark):
    n = 2000
    seen = spark.range(n).select(
        F.concat(F.lit("http://h/p"), F.col("id")).alias("url_norm")
    )
    bloom = build_bloom(seen, num_partitions=8, expected_per_partition=1000, fpp=0.01)
    shards = collect_shards(bloom)
    assert 0 < len(shards) <= 8

    # candidates: half seen, half unseen
    cands = spark.range(n * 2).select(
        F.concat(F.lit("http://h/p"), F.col("id")).alias("url_norm")
    )
    out = apply_bloom(
        cands, shards, num_partitions=8, expected_per_partition=1000, fpp=0.01
    )
    rows = {r["url_norm"]: r["maybe_seen"] for r in out.collect()}
    # every seen URL must test maybe_seen (no false negatives)
    for i in range(n):
        assert rows[f"http://h/p{i}"], f"false negative at {i}"
    # unseen URLs: false-positive rate bounded (generous 5x margin)
    fps = sum(1 for i in range(n, 2 * n) if rows[f"http://h/p{i}"])
    assert fps / n < 0.05, f"fpp too high: {fps / n}"


def test_merge_blooms(spark):
    a = spark.createDataFrame([("http://h/a",)], "url_norm string")
    b = spark.createDataFrame([("http://h/b",)], "url_norm string")
    kw = dict(num_partitions=2, expected_per_partition=100, fpp=0.01)
    merged = merge_blooms(build_bloom(a, **kw).unionByName(build_bloom(b, **kw)))
    shards = collect_shards(merged)
    cands = spark.createDataFrame(
        [("http://h/a",), ("http://h/b",), ("http://h/zzz",)], "url_norm string"
    )
    rows = {
        r["url_norm"]: r["maybe_seen"]
        for r in apply_bloom(cands, shards, **kw).collect()
    }
    assert rows["http://h/a"] and rows["http://h/b"]
    assert not rows["http://h/zzz"]


def test_apply_bloom_join_matches_collected(spark):
    """The pure-JVM broadcast-join probe agrees with the numpy probe
    (same signed-arithmetic bit layout) and has no false negatives."""
    from crawlspark.operators.seen import apply_bloom_join

    kw = dict(num_partitions=4, expected_per_partition=500, fpp=0.01)
    seen = spark.range(600).select(
        F.concat(F.lit("http://h/s"), F.col("id")).alias("url_norm")
    )
    shards_df = build_bloom(seen, **kw)
    cands = spark.range(1800).select(
        F.concat(F.lit("http://h/s"), F.col("id")).alias("url_norm")
    )
    via_join = {
        r["url_norm"]: r["maybe_seen"]
        for r in apply_bloom_join(cands, shards_df, **kw).collect()
    }
    via_list = {
        r["url_norm"]: r["maybe_seen"]
        for r in apply_bloom(
            cands, collect_shards(shards_df), **kw
        ).collect()
    }
    assert via_join == via_list
    for i in range(600):
        assert via_join[f"http://h/s{i}"], f"false negative at {i}"
    fps = sum(1 for i in range(600, 1800) if via_join[f"http://h/s{i}"])
    assert fps / 1200 < 0.05


def test_resume_with_bloom_matches_full(spark, fixture_pages, tmp_path):
    """Bloom-on resume seeds the shard table from the checkpointed seen
    set — no false-negative hole across the resume boundary."""
    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    bopts = dict(
        crawl_delay_ms=100, use_bloom_seen=True, bloom_min_seen_rows=0, bloom_partitions=4,
        bloom_expected_per_partition=1000, bloom_fpp=0.01,
    )
    full = CrawlEngine(
        spark, fixture_pages, Options(**bopts)
    ).run(seeds)
    ck = str(tmp_path / "ckb")
    CrawlEngine(
        spark, fixture_pages,
        Options(checkpoint_dir=ck, max_waves=1, **bopts),
    ).run(seeds)
    resumed = CrawlEngine(
        spark, fixture_pages, Options(checkpoint_dir=ck, **bopts)
    ).resume(seeds)
    assert resumed.counters.visit == full.counters.visit == 5
    assert resumed.counters.filter == full.counters.filter == 13
    s1 = {r[0] for r in full.seen.select("url_norm").collect()}
    s2 = {r[0] for r in resumed.seen.select("url_norm").collect()}
    assert s1 == s2


def test_engine_with_bloom_matches_exact(spark, fixture_pages):
    """Crawl with the Bloom pre-filter enabled: identical counters,
    seen set, and visit order vs the exact-join path."""
    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    base = CrawlEngine(spark, fixture_pages, Options(crawl_delay_ms=100)).run(seeds)
    bloomed = CrawlEngine(
        spark,
        fixture_pages,
        Options(
            crawl_delay_ms=100,
            use_bloom_seen=True, bloom_min_seen_rows=0,
            bloom_partitions=4,
            bloom_expected_per_partition=1000,
            bloom_fpp=0.01,
        ),
    ).run(seeds)
    assert bloomed.counters.visit == base.counters.visit == 5
    assert bloomed.counters.filter == base.counters.filter == 13
    assert bloomed.counters.enqueued == base.counters.enqueued
    s1 = {r[0] for r in base.seen.select("url_norm").collect()}
    s2 = {r[0] for r in bloomed.seen.select("url_norm").collect()}
    assert s1 == s2


def test_initial_bloom_prebuilt_matches_build(spark, fixture_pages):
    """run(initial_seen=..., initial_bloom=...) with caller-prebuilt
    shards behaves identically to letting the engine build them from
    initial_seen (the mid-frontier shape: at 10^10 URLs the filter is
    durable state, never rebuilt at run start).  page2 pre-seen must
    stay unvisited; counters and seen set match the built path."""
    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    initial = spark.createDataFrame(
        [("http://hosta/page2.html", "hosta", -1)],
        "url_norm string, host string, wave_added int",
    )
    bopts = dict(
        crawl_delay_ms=100, use_bloom_seen=True, bloom_min_seen_rows=0, bloom_partitions=4,
        bloom_expected_per_partition=1000, bloom_fpp=0.01,
    )
    seeds = ["http://hosta/page1.html"]
    built = CrawlEngine(spark, fixture_pages, Options(**bopts)).run(
        seeds, initial_seen=initial
    )
    prebuilt_shards = build_bloom(
        initial, num_partitions=4, expected_per_partition=1000, fpp=0.01
    )
    pre = CrawlEngine(spark, fixture_pages, Options(**bopts)).run(
        seeds, initial_seen=initial, initial_bloom=prebuilt_shards
    )
    assert vars(pre.counters) == vars(built.counters)
    s1 = {r[0] for r in built.seen.select("url_norm").collect()}
    s2 = {r[0] for r in pre.seen.select("url_norm").collect()}
    assert s1 == s2
    assert "http://hosta/page2.html" in s2
    visited = {
        r["url_norm"] for r in pre.visit_log.select("url_norm").collect()
    }
    assert "http://hosta/page2.html" not in visited


def test_resume_reads_committed_shards(
    spark, fixture_pages, tmp_path, monkeypatch
):
    """Bloom-on resume must consume the COMMITTED fold (manifest
    bloom_fold_wave → shards + post-fold increments as the pending
    set) rather than rebuilding from the seen union — pinned
    behaviorally: the store's ``bloom`` table must be READ, and
    ``build_bloom`` must never run during the resume (a regression
    that rebuilds from seen would call it; only a post-resume fold
    may, and this fixture's waves stay under the fold threshold)."""
    import crawlspark.operators.seen as seen_mod
    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine
    from crawlspark.sources.statestore import ParquetStateStore

    bopts = dict(
        crawl_delay_ms=100, use_bloom_seen=True, bloom_min_seen_rows=0, bloom_partitions=4,
        bloom_expected_per_partition=1000, bloom_fpp=0.01,
    )
    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    full = CrawlEngine(spark, fixture_pages, Options(**bopts)).run(seeds)
    ck = str(tmp_path / "ck")
    CrawlEngine(
        spark, fixture_pages, Options(checkpoint_dir=ck, max_waves=1, **bopts)
    ).run(seeds)
    import json
    import os

    with open(os.path.join(ck, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    assert manifest.get("bloom_fold_wave") is not None

    build_calls: list = []
    real_build = seen_mod.build_bloom
    monkeypatch.setattr(
        seen_mod,
        "build_bloom",
        lambda *a, **kw: build_calls.append(1) or real_build(*a, **kw),
    )
    reads: list = []
    real_read = ParquetStateStore.read
    monkeypatch.setattr(
        ParquetStateStore,
        "read",
        lambda self, name, wave: reads.append(name)
        or real_read(self, name, wave),
    )
    resumed = CrawlEngine(
        spark, fixture_pages, Options(checkpoint_dir=ck, **bopts)
    ).resume(seeds)
    assert "bloom" in reads, "resume never read the committed shards"
    assert not build_calls, "resume rebuilt the bloom instead of reading it"
    assert resumed.counters.visit == full.counters.visit
    assert resumed.counters.filter == full.counters.filter
    s1 = {r[0] for r in full.seen.select("url_norm").collect()}
    s2 = {r[0] for r in resumed.seen.select("url_norm").collect()}
    assert s1 == s2


def test_bloom_dormant_below_crossover(spark, fixture_pages, tmp_path):
    """With seen below bloom_min_seen_rows the sidecar runs ZERO jobs —
    no shard state is ever committed — and every counter plus the seen
    set is identical to the engaged run (the gate is an optimization,
    never a correctness knob)."""
    import glob
    import os

    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    bopts = dict(
        crawl_delay_ms=100, use_bloom_seen=True, bloom_partitions=4,
        bloom_expected_per_partition=1000, bloom_fpp=0.01,
    )
    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    engaged = CrawlEngine(
        spark, fixture_pages, Options(bloom_min_seen_rows=0, **bopts)
    ).run(seeds)
    ck = str(tmp_path / "ck_dormant")
    dormant = CrawlEngine(
        spark, fixture_pages,
        Options(
            checkpoint_dir=ck, bloom_min_seen_rows=10**9, **bopts
        ),
    ).run(seeds)
    assert dormant.counters.visit == engaged.counters.visit == 5
    assert dormant.counters.filter == engaged.counters.filter == 13
    s1 = {r[0] for r in engaged.seen.select("url_norm").collect()}
    s2 = {r[0] for r in dormant.seen.select("url_norm").collect()}
    assert s1 == s2
    assert glob.glob(os.path.join(ck, "*", "bloom")) == []


def test_bloom_engages_at_crossover(spark, fixture_pages, tmp_path):
    """A run that CROSSES bloom_min_seen_rows mid-crawl engages the
    sidecar with one build pass — shard state committed from that wave
    on, counters identical to both the plain and always-on runs."""
    import glob
    import os

    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    plain = CrawlEngine(
        spark, fixture_pages, Options(crawl_delay_ms=100)
    ).run(seeds)
    ck = str(tmp_path / "ck_engage")
    # fixture crawl sees 2 URLs after wave 0 and 7+ after wave 1 →
    # threshold 3 keeps wave 0 dormant and engages at wave 1
    crossed = CrawlEngine(
        spark, fixture_pages,
        Options(
            crawl_delay_ms=100, use_bloom_seen=True, bloom_partitions=4,
            bloom_expected_per_partition=1000, bloom_fpp=0.01,
            checkpoint_dir=ck, bloom_min_seen_rows=3,
        ),
    ).run(seeds)
    assert crossed.counters.visit == plain.counters.visit == 5
    assert crossed.counters.filter == plain.counters.filter == 13
    s1 = {r[0] for r in plain.seen.select("url_norm").collect()}
    s2 = {r[0] for r in crossed.seen.select("url_norm").collect()}
    assert s1 == s2
    committed = sorted(glob.glob(os.path.join(ck, "*", "bloom")))
    assert committed, "crossing the threshold must commit shard state"
    assert os.path.join(ck, "seed", "bloom") not in committed


def test_bloom_default_ratio_gate(spark, fixture_pages, tmp_path):
    """Default options (bloom_min_seen_rows=-1) derive the dormancy
    threshold from the measured crossover RATIO (seen ≥ ratio × wave
    bound): a fixture-scale crawl (seen ≪ 160× the seed count) runs
    bloom-dormant with counters identical to the engaged run, while a
    run whose initial seen set already exceeds the ratio engages at
    run start and commits shard state."""
    import glob
    import os

    from crawlspark.config import Options
    from crawlspark.plans.engine import CrawlEngine

    bopts = dict(
        crawl_delay_ms=100, use_bloom_seen=True, bloom_partitions=4,
        bloom_expected_per_partition=1000, bloom_fpp=0.01,
    )
    seeds = ["http://hosta/page1.html", "http://hosta/page4.html"]
    engaged = CrawlEngine(
        spark, fixture_pages, Options(bloom_min_seen_rows=0, **bopts)
    ).run(seeds)
    ck = str(tmp_path / "ck_ratio_dormant")
    auto = CrawlEngine(
        spark, fixture_pages, Options(checkpoint_dir=ck, **bopts)
    ).run(seeds)  # default gate: 160 × 2 seeds = 320 ≫ fixture seen
    assert auto.counters.visit == engaged.counters.visit == 5
    assert auto.counters.filter == engaged.counters.filter == 13
    s1 = {r[0] for r in engaged.seen.select("url_norm").collect()}
    s2 = {r[0] for r in auto.seen.select("url_norm").collect()}
    assert s1 == s2
    assert glob.glob(os.path.join(ck, "*", "bloom")) == []

    # 2 seeds × ratio 160 = 320 < 400 initial-seen rows → engages with
    # one build pass at run start (shard state committed at seed stage)
    big_seen = spark.range(400).select(
        F.concat(F.lit("http://big.seen/p"), F.col("id")).alias("url_norm"),
        F.lit("big.seen").alias("host"),
        F.lit(-1).alias("wave_added"),
    )
    ck2 = str(tmp_path / "ck_ratio_engaged")
    eng2 = CrawlEngine(
        spark, fixture_pages, Options(checkpoint_dir=ck2, **bopts)
    ).run(seeds, initial_seen=big_seen)
    assert eng2.counters.visit == engaged.counters.visit == 5
    assert glob.glob(os.path.join(ck2, "*", "bloom")) != []


class TestBloomNullHashes:
    """xxhash64(NULL) is NULL; every probe path must report
    maybe_seen=False for null url_norm (matching the JVM join path's
    CASE WHEN) instead of crashing in the int64 conversion."""

    @pytest.fixture(scope="class")
    def seen_and_cands(self, spark):
        seen = spark.createDataFrame(
            [(f"http://h{i}/p", f"h{i}", 0) for i in range(50)],
            "url_norm string, host string, wave_added int",
        )
        cands = spark.createDataFrame(
            [("http://h1/p",), ("http://new/x",), (None,), (None,)],
            "url_norm string",
        )
        return seen, cands

    def _check(self, rows):
        by_url = {}
        nulls = []
        for r in rows:
            if r["url_norm"] is None:
                nulls.append(r["maybe_seen"])
            else:
                by_url[r["url_norm"]] = r["maybe_seen"]
        assert by_url["http://h1/p"] is True  # no false negatives
        assert nulls == [False, False]  # null key → definitely unseen
        return by_url

    def test_collected_shard_probe(self, spark, seen_and_cands):
        from crawlspark.operators.seen import (
            apply_bloom, build_bloom, collect_shards,
        )

        seen, cands = seen_and_cands
        shards = collect_shards(build_bloom(seen, num_partitions=4))
        self._check(apply_bloom(cands, shards, num_partitions=4).collect())

    def test_join_probe(self, spark, seen_and_cands):
        from crawlspark.operators.seen import apply_bloom_join, build_bloom

        seen, cands = seen_and_cands
        shards = build_bloom(seen, num_partitions=4)
        self._check(apply_bloom_join(cands, shards, num_partitions=4).collect())

    def test_engine_cogroup_with_unparsable_link(self, spark, tmp_path):
        """A crawl whose pages harvest an unparsable URL (null url_norm
        after canonicalization) must not crash in bloom mode."""
        from crawlspark.fixtures import fixture_pages_df
        from crawlspark.sources.pages import PagesSource

        pages = fixture_pages_df(spark)
        # graft a busted link onto page1's html
        bad = b'<a href="http://[bad-bracket/oops">x</a>'
        pages = pages.withColumn(
            "html",
            F.when(
                F.col("url") == "http://hosta/page1.html",
                F.concat(F.col("html"), F.lit(bad)),
            ).otherwise(F.col("html")),
        )
        res = CrawlEngine(
            spark,
            PagesSource(pages),
            Options(
                crawl_delay_ms=1,
                use_bloom_seen=True, bloom_min_seen_rows=0,
                bloom_partitions=4,
            ),
        ).run(["http://hosta/page1.html"])
        assert res.counters.visit == 3


class TestBloomLazyFold:
    """The engine folds seen increments into the bitmaps lazily (pending
    increments are probed exactly via broadcast meanwhile).  Every fold
    policy must produce identical counters and visit order to the
    bloom-off crawl — and the never-fold case must not commit any
    per-wave bloom state."""

    def _crawl(self, spark, fixture_pages, ck, **opt_kw):
        res = CrawlEngine(
            spark,
            fixture_pages,
            Options(crawl_delay_ms=100, checkpoint_dir=ck, **opt_kw),
        ).run(["http://hosta/page1.html", "http://hostb/page1.html"])
        return res

    def test_fold_policies_match_plain(
        self, spark, fixture_pages, tmp_path, monkeypatch
    ):
        import crawlspark.plans.engine as engine_mod

        base = self._crawl(spark, fixture_pages, str(tmp_path / "p"))
        # never folds at fixture scale
        monkeypatch.setattr(engine_mod, "BLOOM_FOLD_MIN_ROWS", 10_000)
        lazy = self._crawl(
            spark, fixture_pages, str(tmp_path / "l"),
            use_bloom_seen=True, bloom_min_seen_rows=0, bloom_partitions=4,
            bloom_expected_per_partition=1000,
        )
        # folds after every wave
        monkeypatch.setattr(engine_mod, "BLOOM_FOLD_MIN_ROWS", 1)
        eager = self._crawl(
            spark, fixture_pages, str(tmp_path / "e"),
            use_bloom_seen=True, bloom_min_seen_rows=0, bloom_partitions=4,
            bloom_expected_per_partition=1000,
        )
        for res in (lazy, eager):
            assert vars(res.counters) == vars(base.counters)
            assert _visit_order(res) == _visit_order(base)
        # never-fold: only the seed-stage bloom commit exists — no
        # per-wave bloom maintenance jobs ran
        lazy_root = str(tmp_path / "l")
        assert os.path.exists(os.path.join(lazy_root, "seed", "bloom"))
        for w in range(lazy.waves):
            assert not os.path.exists(
                os.path.join(lazy_root, f"wave={w}", "bloom")
            )
        # eager: every wave with a nonempty increment re-committed shards
        eager_root = str(tmp_path / "e")
        assert any(
            os.path.exists(os.path.join(eager_root, f"wave={w}", "bloom"))
            for w in range(eager.waves)
        )


# Bloom probe int64 exactness: a nullable hash column converts to
# float64 pandas-side whenever an Arrow batch contains a null, so valid
# rows' 64-bit hashes would lose low bits and probe the wrong bits.
# coalesce(1) forces every row into ONE batch.
class TestBloomNullBatchPrecision:
    @pytest.fixture(scope="class")
    def seen_cands_shards(self, spark):
        from crawlspark.operators.seen import build_bloom

        seen = spark.createDataFrame(
            [(f"http://host{i}.example/path/{i}",) for i in range(200)],
            "url_norm string",
        )
        # every row — all 200 seen URLs plus a null — in ONE partition,
        # hence one Arrow batch (maxRecordsPerBatch default is 10k)
        cands = seen.unionByName(
            spark.createDataFrame([(None,)], "url_norm string")
        ).coalesce(1)
        shards = build_bloom(seen, **BLOOM_KW)
        return seen, cands, shards

    def _check(self, rows):
        seen_flags = [r["maybe_seen"] for r in rows if r["url_norm"] is not None]
        null_flags = [r["maybe_seen"] for r in rows if r["url_norm"] is None]
        assert len(seen_flags) == 200 and len(null_flags) == 1
        # NO false negatives — every seen URL must test "maybe" even
        # sharing its Arrow batch with a null-key row
        assert all(seen_flags)
        assert null_flags == [False]

    def test_collected_shard_probe(self, spark, seen_cands_shards):
        from crawlspark.operators.seen import apply_bloom, collect_shards

        _, cands, shards = seen_cands_shards
        self._check(
            apply_bloom(cands, collect_shards(shards), **BLOOM_KW).collect()
        )

    def test_join_probe(self, spark, seen_cands_shards):
        from crawlspark.operators.seen import apply_bloom_join

        _, cands, shards = seen_cands_shards
        self._check(apply_bloom_join(cands, shards, **BLOOM_KW).collect())
