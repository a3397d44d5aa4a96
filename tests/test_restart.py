"""Restart as a pure state load: ``resume()`` reads the committed seed
state and every table back through schema-pinned readers, so it submits
no Spark job before its first wave."""

import glob
import json
import os
import shutil
from dataclasses import asdict, dataclass

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from crawlspark.config import Options
from crawlspark.plans.engine import CrawlEngine, WaveState
from crawlspark.plans.extender import Counters
from crawlspark.sources.statestore import SCHEMA_FILE, ParquetStateStore

SEEDS = [
    "http://hosta/page1.html",
    "http://hostb/page1.html",
    "http://hosta/page4.html",
]


def _seen_set(res):
    return {r[0] for r in res.seen.select("url_norm").collect()}


@pytest.fixture(scope="module")
def full(spark, fixture_pages):
    """The uninterrupted crawl the split ones must match."""
    return CrawlEngine(spark, fixture_pages, Options(crawl_delay_ms=100)).run(
        SEEDS
    )


@pytest.fixture(scope="module")
def one_wave_ck(spark, fixture_pages, tmp_path_factory):
    """Checkpoint of the same crawl stopped after its first wave; each
    test resumes from its own copy."""
    ckdir = str(tmp_path_factory.mktemp("restart") / "ck")
    CrawlEngine(
        spark, fixture_pages,
        Options(crawl_delay_ms=100, checkpoint_dir=ckdir, max_waves=1),
    ).run(SEEDS)
    return ckdir


def _resumer(spark, pages, src, dst):
    shutil.copytree(src, dst)
    return CrawlEngine(
        spark, pages, Options(crawl_delay_ms=100, checkpoint_dir=dst)
    )


@pytest.mark.parametrize(
    "sidecar, min_seen_rows",
    [("engaged", 0), ("dormant", 10**9)],
    ids=["engaged", "dormant"],
)
def test_resume_submits_no_job_at_wave_limit(
    spark, fixture_pages, spark_jobs, tmp_path, sidecar, min_seen_rows
):
    # the mid-frontier shape: a committed initial seen set, a Bloom
    # sidecar and a politeness-deferred frontier all come back on resume
    initial = spark.createDataFrame(
        [("http://hosta/page2.html", "hosta", -1)],
        "url_norm string, host string, wave_added int",
    )
    opts = Options(
        crawl_delay_ms=100,
        checkpoint_dir=str(tmp_path / "ck"),
        max_waves=1,
        max_urls_per_host_per_wave=1,
        use_bloom_seen=True,
        bloom_min_seen_rows=min_seen_rows,
        bloom_partitions=2,
        bloom_expected_per_partition=1000,
    )
    part = CrawlEngine(spark, fixture_pages, opts).run(
        SEEDS, initial_seen=initial
    )
    manifest = ParquetStateStore(spark, opts.checkpoint_dir).get_manifest()
    assert (manifest["bloom_fold_wave"] is not None) == (sidecar == "engaged")
    assert manifest["has_initial_seen"]

    engine = CrawlEngine(spark, fixture_pages, opts)
    with spark_jobs() as jobs:
        res = engine.resume(SEEDS)
    assert jobs == []
    assert res.waves == 1
    assert vars(res.counters) == vars(part.counters)
    assert (res.n_seeds, res.n_seed_hosts) == (part.n_seeds, part.n_seed_hosts)
    assert _seen_set(res) == _seen_set(part)
    if sidecar == "dormant":
        # a still-dormant sidecar stays dormant: nothing built, nothing
        # committed
        assert glob.glob(os.path.join(opts.checkpoint_dir, "*", "bloom")) == []


def test_resume_with_reordered_seeds(
    spark, fixture_pages, full, one_wave_ck, tmp_path
):
    engine = _resumer(spark, fixture_pages, one_wave_ck, str(tmp_path / "ck"))
    resumed = engine.resume(list(reversed(SEEDS)))
    assert vars(resumed.counters) == vars(full.counters)
    assert _seen_set(resumed) == _seen_set(full)
    assert (resumed.n_seeds, resumed.n_seed_hosts) == (3, 2)


def test_resume_without_seed_tables_recomputes_them(
    spark, fixture_pages, full, one_wave_ck, tmp_path
):
    ckdir = str(tmp_path / "ck")
    engine = _resumer(spark, fixture_pages, one_wave_ck, ckdir)
    shutil.rmtree(os.path.join(ckdir, "seed"))
    resumed = engine.resume(SEEDS)
    assert vars(resumed.counters) == vars(full.counters)
    assert _seen_set(resumed) == _seen_set(full)
    assert (resumed.n_seeds, resumed.n_seed_hosts) == (3, 2)
    assert os.path.exists(os.path.join(ckdir, "seed", "seed_hosts"))


def test_resume_rejects_unreadable_seed_table(
    spark, fixture_pages, one_wave_ck, tmp_path
):
    # an unreadable seed table is not a missing one: resume must fail
    # instead of recommitting the seed stage from the seeds it is given
    ckdir = str(tmp_path / "ck")
    engine = _resumer(spark, fixture_pages, one_wave_ck, ckdir)
    parts = glob.glob(os.path.join(ckdir, "seed", "seed_hosts", "*.parquet"))
    assert parts
    with open(parts[0], "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        engine.resume(SEEDS)


def test_seed_hosts_plan_evaluates_canonicalize_once(spark, fixture_pages):
    engine = CrawlEngine(spark, fixture_pages, Options())
    hosts = engine._seed_hosts_df(
        engine._seed_candidates(SEEDS + ["ftp://roota/a", "not a url"])
    )
    plan = hosts._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert {r[0] for r in hosts.collect()} == {"hosta", "hostb", "roota"}


def test_store_readers_submit_no_job(spark, spark_jobs, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "st"))
    df = spark.range(100).select(
        F.col("id"), F.concat(F.lit("u"), F.col("id")).alias("url_norm")
    )
    with spark_jobs() as jobs:
        committed = store.commit(df, "seen_inc", 0)
    assert len(jobs) == 1, jobs  # the write itself
    with spark_jobs() as jobs:
        read = store.read("seen_inc", 0)
        schemas = (committed.schema, read.schema)
    assert jobs == []
    inferred = spark.read.parquet(store._path("seen_inc", 0)).schema
    assert schemas == (inferred, inferred)
    assert committed.count() == read.count() == 100


def test_schema_record_is_replaced_with_its_directory(spark, tmp_path):
    store = ParquetStateStore(spark, str(tmp_path / "st"))
    path = store._path("host_state", 0)
    df = spark.createDataFrame([("h", 1, 2)], "host string, a int, b bigint")
    store.commit(df, "host_state", 0)
    with open(os.path.join(path, SCHEMA_FILE)) as fh:
        assert [f["name"] for f in json.load(fh)["fields"]] == ["host", "a", "b"]

    # a store commit of a new shape replaces the record
    store.commit(df.drop("a"), "host_state", 0)
    assert store.read("host_state", 0).columns == ["host", "b"]

    # an overwrite outside the store removes it with the old data, and
    # read() infers the new shape
    df.drop("b").write.mode("overwrite").parquet(path)
    assert not os.path.exists(os.path.join(path, SCHEMA_FILE))
    assert store.read("host_state", 0).columns == ["host", "a"]
    assert store.read("host_state", 0).collect()[0]["a"] == 1


def test_manifest_write_is_atomic(spark, tmp_path, monkeypatch):
    store = ParquetStateStore(spark, str(tmp_path / "st"))
    os.makedirs(store.root)
    store.put_manifest({"wave": 1})

    def crash(_fd):
        raise OSError("disk gone")

    # fails after the new content is written, before it is published
    monkeypatch.setattr(os, "fsync", crash)
    with pytest.raises(OSError, match="disk gone"):
        store.put_manifest({"wave": 2})
    monkeypatch.undo()
    # fails while serializing
    with pytest.raises(TypeError):
        store.put_manifest({"wave": 3, "bad": object()})

    assert store.get_manifest() == {"wave": 1}
    assert os.listdir(store.root) == ["MANIFEST.json"]


# -- WaveState manifest round trip (no Spark) --------------------------


@dataclass(frozen=True)
class _Table:
    """Stands in for a table the store reads back."""

    name: str
    wave: int
    columns: tuple = ("host", "last_wave_rows")


class _FakeStore:
    def __init__(self, manifest):
        self.manifest = manifest
        self.reads = set()

    def get_manifest(self):
        return self.manifest

    def read(self, name, wave):
        self.reads.add((name, wave))
        return _Table(name, wave)

    def rows(self, name, wave):
        return 7


def _manifest(**parts):
    return {
        "wave": 3,
        "seen_snapshot_wave": None,
        "seen_rows": 40,
        "deferred_rows": 0,
        "has_initial_seen": False,
        "bloom_fold_wave": None,
        "visits_total": 5,
        "counters": asdict(Counters(visit=5, errors_by_kind={"fetch": 2})),
        **parts,
    }


BASE_READS = {
    ("seen_inc", 0), ("seen_inc", 1), ("seen_inc", 2), ("host_state", 2),
    ("candidates", 2), ("seed_hosts", -1),
}


@pytest.mark.parametrize(
    "parts, reads, resolved",
    [
        ({}, BASE_READS, {}),
        ({"deferred_rows": 4}, BASE_READS | {("deferred", 2)}, {}),
        ({"bloom_fold_wave": 0}, BASE_READS | {("bloom", 0)}, {}),
        (
            {"seen_snapshot_wave": 1},
            BASE_READS - {("seen_inc", 0), ("seen_inc", 1)}
            | {("seen_snapshot", 1)},
            {},
        ),
        ({"has_initial_seen": True}, BASE_READS | {("seen_inc", -1)}, {}),
        # unrecorded counts resolve from the store's metadata: three
        # seen tables and the deferred table, 7 rows each
        (
            {"seen_rows": None, "deferred_rows": None},
            BASE_READS | {("deferred", 2)},
            {"seen_rows": 21, "deferred_rows": 7},
        ),
    ],
    ids=["plain", "deferred", "bloom_fold", "seen_snapshot", "initial_seen",
         "unknown_counts"],
)
def test_wave_state_manifest_round_trip(parts, reads, resolved):
    manifest = _manifest(**parts)
    store = _FakeStore(manifest)
    state = WaveState.load(store, use_bloom=True)
    assert state.manifest() == {**manifest, **resolved}
    assert store.reads == reads


def test_parent_manifest_still_loads():
    # a manifest as written before the seen row count was recorded
    manifest = _manifest(bloom_fold_wave=-1, has_initial_seen=True)
    del manifest["seen_rows"]
    state = WaveState.load(_FakeStore(manifest), use_bloom=True)
    # the seen count is summed from the four seen tables it opens
    # (the initial seen set and increments 0..2), 7 rows each
    assert state.seen_rows == 28
    assert state.bloom_pending_parts == [_Table("seen_inc", w) for w in range(3)]
    assert state.bloom_pending_rows == 21
    assert state.manifest() == {**manifest, "seen_rows": 28}
