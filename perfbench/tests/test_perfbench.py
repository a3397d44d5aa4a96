"""The benchmark's own tests: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import json
import os
from dataclasses import replace

import pytest

from perfbench import inputs, metrics, run, steady, workloads
from perfbench.trace import CALL, JOB, PHASE, WAVE, Tracer, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def spark():
    from crawlspark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "2g"})
    yield s
    s.stop()


# ---------------------------------------------------------------- spans

def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([(3, 3), (4, 2)]) == 0


def test_self_time_subtracts_covered_child_time():
    t = Tracer()
    t.add("run", PHASE, 0.0, 10.0)
    t.add("wave0", WAVE, 1.0, 6.0, wave=0)
    t.add("wave1", WAVE, 6.0, 9.0, wave=1)
    t.add("store.commit:candidates", CALL, 2.0, 4.0)
    t.add("store.commit:seen_inc", CALL, 3.0, 5.0)  # overlaps the first commit
    t.add("job", JOB, 2.5, 3.5)
    t.add("job", JOB, 7.0, 8.0)
    t.link()
    s = t.spans
    assert [x.parent for x in s] == [None, 0, 0, 1, 1, 3, 2]
    assert [x.wave for x in s] == [None, 0, 1, 0, 0, 0, 1]
    assert t.self_time(0) == pytest.approx(10 - 8)  # waves cover 1..9
    assert t.self_time(1) == pytest.approx(5 - 3)  # commits cover 2..5
    assert t.self_time(2) == pytest.approx(3 - 1)
    assert t.self_time(3) == pytest.approx(2 - 1)
    assert t.self_time(4) == pytest.approx(2)
    # self times add up to the root's duration, except that the second
    # the two commits share counts once for each of them
    assert sum(t.self_time(i) for i in range(len(s))) == pytest.approx(10 + 1)


def test_job_group_beats_time_containment():
    t = Tracer()
    t.add("wave0", WAVE, 0.0, 10.0, wave=0)
    t.add("a", CALL, 1.0, 9.0, attrs={"group": "a#0"})
    t.add("b", CALL, 2.0, 3.0, attrs={"group": "b#1"})
    # inside b's interval, but submitted under a's job group
    t.add("job", JOB, 2.2, 2.8, attrs={"job_group": "a#0", "stages": []})
    t.add("job", JOB, 2.3, 2.4, attrs={"job_group": None, "stages": []})
    t.link()
    assert t.spans[3].parent == 1
    assert t.spans[4].parent == 2


# -------------------------------------------------------------- metrics

def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_printed_metrics():
    b = _benchmark_json()
    assert [m["name"] for m in b["end_to_end"]] == list(metrics.END_TO_END)
    for m in b["end_to_end"]:
        assert (m["unit"], m["better"], m["bound"]) == metrics.END_TO_END[m["name"]]
    assert [m["name"] for m in b["per_layer"]] == list(metrics.PER_LAYER)
    for m in b["per_layer"]:
        assert (m["unit"], m["better"]) == metrics.PER_LAYER[m["name"]]
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)


def test_query_metrics_name_every_leaf():
    import __spark_entry__ as entry

    leaves = list(entry.queries())
    assert metrics.QUERY_NAMES == leaves[leaves.index("dedup_exact"):]
    assert set(metrics.SHUFFLE_QUERIES) <= set(metrics.QUERY_NAMES)


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_end_to_end_values_cover_every_metric(workload):
    if workload == "llm_queries":
        ops = [{"seconds": 3.0, "query_s": {"a": 1.0, "b": 2.0}}]
    else:
        ops = [{"seconds": 9.0, "fetches": 900, "wave_s": [2.0, 3.0, 4.0], "restart_s": 0.5}]
    outcome = workloads.Outcome(setup_s=20.0, start_s=1.5, ops=ops, attempted=3, failed=0)
    values = run.end_to_end(workload, outcome, 2**30)
    assert list(values) == list(metrics.END_TO_END)
    assert all(v > 0 for v in values.values())
    assert values["peak_rss_mb"] == 1024
    assert values["ok_frac"] == 1


def test_norm_rows_ignores_column_and_row_order():
    a = workloads.norm_rows(["y", "x"], [(1.0000001, "b"), (2.0, "a")])
    b = workloads.norm_rows(["x", "y"], [("a", 2.0), ("b", 1.0)])
    assert a == b


def test_compare_flags_regression_and_spread(tmp_path, monkeypatch):
    names = {m["name"]: m for m in _benchmark_json()["end_to_end"]}

    def runs(scale):
        out = []
        for k in range(10):
            metrics = {
                n: {"value": (1 + k * 0.001) * (scale if n == "total_s" else 1), "unit": m["unit"]}
                for n, m in names.items()
            }
            out.append({"seed": k, "result": {"correct": True, "metrics": metrics}})
        return out

    assert steady.compare(runs(1.0), runs(1.0)) == []
    problems = steady.compare(runs(1.0), runs(2.0))
    assert [p.split(":")[0] for p in problems] == ["total_s"]


# --------------------------------------------------------------- inputs

def test_query_tables_follow_the_seed():
    a, b, c = inputs.query_tables(1), inputs.query_tables(1), inputs.query_tables(2)
    assert all(a[t].equals(b[t]) for t in inputs.QUERY_TABLES)
    assert not a["documents"].equals(c["documents"])
    assert set(a) == set(inputs.QUERY_TABLES)


def test_seed_urls_are_proportional_and_seeded():
    size = inputs.DEEP
    urls = inputs.seed_urls(size, 3)
    assert urls == inputs.seed_urls(size, 3) != inputs.seed_urls(size, 4)
    assert len(set(urls)) == len(urls)
    assert abs(len(urls) - size.seeds) < size.seeds * 0.05
    hot = sum(u.startswith("http://host0.example/") for u in urls)
    assert hot == max(sum(u.startswith(f"http://host{h}.example/") for u in urls)
                      for h in range(size.hosts))


def test_pages_table_matches_the_generator(spark):
    """The benchmark's driver-side pages table equals what
    ``fixtures.synthetic_pages`` generates for the same size and seed."""
    from crawlspark.fixtures import synthetic_pages

    size = replace(inputs.DEEP, pages=300, hosts=6)
    want = sorted(tuple(r.values()) for r in inputs.pages_table(size, 5).to_pylist())
    got = sorted(
        (r["url"], r["warc_ts"], bytes(r["html"]), r["text"], r["lang"])
        for r in synthetic_pages(spark, size.pages, size.hosts,
                                 links_per_page=size.links_per_page, seed=5).collect()
    )
    assert got == want


def test_split_and_uninterrupted_crawls_match_the_bfs_reference(spark, tmp_path, monkeypatch):
    """The deep workload on a tiny graph, traced: its run + resume crawl
    must match the BFS reference, and so must an uninterrupted crawl of
    the same seed."""
    from crawlspark.plans.engine import CrawlEngine
    from crawlspark.sources.pages import PagesSource

    size = inputs.CrawlSize(
        pages=600, hosts=12, links_per_page=4, seeds=60, seen_rows=20_000,
        waves=3, split_at=1,
    )
    monkeypatch.setattr(inputs, "WORK", str(tmp_path))
    monkeypatch.setattr(inputs, "DEEP", size)
    ctx = workloads.Ctx(spark, seed=2, seconds=0, cores=2, trace=True, t_process=0.0)
    out = workloads.deep_midfrontier(ctx)
    assert out.failed == 0, out.errors
    assert out.attempted == size.waves
    layer = out.layer
    assert layer["seen.bloom_build_calls"] == 1
    assert layer["engine.waves"] == size.waves
    assert layer["engine.jobs_per_wave"] > 0
    assert layer["statestore.commits_per_wave"] > 0
    assert layer["engine.job_s_per_wave"] + layer["engine.driver_nojob_s_per_wave"] \
        == pytest.approx(layer["engine.wave_s_per_wave"])

    seeds = inputs.seed_urls(size, 2)
    pages = PagesSource(spark.read.parquet(inputs.pages_path(size, 2)), versioned=False)
    ck = str(tmp_path / "ck_uninterrupted")
    res = CrawlEngine(spark, pages, workloads._crawl_options(ck, size.waves)).run(
        seeds, initial_seen=spark.read.parquet(inputs.seen_path(spark, size))
    )
    assert workloads._crawl_mismatches(res, inputs.bfs_reference(size, 2, seeds), size.waves) == []
