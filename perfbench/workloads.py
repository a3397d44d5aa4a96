"""The benchmark's workloads: one client, closed loop, one crawl or one
query pass at a time.

Each workload function takes a :class:`Ctx` and returns a
:class:`Outcome`: the timed operations, their correctness verdicts and,
when traced, the spans to derive per-layer metrics from.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.metrics import QUERY_NAMES, SHUFFLE_QUERIES
from perfbench.trace import (
    CALL, JOB, PHASE, WAVE, WORKLOAD, Instrument, Tracer, TracedStore, clipped, union_length,
)

@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    cores: int
    trace: bool
    t_process: float  # perf_counter at process start
    gen_s: float = 0.0  # input generation, excluded from setup_s
    prepared: dict = field(default_factory=dict)  # from prepare()


@dataclass
class Outcome:
    setup_s: float
    start_s: float  # restart of the crawl; first query result of the session
    ops: list[dict]  # one per timed operation (crawl or query pass)
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer metrics (traced run)


def log(ctx: Ctx, what: str) -> None:
    """Progress line on stderr: seconds since process start."""
    print(f"perfbench: {time.perf_counter() - ctx.t_process:7.1f}s {what}", file=sys.stderr, flush=True)


def _timed_gen(ctx: Ctx, fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    ctx.gen_s += time.perf_counter() - t
    return out


def _setup_s(ctx: Ctx, load_times: list[float]) -> float:
    """Process start to the timed window, less input generation, with
    the repeated table load counted once, at its median."""
    total = time.perf_counter() - ctx.t_process - ctx.gen_s
    return total - sum(load_times) + statistics.median(load_times)


def _bench_us(fn, items, min_s: float = 0.2, reps: int = 5) -> float:
    """Median over ``reps`` of the µs per item of ``fn`` over ``items``."""
    per = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn(items)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= min_s / reps:
                break
        per.append(dt / n * 1e6)
    return statistics.median(per)


# ----------------------------------------------------------------------
# deep_midfrontier
# ----------------------------------------------------------------------

def _crawl_options(ck: str, max_waves: int, store=None):
    from crawlspark.config import Options

    return Options(
        crawl_delay_ms=100,
        same_host_only=False,
        max_waves=max_waves,
        collect_logs=False,
        parallel_checkpoints=True,
        checkpoint_dir=ck,
        state_store=store,
        use_bloom_seen=True,
        # shard capacity (4 x 100k) covers the seen table plus the crawl
        bloom_partitions=4,
        bloom_expected_per_partition=100_000,
    )


def _crawl_mismatches(res, want: dict, waves: int) -> list[str]:
    """Where a crawl's counters and seen set differ from the reference."""
    from pyspark.sql import functions as F

    got = {
        "fetch": res.counters.fetch,
        "visit": res.counters.visit,
        "seen": {
            r[0] for r in res.seen.filter(F.col("wave_added") >= 0)
            .select("url_norm").collect()
        },
    }
    bad = [k for k in want if got[k] != want[k]]
    if res.waves != waves:
        bad.append("waves")
    return bad


def deep_midfrontier(ctx: Ctx) -> Outcome:
    from crawlspark.plans.engine import CrawlEngine
    from crawlspark.plans.extender import Extender
    from crawlspark.sources.pages import PagesSource
    from crawlspark.sources.statestore import ParquetStateStore

    spark, size = ctx.spark, inputs.DEEP
    ppath = _timed_gen(ctx, inputs.pages_path, size, ctx.seed)
    spath = _timed_gen(ctx, inputs.seen_path, spark, size)
    seeds = _timed_gen(ctx, inputs.seed_urls, size, ctx.seed)
    want = _timed_gen(ctx, inputs.bfs_reference, size, ctx.seed, seeds)
    log(ctx, "inputs ready")

    load_times = []
    for rep in range(3):
        if rep:
            pages.pages.unpersist()
            pages.robots_pages.unpersist()
        t = time.perf_counter()
        pages = PagesSource(
            spark.read.parquet(ppath), versioned=False, persist=True,
            buckets=ctx.cores,
        )
        pages.pages.count()
        pages.robots_pages.count()
        spark.read.parquet(spath).count()
        load_times.append(time.perf_counter() - t)

    waves: list[dict] = []
    inst: Instrument | None = None

    def on_wave_end(engine, summary):
        waves.append({**summary, "t_end": time.time()})
        if inst is not None:
            inst.on_wave_end(engine, summary)

    ext = Extender(on_wave_end=on_wave_end)
    n_ck = iter(range(1 << 30))

    def engine(ck, max_waves):
        store = None
        if inst is not None:
            store = TracedStore(ParquetStateStore(spark, ck), inst)
        return CrawlEngine(spark, pages, _crawl_options(ck, max_waves, store), ext)

    def new_ck():
        ck = os.path.abspath(os.path.join(inputs.WORK, f"ck_{os.getpid()}_{next(n_ck)}"))
        shutil.rmtree(ck, ignore_errors=True)
        return ck

    log(ctx, "tables loaded")

    tracer = Tracer() if ctx.trace else None
    if ctx.trace:
        inst = Instrument(spark, tracer)
        inst.patch_functions()
    setup_s = _setup_s(ctx, load_times)
    log(ctx, "timed window starts")

    ops, errors, failed, attempted, busy = [], [], 0, 0, 0.0
    with _span(tracer, "deep_midfrontier", WORKLOAD):
        while not ops or busy < ctx.seconds:
            ck = new_ck()
            first = len(waves)
            t0 = time.perf_counter()
            with _span(tracer, "run"):
                engine(ck, size.split_at).run(seeds, initial_seen=spark.read.parquet(spath))
            t_resume = time.time()
            with _span(tracer, "resume"):
                res = engine(ck, size.waves).resume(seeds)
            t_resumed = time.time()
            dt = time.perf_counter() - t0
            busy += dt
            op_waves = waves[first:]
            # restart: resume() to its first wave, or to its return when
            # the crawl was already at its wave limit
            resumed = [w["t_end"] - w["wall_ms"] / 1e3 for w in op_waves if w["t_end"] > t_resume]
            log(ctx, f"crawl took {dt:.1f}s")
            bad = _crawl_mismatches(res, want, size.waves)
            shutil.rmtree(ck, ignore_errors=True)
            attempted += len(op_waves)
            if bad:
                failed += len(op_waves)
                errors.append(f"run+resume differs from the reference walk in {bad}")
            ops.append({
                "seconds": dt,
                "t_resume": t_resume,
                "t_resumed": t_resumed,
                "fetches": res.counters.fetch,
                "wave_s": [w["wall_ms"] / 1e3 for w in op_waves],
                "restart_s": (resumed[0] if resumed else t_resumed) - t_resume,
            })

    layer = {}
    if ctx.trace:
        inst.close()
        layer = _crawl_layers(tracer, inst.status, ops, ctx.cores)
        layer.update(_crawl_functions(size, ctx.seed, seeds, ppath))
        tracer.dump(os.path.join(inputs.WORK, f"spans_{os.getpid()}.jsonl"))
    pages.pages.unpersist()
    pages.robots_pages.unpersist()
    start_s = statistics.median(op["restart_s"] for op in ops)
    return Outcome(setup_s, start_s, ops, attempted, failed, errors, layer)


def _span(tracer: Tracer | None, name: str, level: int = PHASE):
    return tracer.span(name, level) if tracer is not None else nullcontext()


def _crawl_functions(size, seed: int, seeds: list[str], ppath: str) -> dict:
    import pandas as pd
    import pyarrow.parquet as pq

    from crawlspark.config import NormalizationFlags
    from crawlspark.fixtures import zipf_bounds
    from crawlspark.functions.extract import parse_page
    from crawlspark.functions.robots import parse_robots
    from crawlspark.functions.udfs import canonicalize_series

    bounds = zipf_bounds(size.pages, size.hosts)
    urls = list(seeds[:500])
    for u in seeds[:200]:
        pid = int(u.rsplit("/p", 1)[1][:-5])
        urls += inputs.link_targets(pid, seed, bounds, size.hosts, size.links_per_page)
    flags = NormalizationFlags.all_greedy()
    series = pd.Series(urls)
    html = pq.read_table(ppath, columns=["html"]).column(0).to_pylist()[::max(1, size.pages // 300)]
    bodies = inputs.robots_bodies(seed, 300)
    return {
        "functions.canonicalize_us_per_url": _bench_us(
            lambda s: canonicalize_series(s, flags), series
        ),
        "functions.extract_page_us_per_page": _bench_us(
            lambda xs: [parse_page(x) for x in xs], html
        ),
        "functions.robots_parse_us_per_body": _bench_us(
            lambda xs: [parse_robots(x) for x in xs], bodies
        ),
    }


def _crawl_layers(tracer: Tracer, status, ops: list[dict], cores: int) -> dict:
    tracer.link()
    spans = tracer.spans
    fetches = sum(op["fetches"] for op in ops)
    op_s = sum(op["seconds"] for op in ops)
    phases = [s for s in spans if s.level == PHASE]
    # jobs of the timed crawls only, not of the output checks between them
    jobs = [
        s for s in spans
        if s.level == JOB and any(p.start - tracer.SLACK <= s.start <= p.end for p in phases)
    ]
    job_iv = [(j.start, j.end) for j in jobs]
    wave_spans = [s for s in spans if s.level == WAVE]

    def within(s, w):
        return w.start - tracer.SLACK <= s.start <= w.end

    per_wave = []
    for w in wave_spans:
        w_jobs = [j for j in jobs if within(j, w)]
        calls = [c for c in spans if c.level == CALL and within(c, w)]
        commits = [c for c in calls if c.name.startswith("store.commit:")]
        groups = {c.attrs["group"] for c in commits}
        commit_stages = [
            st for j in jobs if j.attrs["job_group"] in groups for st in j.attrs["stages"]
        ]
        stages = [st for j in w_jobs for st in j.attrs["stages"]]
        job_s = union_length(clipped(job_iv, w.start, w.end))
        per_wave.append({
            "wave_s": w.dur,
            "jobs": len(w_jobs),
            "job_s": job_s,
            "nojob_s": w.dur - job_s,
            "plan_calls": sum(c.name.startswith("plan.") for c in calls),
            "commits": len(commits),
            "commit_s": union_length(clipped([(c.start, c.end) for c in commits], w.start, w.end)),
            "commit_write_s": sum(st["run_s"] for st in commit_stages if st["output_bytes"] > 0),
            "commit_upstream_s": sum(st["run_s"] for st in commit_stages if st["output_bytes"] == 0),
            "tiny_stages": sum(st["tasks"] <= 2 for st in stages),
            "gc_s": sum(st["gc_s"] for st in stages),
            "heaviest": max(stages, key=lambda st: st["run_s"], default=None),
        })
    all_stages = [st for j in jobs for st in j.attrs["stages"]]
    commit_groups = {
        s.attrs["group"] for s in spans if s.level == CALL and s.name.startswith("store.commit:")
    }
    written = sum(
        st["output_bytes"] for j in jobs if j.attrs["job_group"] in commit_groups
        for st in j.attrs["stages"]
    )
    # store reads between each resume() call and its first resumed wave
    resume_read = 0.0
    for op in ops:
        first_wave = min(
            (w.start for w in wave_spans if w.start >= op["t_resume"]), default=op["t_resumed"]
        )
        resume_read += sum(
            c.dur for c in spans
            if c.level == CALL and c.name.split(":")[0] in ("store.read", "store.rows", "store.get_manifest")
            and op["t_resume"] <= c.start < first_wave
        )
    skew = [
        r for r in (status.task_max_over_median(w["heaviest"]) for w in per_wave if w["heaviest"])
        if r is not None
    ]

    def mean(key):
        return statistics.fmean(w[key] for w in per_wave) if per_wave else 0.0

    return {
        "engine.waves": len(per_wave),
        "engine.wave_s_per_wave": mean("wave_s"),
        "engine.jobs_per_wave": mean("jobs"),
        "engine.job_s_per_wave": mean("job_s"),
        "engine.driver_nojob_s_per_wave": mean("nojob_s"),
        "engine.plan_calls_per_wave": mean("plan_calls"),
        "statestore.commits_per_wave": mean("commits"),
        "statestore.commit_s_per_wave": mean("commit_s"),
        "statestore.commit_write_task_s_per_wave": mean("commit_write_s"),
        "statestore.commit_upstream_task_s_per_wave": mean("commit_upstream_s"),
        "statestore.bytes_written_per_fetch": written / fetches if fetches else 0.0,
        "statestore.resume_read_s": resume_read / len(ops),
        "seen.bloom_build_calls": sum(
            s.level == CALL and s.name == "plan.build_bloom" for s in spans
        ) / len(ops),
        "spark.task_cpu_us_per_fetch": sum(st["cpu_s"] for st in all_stages) * 1e6 / fetches,
        "spark.shuffle_bytes_per_fetch": sum(st["shuffle_write_bytes"] for st in all_stages) / fetches,
        "spark.max_over_median_task_s": statistics.median(skew) if skew else 0.0,
        "spark.tiny_stages_per_wave": mean("tiny_stages"),
        "spark.gc_s_per_wave": mean("gc_s"),
        "spark.slot_utilization": sum(st["run_s"] for st in all_stages) / (op_s * cores),
        "trace.op_s": op_s / len(ops),
    }


# ----------------------------------------------------------------------
# llm_queries
# ----------------------------------------------------------------------

def _norm_cell(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_rows(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Column-name-aligned, order-free form of a result: columns sorted
    by name, floats rounded to 6 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def oracle_results(qdir: str) -> dict:
    """Normalized DuckDB result of ``__spark_entry__.oracle_sql()`` for
    every benchmarked leaf, over the tables in ``qdir``."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in inputs.QUERY_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{qdir}/{t}.parquet'")
        out = {}
        for name in QUERY_NAMES:
            d = con.sql(sql[name])
            out[name] = norm_rows(d.columns, d.fetchall())
        return out
    finally:
        con.close()


def prepare(ctx: Ctx, workload: str, pool) -> None:
    """Start the work that needs no Spark session before the session, so
    it overlaps JVM start-up: the query tables and their DuckDB oracle."""
    if workload == "llm_queries":
        qdir = os.path.abspath(_timed_gen(ctx, inputs.query_dir, ctx.seed))
        ctx.prepared = {"qdir": qdir, "oracle": pool.submit(oracle_results, qdir)}


def llm_queries(ctx: Ctx) -> Outcome:
    import __spark_entry__ as entry

    spark = ctx.spark
    qdir = ctx.prepared["qdir"]
    load_times = []
    for _ in range(3):
        t = time.perf_counter()
        for name in inputs.QUERY_TABLES:
            spark.read.parquet(f"{qdir}/{name}.parquet").schema
        load_times.append(time.perf_counter() - t)

    qmap = {name: entry.queries()[name] for name in QUERY_NAMES}
    log(ctx, "tables loaded")
    # warmup: one untimed query pays codegen and worker start; its
    # latency is the session's time to a first result
    first = next(iter(qmap.values()))
    t = time.perf_counter()
    first(spark, qdir).collect()
    start_s = time.perf_counter() - t

    tracer = inst = None
    if ctx.trace:
        tracer = Tracer()
        inst = Instrument(spark, tracer)
    oracle = ctx.prepared["oracle"].result()  # never runs into the window
    setup_s = _setup_s(ctx, load_times)

    ops, errors, failed, attempted, busy = [], [], 0, 0, 0.0
    with _span(tracer, "llm_queries", WORKLOAD):
        while not ops or busy < ctx.seconds:
            times, results = {}, {}
            t_pass = time.perf_counter()
            with _span(tracer, "queries"):
                for name, fn in qmap.items():
                    attempted += 1
                    t = time.perf_counter()
                    try:
                        with inst.call(f"query.{name}") if inst else nullcontext():
                            df = fn(spark, qdir)
                            results[name] = (df.columns, [tuple(r) for r in df.collect()])
                    except Exception as e:  # keep timing the rest; counted as failed
                        failed += 1
                        errors.append(f"{name}: {type(e).__name__}: {e}")
                    times[name] = time.perf_counter() - t
            dt = time.perf_counter() - t_pass
            busy += dt
            ops.append({"seconds": dt, "query_s": times, "results": results})
    log(ctx, "timed window done")
    for op in ops:
        results = op.pop("results")
        bad = [name for name in results if norm_rows(*results[name]) != oracle[name]]
        failed += len(bad)
        errors += [f"{name}: result differs from the DuckDB oracle" for name in bad]

    layer = {}
    if ctx.trace:
        inst.close()
        tracer.link()
        layer = _query_layers(tracer, ops, ctx.cores)
        layer.update(_query_functions(qdir))
        tracer.dump(os.path.join(inputs.WORK, f"spans_{os.getpid()}.jsonl"))
    return Outcome(setup_s, start_s, ops, attempted, failed, errors, layer)


def _query_layers(tracer: Tracer, ops: list[dict], cores: int) -> dict:
    spans = tracer.spans
    out = {
        f"operators.{name}_s": statistics.median(op["query_s"][name] for op in ops)
        for name in ops[0]["query_s"]
    }
    calls = {i: s for i, s in enumerate(spans) if s.level == CALL}
    for name in SHUFFLE_QUERIES:
        idx = [i for i, s in calls.items() if s.name == f"query.{name}"]
        total = sum(
            st["shuffle_write_bytes"]
            for i in idx for j in tracer.children(i, JOB) for st in j.attrs["stages"]
        )
        out[f"spark.shuffle_bytes.{name}"] = total / max(len(idx), 1)
    op_s = sum(op["seconds"] for op in ops)
    run_s = sum(
        st["run_s"]
        for i in calls for j in tracer.children(i, JOB) for st in j.attrs["stages"]
    )
    out["spark.slot_utilization"] = run_s / (op_s * cores)
    out["trace.op_s"] = op_s / len(ops)
    return out


def _query_functions(qdir: str) -> dict:
    import pandas as pd
    import pyarrow.parquet as pq

    from crawlspark.config import NormalizationFlags
    from crawlspark.functions.multimodal import synthesize_media_blob
    from crawlspark.functions.udfs import canonicalize_series

    ev = pq.read_table(f"{qdir}/events.parquet", columns=["event_id", "user_id"]).to_pydict()
    # the URL shape the flagship and url_canonicalize leaves feed the kernel
    urls = pd.Series([
        f"HTTPS://WWW.Host{u % 50}.Example:443/a/../p{e}.html?b=2&a=1#f"
        for e, u in zip(ev["event_id"], ev["user_id"])
    ])
    ids = pq.read_table(f"{qdir}/documents.parquet", columns=["doc_id"]).column(0).to_pylist()
    flags = NormalizationFlags.all_greedy()
    return {
        "functions.canonicalize_us_per_url": _bench_us(
            lambda s: canonicalize_series(s, flags), urls
        ),
        "functions.media_blob_us_per_blob": _bench_us(
            lambda xs: [synthesize_media_blob(i) for i in xs], ids[:200]
        ),
    }


WORKLOADS = {
    "deep_midfrontier": deep_midfrontier,
    "llm_queries": llm_queries,
}
