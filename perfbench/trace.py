"""Spans and Spark status read from outside the engine.

The traced run records one span per layer boundary, all from the
benchmark's side of the engine's public surface:

level 0  workload
level 1  ``run`` / ``resume`` / query pass
level 2  wave (from ``Extender.on_wave_end``: its end time and wall_ms)
level 3  store call (a wrapped ``StateStore``) or operator call (a
         wrapped public function of ``crawlspark.plans`` /
         ``crawlspark.operators`` / a query leaf)
level 4  Spark job (read from the application status store)

Spans stay in memory and are written out once, at the end.  Parents are
assigned afterwards by time containment; a job whose job group names a
level-3 span belongs to that span, whatever thread submitted it.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from crawlspark.sources.statestore import StateStore

WORKLOAD, PHASE, WAVE, CALL, JOB = range(5)

# public functions whose calls are timed and counted; the engine imports
# the first group at module level and the rest inside ``run``
PLAN_FUNCTIONS = {
    "crawlspark.plans.engine": [
        "admit_candidates", "politeness_schedule", "host_next_free",
        "make_canonicalize_udf", "make_robots_parse_udf", "make_visit_udf",
    ],
    "crawlspark.operators.admission": ["make_canonicalize_udf"],
    "crawlspark.operators.seen": ["build_bloom", "merge_blooms", "bloom_words"],
}


@dataclass
class Span:
    name: str
    level: int
    start: float  # epoch seconds
    end: float
    wave: int | None = None
    parent: int | None = None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Tracer:
    """In-memory span store; thread-safe appends."""

    # a child may start or end this much outside its parent and still
    # count as contained (job times come from the JVM in whole ms)
    SLACK = 0.005

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name: str, level: int, start: float, end: float, **kw) -> Span:
        span = Span(name, level, start, end, **kw)
        with self._lock:
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, level: int, **kw):
        t0 = time.time()
        try:
            yield
        finally:
            self.add(name, level, t0, time.time(), **kw)

    def link(self) -> None:
        """Give every span the shortest enclosing span of a lower level
        as parent; jobs named by a call span's group go to that span."""
        by_group = {
            s.attrs["group"]: i for i, s in enumerate(self.spans) if "group" in s.attrs
        }
        for i, s in enumerate(self.spans):
            owner = by_group.get(s.attrs.get("job_group")) if s.level == JOB else None
            if owner is not None:
                s.parent = owner
            else:
                best = None
                for j, p in enumerate(self.spans):
                    if (
                        p.level < s.level
                        and p.start - self.SLACK <= s.start
                        and s.end <= p.end + self.SLACK
                        and (best is None or p.dur < self.spans[best].dur)
                    ):
                        best = j
                s.parent = best
        for s in sorted(self.spans, key=lambda x: x.level):
            if s.wave is None and s.parent is not None:
                s.wave = self.spans[s.parent].wave

    def self_time(self, i: int) -> float:
        """Duration of span ``i`` minus the part its children cover."""
        s = self.spans[i]
        kids = [(c.start, c.end) for c in self.spans if c.parent == i]
        return s.dur - union_length(clipped(kids, s.start, s.end))

    def children(self, i: int, level: int | None = None) -> list[Span]:
        """Every descendant of span ``i`` (optionally of one level)."""
        out, frontier = [], [i]
        while frontier:
            nxt = [j for j, c in enumerate(self.spans) if c.parent in frontier]
            out.extend(self.spans[j] for j in nxt)
            frontier = nxt
        return [c for c in out if level is None or c.level == level]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                row = asdict(s)
                row["id"] = i
                row["self_s"] = round(self.self_time(i), 6)
                f.write(json.dumps(row) + "\n")


class SparkStatus:
    """Reads finished jobs and their stages from the application status
    store (``SparkContext._jsc.sc().statusStore()``), oldest first, so
    each job is read once, before the retention limit can drop it."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._next = 0
        while self._sc.statusTracker().getJobInfo(self._next) is not None:
            self._next += 1
        self._seen_stages: set[int] = set()

    def _opt(self, opt):
        return opt.get() if opt.isDefined() else None

    def _stage(self, sid: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never attempted
            return None
        if sd.status().toString() == "SKIPPED":
            return None
        return {
            "id": sid,
            "attempt": sd.attemptId(),
            "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "output_bytes": sd.outputBytes(),
        }

    def task_max_over_median(self, stage: dict) -> float | None:
        """max ÷ median task run time of one stage."""
        gw = self._sc._gateway
        qs = gw.new_array(gw.jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        dist = self._opt(self._store.taskSummary(stage["id"], stage["attempt"], qs))
        if dist is None:
            return None
        run = dist.executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else None

    def drain(self, tracer: Tracer) -> None:
        """Add a JOB span for every job that finished since the last call."""
        tracker = self._sc.statusTracker()
        while tracker.getJobInfo(self._next) is not None:
            job = self._store.job(self._next)
            done = self._opt(job.completionTime())
            if done is None:
                return  # still running: read it next time
            stages = []
            for k in range(job.stageIds().size()):
                sid = job.stageIds().apply(k)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                st = self._stage(sid)
                if st is not None:
                    stages.append(st)
            tracer.add(
                job.name(),
                JOB,
                self._opt(job.submissionTime()).getTime() / 1e3,
                done.getTime() / 1e3,
                attrs={
                    "job_id": self._next,
                    "job_group": self._opt(job.jobGroup()),
                    "stages": stages,
                },
            )
            self._next += 1


class Instrument:
    """Installs the traced run's wrappers and removes them on ``close``."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.status = SparkStatus(spark)
        self._patched: list[tuple[object, str, object]] = []
        self._ids = iter(range(1 << 62))

    @contextmanager
    def call(self, name: str, **attrs):
        """A level-3 span whose Spark jobs carry its job group."""
        sc = self.spark.sparkContext
        group = f"{name}#{next(self._ids)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            with self.tracer.span(name, CALL, attrs={"group": group, **attrs}):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def patch_functions(self) -> None:
        for module, names in PLAN_FUNCTIONS.items():
            mod = importlib.import_module(module)
            for name in names:
                orig = getattr(mod, name)
                setattr(mod, name, self._wrapped(orig, f"plan.{name}"))
                self._patched.append((mod, name, orig))

    def _wrapped(self, fn, label: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.call(label):
                return fn(*args, **kwargs)

        return wrapper

    def on_wave_end(self, _engine, summary: dict) -> None:
        end = time.time()
        self.tracer.add(
            f"wave{summary['wave']}",
            WAVE,
            end - summary["wall_ms"] / 1e3,
            end,
            wave=summary["wave"],
            attrs=dict(summary),
        )
        self.status.drain(self.tracer)

    def close(self) -> None:
        self.status.drain(self.tracer)
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()


class TracedStore(StateStore):
    """Wraps the engine's ``StateStore`` (passed as
    ``Options.state_store``): every call becomes a level-3 span."""

    def __init__(self, inner: StateStore, inst: Instrument) -> None:
        self.inner = inner
        self.inst = inst

    def commit(self, df, name, wave):
        with self.inst.call(f"store.commit:{name}", wave=wave):
            return self.inner.commit(df, name, wave)

    def read(self, name, wave):
        with self.inst.call(f"store.read:{name}", wave=wave):
            return self.inner.read(name, wave)

    def rows(self, name, wave):
        with self.inst.call(f"store.rows:{name}", wave=wave):
            return self.inner.rows(name, wave)

    def put_manifest(self, manifest):
        with self.inst.call("store.put_manifest"):
            return self.inner.put_manifest(manifest)

    def get_manifest(self):
        with self.inst.call("store.get_manifest"):
            return self.inner.get_manifest()
