"""The crawl engine — the reference's master loop (crawler.go:61-341)
re-expressed as a driver-side fixpoint loop of DataFrame waves.

One wave (SURVEY §3.1 "Spark lifecycle equivalent"), one stage method
each:

    candidates ∪ injected
      → canonicalize (Arrow UDF) → admission (filters + visited probe)
      → new-host robots fetch + parse → robots gate
      → per-host sequencing + politeness cap → fetch join vs pages
      → HEAD/GET phases → politeness schedule (window cumsum)
      → visit (extract links / visit hook) → harvest
      → next candidates; append seen increment; update host_state
      → commit the wave's state; fold the counters

The loop-carried state is one :class:`WaveState`; it also owns the
durable-state contract (the manifest it writes and its load from a
``StateStore``), so ``resume()`` is "load a WaveState, run the loop".

The loop terminates when the committed candidates and deferred rows
count zero — every commit counts its rows with an observation on its
own job, so this is the reference's exact pending-work refcount
(crawler.go:293-297) at no extra job — or when MaxVisits is reached
(crawler.go:303-309).

Scale design:
- The seen table is APPEND-ONLY: each wave checkpoints only its
  increment (new url_norms); the probe is an equi join against the
  union of increments (on Iceberg: MERGE-free appends + storage
  partitioning on bucket(url_norm); runtime bloom-filter join pruning
  stays enabled in the session).
- Logs (visit/fetch/errors) accumulate as per-wave increments and are
  unioned lazily; ``opts.collect_logs=False`` skips them entirely for
  throughput runs (counters still exact — they come from aggregations).
- Per-wave state (candidates / host_state / seen increment) is
  checkpointed: ``localCheckpoint`` in memory mode, parquet + manifest
  under ``opts.checkpoint_dir`` for the resumable mode (the
  Iceberg-commit analog).
- No global ordering is ever computed unless ``max_visits > 0``
  (exactness needs a linearization; parity crawls are small).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawlspark.config import LogFlags, Options
from crawlspark.functions.udfs import (
    extract_page_udf,
    make_canonicalize_udf,
    make_robots_parse_udf,
    make_visit_udf,
    robots_allowed_udf,
)
from crawlspark.operators import skew
from crawlspark.operators.admission import (
    CANDIDATE_DDL,
    ORD_COLS,
    admit_candidates,
)
from crawlspark.operators.schedule import host_next_free, politeness_schedule
from crawlspark.plans.extender import Counters, Extender
from crawlspark.sources.pages import PagesSource
from crawlspark.sources.seeds import seeds_df, to_seed_rows

SEEN_DDL = "url_norm string, host string, wave_added int"
HOST_STATE_DDL = (
    "host string, rules_json string, robots_delay_ms int, "
    "next_free_ms bigint, last_active_wave int, last_seq bigint, "
    "last_wave_rows bigint"
)
VISIT_LOG_DDL = "url_norm string, host string, wave int, seq bigint, state string"
FETCH_LOG_DDL = (
    "url_norm string, host string, wave int, seq bigint, fetch_rank int, "
    "status int, delay_ms bigint, sched_ms bigint"
)
ERRORS_DDL = "url string, kind string, wave int"

# rows deferred by the per-host politeness budget: post-admission,
# post-robots-gate page rows waiting for a later wave
DEFER_COLS = [
    "url", "url_norm", "host", "path", "src_url_norm", "src_host",
    "state", "head_before_get", "ord_wave", "ord_host", "ord_seq",
    "ord_pos", "robots_delay_ms",
]
DEFER_DDL = (
    "url string, url_norm string, host string, path string, "
    "src_url_norm string, src_host string, state string, "
    "head_before_get boolean, ord_wave int, ord_host string, "
    "ord_seq bigint, ord_pos int, robots_delay_ms int"
)

# Bloom dormancy crossover as a seen/wave RATIO, used when
# Options.bloom_min_seen_rows is -1 (the default): the sidecar engages
# once the counted seen set reaches this multiple of the
# current wave's candidate bound.  The A/B record behind it
# (BENCH_r05/BASELINE.md): at 16M seen vs a 200k-row wave (80×) bloom
# is a tie-to-loss across sessions; at 32M vs 100k (320×) it wins
# decisively (1.94×) — 160× sits between the measured tie and win.
BLOOM_ENGAGE_SEEN_PER_WAVE_RATIO = 160

# fold the pending seen increments into the Bloom bitmaps once they
# reach this many rows (they are probed exactly by broadcast
# meanwhile); 0 derives it from shard capacity: max(100k, capacity / 8).
# Keeps the common wave at zero Bloom-maintenance jobs.
BLOOM_FOLD_MIN_ROWS = 0


def _ok():
    return (
        F.col("status").isNotNull()
        & (F.col("status") >= 200)
        & (F.col("status") < 300)
    )


def _is_visit():
    # a visit is a successful, non-redirected GET
    return (F.col("fetch_rank") == 2) & _ok() & F.col("redirect_to").isNull()


def _union(parts: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, parts)


def _overlap(*calls):
    """Run independent driver calls concurrently (Spark job-level
    parallelism; per-partition cache locks prevent duplicate compute)
    and return their results in order."""
    with ThreadPoolExecutor(len(calls)) as pool:
        futures = [pool.submit(call) for call in calls]
        return [f.result() for f in futures]


@dataclass
class CrawlResult:
    counters: Counters
    err: str | None
    waves: int
    seen: DataFrame
    visit_log: DataFrame
    fetch_log: DataFrame
    errors: DataFrame
    host_state: DataFrame
    wave_metrics: list[dict] = field(default_factory=list)
    n_seeds: int = 0
    n_seed_hosts: int = 0
    # leveled log lines (the logAssert parity surface); populated when
    # opts.log_flags enables levels and no Extender.log hook is set
    log: list[str] = field(default_factory=list)


@dataclass
class WaveState:
    """The state the wave loop carries from one wave to the next, with
    the manifest a wave commit writes and the load that reads it back.
    Row counts are exact: every commit counts the rows it writes."""

    candidates: DataFrame
    cand_rows: int
    seed_hosts: DataFrame | None
    n_seeds: int
    n_seed_hosts: int
    host_state: DataFrame
    # politeness-cap overflow: admitted, gated page rows for a later
    # wave (None = empty).  They are in neither candidates nor
    # re-admittable seen, so they are durable state like candidates.
    deferred: DataFrame | None = None
    deferred_rows: int = 0
    seen_parts: list[DataFrame] = field(default_factory=list)
    seen_snapshot_wave: int | None = None
    seen_rows: int = 0
    # whether run(initial_seen=...) committed a seed-stage seen_inc
    has_initial_seen: bool = False
    # Bloom sidecar: distributed (pid, bitmap) shards, the probe-ready
    # word rows derived from them, and the seen increments committed
    # since the last fold (probed exactly by broadcast meanwhile), so
    # bloom ∪ pending covers the full seen set
    bloom: DataFrame | None = None
    bloom_words: DataFrame | None = None
    bloom_pending_parts: list[DataFrame] = field(default_factory=list)
    bloom_pending_rows: int = 0
    bloom_fold_wave: int = -1
    wave: int = 0
    visits_total: int = 0
    counters: Counters = field(default_factory=Counters)

    def manifest(self) -> dict:
        return {
            "wave": self.wave,
            # resume reads this snapshot plus the later increments
            "seen_snapshot_wave": self.seen_snapshot_wave,
            "seen_rows": self.seen_rows,
            "deferred_rows": self.deferred_rows,
            "has_initial_seen": self.has_initial_seen,
            # None = no shards committed; resume then decides afresh
            "bloom_fold_wave": (
                self.bloom_fold_wave if self.bloom is not None else None
            ),
            "visits_total": self.visits_total,
            "counters": asdict(self.counters),
        }

    @classmethod
    def load(cls, store, use_bloom: bool) -> "WaveState":
        """The state after the last committed wave, read without a Spark
        job.  Seed hosts stay ``None`` when the seed tables are missing;
        any other table without a row count fails the load.  A manifest
        without counts (written before they were recorded) takes them
        from the store's metadata."""

        def rows(name: str, w: int) -> int:
            n = store.rows(name, w)
            if n is None:
                raise ValueError(f"checkpoint table {name} of wave {w} is missing")
            return n

        m = store.get_manifest()
        wave = m["wave"]
        last = wave - 1
        snapw = m.get("seen_snapshot_wave")
        has_initial = m.get("has_initial_seen", False)
        if snapw is not None:
            # the snapshot covers the initial seen set (if any) plus
            # increments 0..snapw
            seen_tables = [("seen_snapshot", snapw)] + [
                ("seen_inc", w) for w in range(snapw + 1, wave)
            ]
        else:
            seen_tables = [("seen_inc", -1)] if has_initial else []
            seen_tables += [("seen_inc", w) for w in range(wave)]
        seen_rows = m.get("seen_rows")
        if seen_rows is None:
            seen_rows = sum(rows(*t) for t in seen_tables)
        host_state = store.read("host_state", last)
        if "last_wave_rows" not in host_state.columns:
            # checkpoints written before the hot-host statistic moved
            # into host_state: the first resumed wave runs unsalted and
            # its commit repopulates the stat
            host_state = host_state.withColumn(
                "last_wave_rows", F.lit(0).cast("bigint")
            )
        deferred_rows = m.get("deferred_rows", 0)
        if deferred_rows is None:
            deferred_rows = rows("deferred", last)
        deferred = (
            store.read("deferred", last) if deferred_rows != 0 else None
        )
        # the shard table is durable state: read the committed fold
        # (MBs) instead of rebuilding it from the seen union; the
        # increments after the fold wave come back as the pending set
        bloom, pending, pending_rows = None, [], 0
        fold_wave = m.get("bloom_fold_wave")
        if use_bloom and fold_wave is not None:
            bloom = store.read("bloom", fold_wave)
            for w in range(fold_wave + 1, wave):
                pending.append(store.read("seen_inc", w))
                pending_rows += rows("seen_inc", w)
        n_seeds = store.rows("seed_candidates", -1)
        n_seed_hosts = store.rows("seed_hosts", -1)
        has_seed = n_seeds is not None and n_seed_hosts is not None
        return cls(
            candidates=store.read("candidates", last),
            cand_rows=rows("candidates", last),
            seed_hosts=store.read("seed_hosts", -1) if has_seed else None,
            n_seeds=n_seeds or 0,
            n_seed_hosts=n_seed_hosts or 0,
            host_state=host_state,
            deferred=deferred,
            deferred_rows=deferred_rows,
            seen_parts=[store.read(*t) for t in seen_tables],
            seen_snapshot_wave=snapw,
            seen_rows=seen_rows,
            has_initial_seen=has_initial,
            bloom=bloom,
            bloom_pending_parts=pending,
            bloom_pending_rows=pending_rows,
            bloom_fold_wave=fold_wave if bloom is not None else -1,
            wave=wave,
            visits_total=m["visits_total"],
            counters=Counters(**m["counters"]),
        )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: PagesSource | DataFrame,
        opts: Options | None = None,
        extender: Extender | None = None,
    ):
        self.spark = spark
        self.pages = pages if isinstance(pages, PagesSource) else PagesSource(pages)
        self.opts = opts or Options()
        self.ext = extender or Extender()
        self._pending: list[tuple[str, str | None]] = []
        self._robots_parse = make_robots_parse_udf(self.opts.robot_user_agent)
        self._log_lines: list[str] = []
        self._log_parts: dict[str, list[DataFrame]] = {}
        # durable-state seam (sources/statestore.py): parquet analog in
        # this sandbox, IcebergStateStore on a cluster with a catalog
        self._store = self.opts.state_store
        if self._store is None and self.opts.checkpoint_dir:
            from crawlspark.sources.statestore import ParquetStateStore

            self._store = ParquetStateStore(spark, self.opts.checkpoint_dir)

    def _log(self, min_level: int, msg: str) -> None:
        """Leveled log emission (getLogFunc analog, logger.go:21-29):
        the Extender.log hook sees every line with the configured
        verbosity; the default sink buffers enabled lines."""
        if self.ext.log is not None:
            self.ext.log(self.opts.log_flags, min_level, msg)
        elif self.opts.log_flags & min_level:
            self._log_lines.append(msg)

    def _log_enabled(self, level: int) -> bool:
        """Whether level's lines must be PRODUCED: a custom hook sees
        every line regardless of verbosity (getLogFunc always forwards,
        logger.go:21-29; DefaultExtender filters, ext.go:100-104)."""
        return self.ext.log is not None or bool(self.opts.log_flags & level)

    @staticmethod
    def _fmt_delay(ms: int) -> str:
        """Go time.Duration %v formatting for whole milliseconds
        ("200ms", "17ms", "5s", "1.5s") — the logAssert substrings."""
        return f"{ms / 1000:g}s" if ms >= 1000 else f"{ms}ms"

    def _keep_log(self, kind: str, df: DataFrame) -> None:
        self._log_parts[kind].append(df.localCheckpoint(eager=True))

    def _log_frame(self, kind: str, ddl: str) -> DataFrame:
        parts = self._log_parts[kind]
        return _union(parts) if parts else self._empty(ddl)

    # -- EnqueueChan analog (crawler.go:320-324): picked up next wave,
    # sourceless (same-host policy checks seed hosts, crawler.go:192-194)
    def enqueue(self, seeds) -> None:
        self._pending.extend(to_seed_rows(seeds))

    def _empty(self, ddl: str) -> DataFrame:
        return self.spark.createDataFrame([], schema=ddl)

    def _bloom_dormant(self, st: WaveState) -> bool:
        """Whether the Bloom sidecar stays dormant at this seen size.

        opts.bloom_min_seen_rows: -1 (default) → the measured-crossover
        RATIO gate (engage at ratio × the current wave's candidate
        bound); 0 → always engage; >0 → absolute row threshold."""
        gate = self.opts.bloom_min_seen_rows
        if gate < 0:
            # empty next frontier: nothing will probe the filter, so a
            # build pass now is a pure loss
            gate = (
                BLOOM_ENGAGE_SEEN_PER_WAVE_RATIO * st.cand_rows
                if st.cand_rows
                else 1 << 62
            )
        return st.seen_rows < gate

    def _ckpt(self, df: DataFrame, name: str, wave: int) -> tuple[DataFrame, int]:
        """Commit one state table: (frame backed by the committed rows,
        row count).  The count is an observation on the commit's own
        job, so it costs no extra job in either mode."""
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        # seed-stage state (wave < 0) lives under seed/, outside the
        # wave=* namespace: every wave=* dir carries a metrics table
        # (per-partition lineage contract), which seed setup has none of
        if self._store is not None:
            out = self._store.commit(df, name, wave)
        else:
            out = df.localCheckpoint(eager=True)
        return out, obs.get["rows"]

    def _seed_candidates(self, seeds) -> DataFrame:
        rows = [
            (url, None, None, state, None, 0, "", i, 0)
            for i, (url, state) in enumerate(to_seed_rows(seeds))
        ]
        return self.spark.createDataFrame(rows, schema=CANDIDATE_DDL)

    def _seed_hosts_df(self, cand: DataFrame) -> DataFrame:
        """Seed hosts (crawler.go:80-86): normalized hosts of ALL seeds,
        before any policy filtering.  The canonicalize instance is the
        nondeterministic one: with the deterministic UDF Catalyst pushes
        the host filter below the projection and evaluates the UDF twice
        over every seed."""
        canon = make_canonicalize_udf(
            self.opts.url_normalization_flags, deterministic=False
        )
        return (
            cand.withColumn("_c", canon(F.col("url")))
            .select(F.col("_c.host").alias("seed_host"))
            .filter(
                F.col("seed_host").isNotNull() & (F.col("seed_host") != "")
            )
            .distinct()
        )

    def _seed_stage(self, seeds) -> tuple[DataFrame, DataFrame, int, int]:
        """Build and commit the seed-stage state: (candidates, seed
        hosts, seed count, seed-host count)."""
        if not isinstance(seeds, DataFrame):
            # a seed list's candidates are driver-local rows, so both
            # seed commits evaluate identical rows: overlap them
            cand = self._seed_candidates(seeds)
            (cand, n_seeds), (hosts, n_hosts) = _overlap(
                lambda: self._ckpt(cand, "seed_candidates", -1),
                lambda: self._ckpt(self._seed_hosts_df(cand), "seed_hosts", -1),
            )
            return cand, hosts, n_seeds, n_hosts
        # a DataFrame seed set has no inherent order (a reference seed
        # LIST keeps list order above).  ord_seq must only be a
        # DETERMINISTIC total order so "same seed set → same crawl
        # ordering" holds (north rule) — xxhash64(url) is a pure per-row
        # function: no global sort, no window, no shuffle.
        cand = seeds_df(self.spark, seeds).select(
            "url",
            F.lit(None).cast("string").alias("src_url_norm"),
            F.lit(None).cast("string").alias("src_host"),
            "state",
            F.lit(None).cast("boolean").alias("head_before_get"),
            F.lit(0).alias("ord_wave"),
            F.lit("").alias("ord_host"),
            F.xxhash64(F.col("url")).alias("ord_seq"),
            F.lit(0).alias("ord_pos"),
        )
        # a user-supplied seeds DataFrame may be nondeterministic
        # (sample(), limit() over an unordered source, a changing
        # snapshot): evaluating it twice could commit a seed_hosts table
        # missing a host that seed_candidates contains, silently
        # dropping that host's subtree under same_host_only — so the
        # seed hosts come from the COMMITTED candidates
        cand, n_seeds = self._ckpt(cand, "seed_candidates", -1)
        hosts, n_hosts = self._ckpt(self._seed_hosts_df(cand), "seed_hosts", -1)
        return cand, hosts, n_seeds, n_hosts

    def _start(self, seeds):
        """Fresh per-run driver state and the Start hook."""
        self._pending = []  # fresh run = fresh state (complex_test.go:101-133)
        self._log_lines = []
        self._log_parts = {"visit": [], "fetch": [], "errors": []}
        if self.ext.start is not None:
            seeds = self.ext.start(seeds)
        return seeds

    def resume(self, seeds) -> CrawlResult:
        """Resume a crawl mid-frontier from ``opts.checkpoint_dir`` (or
        ``opts.state_store``).

        Every wave commits its tables and a manifest; resume loads the
        :class:`WaveState` of the last committed wave and continues the
        fixpoint loop — the Iceberg snapshot-rollback analog.  Loading
        is pure: the seed hosts and seed counts come from the seed-stage
        commit, every table is read back through the store
        (schema-pinned readers on the parquet store), committed Bloom
        shards are read rather than rebuilt, and a still-dormant Bloom
        sidecar stays dormant, so no Spark job runs before the first
        resumed wave.  ``seeds`` only reaches ``Extender.start``, and is
        canonicalized again solely for checkpoints that lack the seed
        tables — pass the original list.
        """
        if self._store is None:
            raise ValueError(
                "resume requires opts.checkpoint_dir or opts.state_store"
            )
        seeds = self._start(seeds)
        st = WaveState.load(self._store, self.opts.use_bloom_seen)
        if st.seed_hosts is None:
            _, st.seed_hosts, st.n_seeds, st.n_seed_hosts = self._seed_stage(
                seeds
            )
        return self._crawl(st)

    def run(
        self,
        seeds,
        initial_seen: DataFrame | None = None,
        initial_bloom: DataFrame | None = None,
    ) -> CrawlResult:
        """``initial_seen``: pre-populated URL-seen table (url_norm,
        host, wave_added) — the mid-frontier shape where the seen set
        dwarfs each wave (a fresh run otherwise starts empty).  The
        Bloom sidecar, when enabled, is seeded from it like any other
        seen state.

        ``initial_bloom``: prebuilt ``(pid, bitmap)`` shard table
        covering ``initial_seen`` (built with the same
        ``bloom_partitions`` / ``bloom_expected_per_partition`` /
        ``bloom_fpp`` as ``opts``).  Skips the run-start build pass —
        the faithful mid-frontier shape, where the filter is durable
        state maintained incrementally across waves, not rebuilt from
        the (huge) seen table at every process start.  A missing URL
        would be a false-negative hole the exact join never repairs."""
        seeds = self._start(seeds)
        # commit the pre-populated seen set as seed-stage state so
        # resume() reconstructs it; the commit (10^7+ rows in
        # mid-frontier mode) is independent of the seed tables, so it
        # overlaps them
        seed_state, (seen, seen_rows) = _overlap(
            lambda: self._seed_stage(seeds),
            lambda: (
                (self._empty(SEEN_DDL), 0)
                if initial_seen is None
                else self._ckpt(initial_seen, "seen_inc", -1)
            ),
        )
        candidates, seed_hosts, n_seeds, n_seed_hosts = seed_state
        st = WaveState(
            candidates=candidates,
            cand_rows=n_seeds,
            seed_hosts=seed_hosts,
            n_seeds=n_seeds,
            n_seed_hosts=n_seed_hosts,
            host_state=self._empty(HOST_STATE_DDL),
            seen_parts=[seen],
            seen_rows=seen_rows,
            has_initial_seen=initial_seen is not None,
            counters=Counters(start=int(self.ext.start is not None)),
        )
        if self.opts.use_bloom_seen and initial_bloom is not None:
            st.bloom, _ = self._ckpt(initial_bloom, "bloom", -1)
        return self._crawl(st)

    # ------------------------------------------------------------------
    # the wave loop
    # ------------------------------------------------------------------

    def _crawl(self, st: WaveState) -> CrawlResult:
        opts, ext = self.opts, self.ext
        # init trace lines (crawler.go:90-91)
        self._log(LogFlags.TRACE, f"init() - seeds length: {st.n_seeds}")
        self._log(LogFlags.TRACE, f"init() - host count: {st.n_seed_hosts}")
        if opts.use_bloom_seen and st.bloom is None and not self._bloom_dormant(st):
            # seed the sidecar from the CURRENT seen set: shards missing
            # already-seen URLs would be a false-negative hole the exact
            # join never gets to repair
            self._build_bloom(st, _union(st.seen_parts), -1)
        robots_cache = None
        if ext.request_robots:
            robots_cache = self.spark.createDataFrame(
                [(h, bytes(b)) for h, b in ext.request_robots.items()],
                schema="host string, cached_body binary",
            )
        err: str | None = None
        wave_metrics: list[dict] = []
        while st.wave < opts.max_waves:
            t0 = time.perf_counter()
            if st.cand_rows == 0 and st.deferred_rows == 0:
                break
            wave_metrics.append(self._wave(st, robots_cache, t0))
            # reaching MaxVisits discards the limiting visit's harvest
            # (crawler.go:300-309: stop fires before enqueueUrls)
            if opts.max_visits > 0 and st.visits_total >= opts.max_visits:
                err = "max_visits"
                break

        st.counters.end = 1
        if ext.end is not None:
            ext.end(err)
        if st.bloom_words is not None:
            st.bloom_words.unpersist()
        return CrawlResult(
            counters=st.counters,
            err=err,
            waves=st.wave,
            seen=_union(st.seen_parts),
            visit_log=self._log_frame("visit", VISIT_LOG_DDL),
            fetch_log=self._log_frame("fetch", FETCH_LOG_DDL),
            errors=self._log_frame("errors", ERRORS_DDL),
            host_state=st.host_state,
            wave_metrics=wave_metrics,
            n_seeds=st.n_seeds,
            n_seed_hosts=st.n_seed_hosts,
            log=self._log_lines,
        )

    def _wave(self, st: WaveState, robots_cache, t0: float) -> dict:
        """One wave.  Every stage up to the commit only builds (and
        lazily persists) plans: the wave materializes as ONE Spark job
        at the candidates commit, and the remaining commits scan the
        warm caches."""
        opts, ext = self.opts, self.ext
        wave = st.wave
        pins: list[DataFrame] = []

        def pin(d: DataFrame) -> DataFrame:
            d = d.persist()
            pins.append(d)
            return d

        adm = self._admit(st, pin)
        admitted = adm.filter(F.col("admitted"))
        active_hosts, parsed = self._robots(st, adm, admitted, robots_cache)
        gated = self._gate(st, admitted, parsed)
        page_rows, precap, deferred_new, hot_hosts = self._sequence(
            st, gated, pin
        )
        phased = self._fetch(st, page_rows)
        if opts.collect_logs:
            self._keep_log(
                "errors",
                phased.filter(F.col("status").isNull()).select(
                    F.col("url_norm").alias("url"),
                    F.lit("fetch").alias("kind"),
                    F.lit(wave).alias("wave"),
                ),
            )
        scheduled = self._schedule(st, phased, parsed, hot_hosts)
        if opts.collect_logs:
            scheduled = pin(scheduled)
            self._keep_log(
                "fetch",
                scheduled.select(
                    "url_norm", "host", F.lit(wave).alias("wave"), "seq",
                    "fetch_rank", "status", "delay_ms", "sched_ms",
                ),
            )
        next_candidates = self._visit_harvest(st, phased)
        # seen is append-only: the increment is this wave's first-time
        # admissions (mark-at-stack-time, crawler.go:263-269)
        seen_inc = (
            admitted.filter(~F.col("is_visited"))
            .select("url_norm", "host", F.lit(wave).alias("wave_added"))
            .dropDuplicates(["url_norm"])
        )
        host_state = self._next_host_state(
            st, parsed, host_next_free(scheduled), precap, active_hosts
        )
        stats, (seen_inc, inc_rows) = self._commit(
            st, adm, gated, phased, parsed,
            next_candidates, seen_inc, host_state, deferred_new,
        )
        self._advance_seen(st, seen_inc, inc_rows)
        counts = self._settle(st, stats, adm, parsed, scheduled)

        summary = {
            "wave": wave,
            "wall_ms": int((time.perf_counter() - t0) * 1000),
            **counts,
            "visits_total": int(st.visits_total),
        }
        if ext.on_wave_end is not None:
            ext.on_wave_end(self, summary)

        # injected rows arrive after the candidates checkpoint; union
        # the (small) increment lazily — the EnqueueChan analog
        if self._pending:
            injected = self.spark.createDataFrame(
                [
                    (u, None, None, s, None, wave + 1, "￿", i, 0)
                    for i, (u, s) in enumerate(self._pending)
                ],
                schema=CANDIDATE_DDL,
            ).localCheckpoint(eager=True)
            st.candidates = st.candidates.unionByName(injected)
            st.cand_rows += len(self._pending)
            self._pending = []

        st.wave += 1
        if self._store is not None:
            self._store.put_manifest(st.manifest())
        for d in (adm, gated, phased, parsed, *pins):
            d.unpersist()
        return summary

    def _admit(self, st: WaveState, pin) -> DataFrame:
        """Canonicalize + admission verdicts for the wave's candidates."""
        # The round-robin repartition matters: AQE coalesces post-shuffle
        # partitions by COMPRESSED bytes, and URL rows compress so well
        # that a multi-100k-row admission output lands on 1-4 partitions
        # — which would make every downstream Python-UDF stage (robots
        # gate) and window near-serial no matter how many cores the
        # cluster has.  Exactly ×1: a 2× fan-out measured strictly slower
        # at every level (stage-grid A/B in BASELINE.md).
        opts = self.opts
        if st.bloom is not None and st.bloom_words is None:
            from crawlspark.operators.seen import bloom_words

            # probe-ready word rows, converted ONCE per (re)build and
            # persisted: the per-wave probe then only pays a few-MB
            # broadcast of cached rows, not a conversion job on an
            # unchanged filter
            st.bloom_words = bloom_words(st.bloom).persist()
        return admit_candidates(
            st.candidates, _union(st.seen_parts), st.seed_hosts, opts,
            self.ext.filter_factory,
            bloom_df=st.bloom,
            bloom_words=st.bloom_words,
            bloom_pending=(
                _union(st.bloom_pending_parts)
                if st.bloom_pending_parts
                else None
            ),
            pin=pin,
            rows_bound=st.cand_rows,
        ).repartition(self.spark.sparkContext.defaultParallelism).persist()

    def _robots(
        self, st: WaveState, adm: DataFrame, admitted: DataFrame, robots_cache
    ) -> tuple[DataFrame, DataFrame]:
        """New-host robots.txt fetch + parse: (active hosts, parsed
        robots rows)."""
        active_hosts = (
            admitted.select("host")
            .union(adm.filter(F.col("robots_bypass")).select("host"))
            .distinct()
        )
        new_hosts = active_hosts.join(
            st.host_state.select("host"), on="host", how="left_anti"
        )
        if robots_cache is not None:
            new_hosts = new_hosts.join(
                F.broadcast(robots_cache), on="host", how="left"
            )
        else:
            new_hosts = new_hosts.withColumn(
                "cached_body", F.lit(None).cast("binary")
            )
        rob = new_hosts.withColumn(
            "url_norm",
            F.concat(F.lit("http://"), F.col("host"), F.lit("/robots.txt")),
        )
        rob_fetched = self.pages.fetch_robots(
            rob.filter(F.col("cached_body").isNull()), url_col="url_norm"
        ).select("host", "url_norm", "status", "html", F.lit(False).alias("cached"))
        rob_all = rob_fetched.unionByName(
            rob.filter(F.col("cached_body").isNotNull()).select(
                "host",
                "url_norm",
                F.lit(200).alias("status"),
                F.col("cached_body").alias("html"),
                F.lit(True).alias("cached"),
            )
        )
        # fan the parse input out: new-host rows compress to ~nothing,
        # so AQE would coalesce them onto 1-2 partitions and the
        # robots-parse pandas UDF (the seed wave parses one robots.txt
        # per host) would run serially no matter the cluster size
        rob_all = rob_all.repartition(
            self.spark.sparkContext.defaultParallelism, "host"
        )
        parsed = rob_all.withColumn(
            "_r",
            self._robots_parse(
                F.coalesce(F.col("status"), F.lit(404)), F.col("html")
            ),
        ).select(
            "host",
            "url_norm",
            "status",
            "cached",
            F.col("_r.rules_json").alias("rules_json"),
            F.col("_r.crawl_delay_ms").alias("robots_delay_ms"),
        )
        return active_hosts, parsed.persist()

    def _gate(
        self, st: WaveState, admitted: DataFrame, parsed: DataFrame
    ) -> DataFrame:
        """Robots gate before fetch (worker.go:85-91).  Only the
        admitted rows: a pandas UDF inside when() is still evaluated
        over every input row (Catalyst hoists it to an ArrowEvalPython
        node before the projection)."""
        rules = st.host_state.select(
            "host", "rules_json", "robots_delay_ms"
        ).unionByName(parsed.select("host", "rules_json", "robots_delay_ms"))
        return (
            admitted.join(rules, on="host", how="left")
            .withColumn(
                "robots_allowed",
                F.when(F.col("rules_json").isNull(), F.lit(True)).otherwise(
                    robots_allowed_udf(F.col("rules_json"), F.col("path"))
                ),
            )
            .persist()
        )

    def _hot_hosts(self, st: WaveState) -> list:
        """Hosts whose window groups take the salted sequencing path."""
        # A host is "hot" RELATIVE to the wave: one task's fair share is
        # upper/parallelism rows, and a window group beyond that share
        # dominates the stage tail.  Clamp: never below 50k rows (a sort
        # one task does in milliseconds), never above the absolute
        # threshold skew.SALT_THRESHOLD_ROWS (the OOM guard).  When the
        # committed counts bound the wave below the threshold, no job
        # runs.
        #
        # The list comes from the PREVIOUS wave's per-host batch sizes
        # (host_state.last_wave_rows, the pre-cap window-group size): a
        # heuristic the salted path makes safe, because results are
        # bit-identical for ANY host list (tests/test_skew.py).  The
        # filter+collect scans only the checkpoint-backed host_state.  A
        # host turning hot WITHIN a wave sorts in one task for that wave
        # (slow tail, not wrong), then salts from the next wave on.
        upper = st.cand_rows + st.deferred_rows
        # the politeness schedule windows over HEAD+GET-EXPLODED rows
        # (up to 2x the counts here), so when a HEAD phase is possible
        # the absolute guard applies at half its value (floor 1)
        head_possible = self.opts.head_before_get or self.ext.head_factory is not None
        thresh = max(1, skew.SALT_THRESHOLD_ROWS // (2 if head_possible else 1))
        par = self.spark.sparkContext.defaultParallelism
        thresh = min(thresh, max(50_000, upper // par))
        if upper < thresh:
            return []
        return [
            r[0]
            for r in st.host_state.filter(F.col("last_wave_rows") >= thresh)
            .select("host")
            .collect()
        ]

    def _sequence(self, st: WaveState, gated: DataFrame, pin):
        """Per-host sequencing and the politeness cap: (page rows to
        fetch, pre-cap rows with ``_rn_host``, deferred overflow or
        None, hot hosts)."""
        opts, ext = self.opts, self.ext
        page_base = gated.filter(F.col("robots_allowed")).select(*DEFER_COLS)
        if st.deferred is not None:
            page_base = page_base.unionByName(st.deferred)
        page_rows = page_base.join(
            st.host_state.select("host", "next_free_ms", "last_seq"),
            on="host",
            how="left",
        )
        head_override = (
            ext.head_factory(page_rows)
            if ext.head_factory is not None
            else F.lit(None).cast("boolean")
        )
        page_rows = page_rows.withColumn(
            "is_head",
            F.coalesce(
                head_override,
                F.col("head_before_get"),
                F.lit(opts.head_before_get),
            ),
        )
        # url_norm as final tie-break: ord_seq is xxhash64 for DataFrame
        # seeds, so a 64-bit collision between two same-host seeds must
        # still order deterministically
        order = ORD_COLS + ["url_norm"]
        # salted-key skew mitigation (SURVEY §4 P11) for the hot hosts,
        # the plain host window for the rest: FIFO order is preserved
        # exactly (range buckets are monotone in the ordering tuple);
        # the politeness schedule salts the same hosts
        hot_hosts = self._hot_hosts(st)
        page_rows = skew.host_seq(
            page_rows, order, hot_hosts=hot_hosts, seq_col="_rn_host"
        )
        page_rows = page_rows.withColumn(
            "seq", F.coalesce(F.col("last_seq"), F.lit(0)) + F.col("_rn_host")
        )

        # politeness budget / hot-host backpressure: cap each host's
        # wave batch; overflow defers to the next wave WITHOUT
        # re-admission (already counted, already in seen).
        cap = opts.max_urls_per_host_per_wave
        if cap <= 0:
            return page_rows.drop("_rn_host"), page_rows, None, hot_hosts
        # three consumers read this window output — the fetch path, the
        # wave-end deferred commit and the host_state agg — so pin it
        # once instead of re-running the wave's biggest sort per consumer
        precap = pin(page_rows)
        # the deferred rows are committed at the wave-end burst, not
        # here: a mid-wave commit would force the admission/gate caches
        # to materialize in an extra serial job before the wave's main
        # traversal
        deferred_new = precap.filter(F.col("_rn_host") > cap).select(*DEFER_COLS)
        page_rows = precap.filter(F.col("_rn_host") <= cap).drop("_rn_host")
        return page_rows, precap, deferred_new, hot_hosts

    def _fetch(self, st: WaveState, page_rows: DataFrame) -> DataFrame:
        """Fetch join, fetch hooks and the HEAD/GET phase explode (one
        row per request, ``fetch_rank`` 1 = HEAD, 2 = GET); persisted."""
        opts, ext = self.opts, self.ext
        fetched = self.pages.fetch(page_rows, url_col="url")
        # per-fetch hook (ext.go:45 Fetch): a column-level transform
        # over the fetched rows — rewrite status/html/redirect_to by
        # URL pattern (custom-fetcher test shape) without swapping
        # the PagesSource
        if ext.fetch_transform is not None:
            fetched = ext.fetch_transform(fetched)
        gate = ext.request_get(fetched) if ext.request_get is not None else _ok()
        phases = (
            F.when(~F.col("is_head"), F.array(F.lit(2)))
            .when(F.col("status").isNull(), F.array(F.lit(1)))
            .when(gate, F.array(F.lit(1), F.lit(2)))
            .otherwise(F.array(F.lit(1)))
        )
        phased = fetched.withColumn("fetch_rank", F.explode(phases))
        if opts.max_visits > 0:
            # MaxVisits: exact truncation over the deterministic global
            # order, via the two-phase range-bucket cumsum (skew.py) —
            # no partition-less window.  No "did we drop anything" probe:
            # truncation at all makes the post-filter visit count exactly
            # `remaining`, so the wave-end max_visits check stops the crawl
            phased = skew.global_cumsum_skewproof(
                phased.withColumn("_isv", _is_visit().cast("int")),
                "_isv",
                ORD_COLS + ["url_norm", "fetch_rank"],
                out_col="_cum_visits_excl",
            ).drop("_isv")
            remaining = opts.max_visits - st.visits_total
            phased = phased.filter(
                F.col("_cum_visits_excl") < remaining
            ).drop("_cum_visits_excl")
        return phased.persist()

    def _schedule(
        self, st: WaveState, phased: DataFrame, parsed: DataFrame, hot_hosts
    ) -> DataFrame:
        """Politeness schedule in virtual time over the wave's requests,
        robots fetches included."""
        sched_in = phased.select(
            "url_norm", "host", "seq", "fetch_rank", "status",
            "robots_delay_ms", "next_free_ms", *ORD_COLS,
        ).unionByName(
            parsed.filter(~F.col("cached"))
            .join(
                st.host_state.select(
                    "host", F.col("next_free_ms").alias("_nf")
                ),
                on="host",
                how="left",
            )
            .select(
                "url_norm",
                "host",
                F.lit(0).cast("bigint").alias("seq"),
                F.lit(0).alias("fetch_rank"),
                "status",
                # the robots fetch is scheduled before the crawl-delay
                # is known → options delay (worker.go:190-204)
                F.lit(None).cast("int").alias("robots_delay_ms"),
                F.col("_nf").alias("next_free_ms"),
                F.lit(st.wave).alias("ord_wave"),
                F.lit("").alias("ord_host"),
                F.lit(-1).cast("bigint").alias("ord_seq"),
                F.lit(0).alias("ord_pos"),
            )
        )
        return politeness_schedule(
            sched_in, self.opts, self.ext.compute_delay, hot_hosts=hot_hosts
        )

    def _visit_harvest(self, st: WaveState, phased: DataFrame) -> DataFrame:
        """Visits (fused text + link extraction, one HTML parse per
        page) and the next wave's candidates: harvested links plus
        redirect clones."""
        ext, wave = self.ext, st.wave
        visits = phased.filter(_is_visit()).withColumn(
            "_page", extract_page_udf(F.col("html"), F.col("url"))
        )
        visits = visits.withColumn("text", F.col("_page.text"))
        if self.opts.collect_logs:
            self._keep_log(
                "visit",
                visits.select(
                    "url_norm", "host", F.lit(wave).alias("wave"), "seq", "state"
                ),
            )
        if ext.visit_fn is not None:
            vudf = make_visit_udf(ext.visit_fn)
            visits = visits.withColumn(
                "_vh",
                vudf(
                    F.col("url_norm"), F.col("src_url_norm"),
                    F.col("html"), F.col("text"),
                ),
            )
        else:
            visits = visits.withColumn(
                "_vh",
                F.lit(None).cast("array<struct<url:string,state:string>>"),
            )
        visits = visits.withColumn(
            "_harvest",
            F.coalesce(
                F.col("_vh"),
                F.transform(
                    F.col("_page.links"),
                    lambda u: F.struct(
                        u.alias("url"), F.lit(None).cast("string").alias("state")
                    ),
                ),
            ),
        )
        harvested = (
            visits.select(
                F.col("url_norm").alias("_src_norm"),
                F.col("host").alias("_src_host"),
                F.col("seq").alias("_src_seq"),
                F.posexplode_outer(F.col("_harvest")).alias("pos", "h"),
            )
            .filter(F.col("h").isNotNull())
            .select(
                F.col("h.url").alias("url"),
                F.col("_src_norm").alias("src_url_norm"),
                F.col("_src_host").alias("src_host"),
                F.col("h.state").alias("state"),
                F.lit(None).cast("boolean").alias("head_before_get"),
                F.lit(wave + 1).alias("ord_wave"),
                F.col("_src_host").alias("ord_host"),
                F.col("_src_seq").alias("ord_seq"),
                F.col("pos").alias("ord_pos"),
            )
        )
        # redirect clones keep source/state/head flag; a redirected
        # seed uses its own URL as the clone's source
        # (worker.go:229-248, urlcontext.go:65-98)
        redirect_cands = phased.filter(
            F.col("redirect_to").isNotNull() & (F.col("fetch_rank") == 2)
        ).select(
            F.col("redirect_to").alias("url"),
            F.coalesce(F.col("src_url_norm"), F.col("url_norm")).alias(
                "src_url_norm"
            ),
            F.coalesce(F.col("src_host"), F.col("host")).alias("src_host"),
            "state",
            "head_before_get",
            F.lit(wave + 1).alias("ord_wave"),
            F.col("host").alias("ord_host"),
            F.col("seq").alias("ord_seq"),
            F.lit(-1).alias("ord_pos"),
        )
        return harvested.unionByName(redirect_cands)

    def _next_host_state(
        self,
        st: WaveState,
        parsed: DataFrame,
        next_free: DataFrame,
        precap: DataFrame,
        active_hosts: DataFrame,
    ) -> DataFrame:
        """host_state after this wave: new hosts' robots rules, the
        politeness high-water mark, per-host sequence and batch size,
        activity and idle eviction."""
        opts, wave = self.opts, st.wave
        active = active_hosts.withColumn("_active", F.lit(True))
        # one agg, two stats: the dispatched-sequence high-water mark
        # (post-cap — deferred rows re-sequence next wave) and the
        # pre-cap window-group size (next wave's hot-host statistic)
        cap = opts.max_urls_per_host_per_wave
        last_seq_upd = precap.groupBy("host").agg(
            F.max(
                F.when(F.col("_rn_host") <= cap, F.col("seq"))
                if cap > 0
                else F.col("seq")
            ).alias("_new_seq"),
            F.max("_rn_host").alias("_wave_rows"),
        )
        host_state = (
            st.host_state.unionByName(
                parsed.select(
                    "host", "rules_json", "robots_delay_ms",
                    F.lit(None).cast("bigint").alias("next_free_ms"),
                    F.lit(wave).alias("last_active_wave"),
                    F.lit(0).cast("bigint").alias("last_seq"),
                    F.lit(0).cast("bigint").alias("last_wave_rows"),
                )
            )
            .join(
                next_free.select("host", F.col("next_free_ms").alias("_nf2")),
                on="host",
                how="left",
            )
            .join(last_seq_upd, on="host", how="left")
            .join(F.broadcast(active), on="host", how="left")
            .select(
                "host",
                "rules_json",
                "robots_delay_ms",
                F.coalesce(F.col("_nf2"), F.col("next_free_ms")).alias(
                    "next_free_ms"
                ),
                F.when(F.col("_active"), F.lit(wave))
                .otherwise(F.col("last_active_wave"))
                .alias("last_active_wave"),
                F.coalesce(F.col("_new_seq"), F.col("last_seq")).alias("last_seq"),
                # reset when the host had no page rows this wave: a
                # host with zero pending backlog must not stay
                # "hot" forever on a stale statistic
                F.coalesce(F.col("_wave_rows"), F.lit(0))
                .cast("bigint")
                .alias("last_wave_rows"),
            )
        )
        if opts.worker_idle_ttl_waves <= 0:
            return host_state
        # worker idle TTL (worker.go:57-74): evict hosts idle too long;
        # robots re-fetched if the host reappears
        ttl_pred = F.col("last_active_wave") >= wave - opts.worker_idle_ttl_waves
        if self._log_enabled(LogFlags.INFO):
            for r in host_state.filter(~ttl_pred).select("host").collect():
                self._log(
                    LogFlags.INFO,
                    f"worker for host {r['host']} cleared on idle policy",
                )
        return host_state.filter(ttl_pred)

    @staticmethod
    def _wave_stats(
        adm: DataFrame, gated: DataFrame, phased: DataFrame, parsed: DataFrame
    ) -> DataFrame:
        """Every wave counter from ONE combined aggregation over the
        wave's caches: one row per source, each counter named once."""
        aggs = [
            (adm, [
                F.sum(F.col("counts_filter").cast("int")).alias("n_filter"),
                F.sum(F.col("admitted").cast("int")).alias("n_admitted"),
                F.sum(F.col("robots_bypass").cast("int")).alias("n_bypass"),
            ]),
            (gated, [
                F.sum((~F.col("robots_allowed")).cast("int")).alias("n_disallowed"),
            ]),
            (phased, [
                F.count(F.lit(1)).alias("n_fetch"),
                F.sum(
                    ((F.col("fetch_rank") == 1) & F.col("status").isNotNull())
                    .cast("int")
                ).alias("n_request_get"),
                F.sum(_is_visit().cast("int")).alias("n_visits"),
                F.sum(F.col("status").isNull().cast("int")).alias("n_fetch_err"),
            ]),
            (parsed, [
                F.count(F.lit(1)).alias("n_hosts"),
                F.sum((~F.col("cached")).cast("int")).alias("n_rob_fetched"),
                F.sum(
                    (~F.col("cached") & F.col("status").isNull()).cast("int")
                ).alias("n_rob_miss"),
            ]),
        ]
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [df.agg(*cols) for df, cols in aggs],
        )

    def _commit_lineage(self, adm: DataFrame, phased: DataFrame, wave: int) -> None:
        """Per-partition lineage metrics (FIXTURES.md §2 metrics table),
        committed with every wave in checkpoint mode so a resumed crawl
        can audit exactly which partition produced what."""

        def per_partition(df: DataFrame, stage: str, passed) -> DataFrame:
            return df.groupBy(
                F.spark_partition_id().alias("partition_id")
            ).agg(
                F.count(F.lit(1)).alias("count"),
                F.sum(passed.cast("long")).alias("passed"),
            ).select(
                F.lit(wave).alias("wave"),
                F.lit(stage).alias("stage"),
                "partition_id",
                "count",
                "passed",
            )

        lineage = per_partition(adm, "admission", F.col("admitted")).unionByName(
            per_partition(phased, "fetch", (F.col("fetch_rank") == 2) & _ok())
        )
        self._store.commit(lineage, "metrics", wave)

    def _commit(
        self,
        st: WaveState,
        adm: DataFrame,
        gated: DataFrame,
        phased: DataFrame,
        parsed: DataFrame,
        next_candidates: DataFrame,
        seen_inc: DataFrame,
        host_state: DataFrame,
        deferred_new: DataFrame | None,
    ) -> tuple[list, tuple[DataFrame, int]]:
        """Commit the wave's state into ``st``: (stats rows, (committed
        seen increment, its row count)).

        The candidates commit runs FIRST: it is the one job that
        traverses the whole wave (admission → robots gate → fetch →
        extraction), materializing every persisted cache along the way.
        The stats aggregation, the remaining commits and the lineage
        commit then only scan warm caches, and overlap as one burst of
        concurrent jobs."""
        wave = st.wave
        st.candidates, st.cand_rows = self._ckpt(
            next_candidates, "candidates", wave
        )
        with ThreadPoolExecutor(5) as pool:
            stats = pool.submit(
                lambda: self._wave_stats(adm, gated, phased, parsed).collect()
            )
            seen = pool.submit(self._ckpt, seen_inc, "seen_inc", wave)
            hosts = pool.submit(self._ckpt, host_state, "host_state", wave)
            lineage = (
                pool.submit(self._commit_lineage, adm, phased, wave)
                if self._store is not None
                else None
            )
            deferred = (
                pool.submit(self._ckpt, deferred_new, "deferred", wave)
                if deferred_new is not None
                else None
            )
            st.host_state, _ = hosts.result()
            if lineage is not None:
                lineage.result()
            st.deferred, st.deferred_rows = (
                deferred.result() if deferred is not None else (None, 0)
            )
            return stats.result(), seen.result()

    def _build_bloom(self, st: WaveState, rows: DataFrame, wave: int) -> None:
        """Build shards over ``rows``, OR them into the current shards
        (if any) with a |pid|-row groupBy, and commit — all
        executor-side; nothing lands on the driver.  The probe words are
        re-derived at the next admission."""
        from crawlspark.operators.seen import build_bloom, merge_blooms

        opts = self.opts
        shards = build_bloom(
            rows,
            num_partitions=opts.bloom_partitions,
            expected_per_partition=opts.bloom_expected_per_partition,
            fpp=opts.bloom_fpp,
        )
        if st.bloom is not None:
            shards = merge_blooms(st.bloom.unionByName(shards))
        st.bloom, _ = self._ckpt(shards, "bloom", wave)
        st.bloom_fold_wave = wave
        st.bloom_pending_parts, st.bloom_pending_rows = [], 0
        if st.bloom_words is not None:
            st.bloom_words.unpersist()
            st.bloom_words = None

    def _advance_seen(
        self, st: WaveState, seen_inc: DataFrame, inc_rows: int
    ) -> None:
        """Append the committed increment to the seen set: row tracking,
        compaction, Bloom fold or engagement."""
        opts, wave = self.opts, st.wave
        st.seen_parts.append(seen_inc)
        st.seen_rows += inc_rows
        # increment compaction (Iceberg rewrite analog): collapse the
        # O(waves) union into one snapshot so the next wave's probe
        # plans against a single relation
        if opts.seen_compact_every > 0 and len(st.seen_parts) > opts.seen_compact_every:
            st.seen_parts = [
                self._ckpt(_union(st.seen_parts), "seen_snapshot", wave)[0]
            ]
            st.seen_snapshot_wave = wave
        if st.bloom is not None:
            # LAZY fold: this wave's increment joins the pending set
            # (probed exactly via broadcast in admission); the bitmap
            # rebuild only runs once the pending rows amount to a
            # meaningful fraction of shard capacity — per-wave bloom
            # cost in the common case: zero jobs
            st.bloom_pending_parts.append(seen_inc)
            st.bloom_pending_rows += inc_rows
            fold_min = BLOOM_FOLD_MIN_ROWS or max(
                100_000,
                opts.bloom_expected_per_partition * opts.bloom_partitions // 8,
            )
            if st.bloom_pending_rows >= fold_min:
                self._build_bloom(st, _union(st.bloom_pending_parts), wave)
        elif opts.use_bloom_seen and not self._bloom_dormant(st):
            # the seen set crossed the dormancy gate: engage with ONE
            # build pass over the full seen union
            self._build_bloom(st, _union(st.seen_parts), wave)

    def _settle(
        self,
        st: WaveState,
        stats: list,
        adm: DataFrame,
        parsed: DataFrame,
        scheduled: DataFrame,
    ) -> dict:
        """Fold the wave's stats into the counters, run the robots hook
        and the leveled log families; returns the wave summary counts."""
        opts, ext, c, wave = self.opts, self.ext, st.counters, st.wave
        # one row per source: the other sources' columns are null, and
        # so is a sum over no rows
        n = dict.fromkeys(stats[0].asDict(), 0)
        for r in stats:
            n.update((k, v) for k, v in r.asDict().items() if v is not None)
        c.request_robots += n["n_hosts"]
        c.fetch += n["n_rob_fetched"] + n["n_fetch"]
        c.compute_delay += n["n_rob_fetched"] + n["n_fetch"]
        c.fetched_robots += n["n_rob_fetched"]
        # FetchedRobots notification hook (ext.go:48, worker.go:172):
        # real (non-cached) robots fetches of this wave
        if ext.fetched_robots is not None:
            ext.fetched_robots(
                [
                    (r["host"], r["status"])
                    for r in parsed.filter(~F.col("cached"))
                    .select("host", "status")
                    .collect()
                ]
            )
        # leveled log families (logAssert parity surface); each
        # collect is gated on its level so throughput runs skip them
        if self._log_enabled(LogFlags.IGNORED):
            rej = (
                adm.filter(F.col("counts_filter") & ~F.col("admitted"))
                .select(
                    "reject_reason",
                    F.coalesce(F.col("url_norm"), F.col("url")).alias("u"),
                )
                .collect()
            )
            for r in rej:
                self._log(
                    LogFlags.IGNORED,
                    f"ignore on {r['reject_reason']} policy: {r['u']}",
                )
        if self._log_enabled(LogFlags.ENQUEUED):
            for r in parsed.select("url_norm").collect():
                self._log(LogFlags.ENQUEUED, f"enqueue: {r['url_norm']}")
            for r in adm.filter(F.col("admitted")).select("url").collect():
                self._log(LogFlags.ENQUEUED, f"enqueue: {r['url']}")
        if self._log_enabled(LogFlags.INFO):
            # the delay actually used per host this wave
            # (worker.go:203 "using crawl-delay: %v")
            for r in scheduled.select("host", "delay_ms").distinct().collect():
                self._log(
                    LogFlags.INFO,
                    f"using crawl-delay: {self._fmt_delay(r['delay_ms'])}",
                )
        # robots misses are kind-fetch errors (file-fetcher semantics,
        # fileext_test.go:42-47)
        c.add_error("fetch", n["n_rob_miss"])
        if opts.collect_logs and n["n_rob_miss"]:
            self._keep_log(
                "errors",
                parsed.filter(~F.col("cached") & F.col("status").isNull()).select(
                    F.col("url_norm").alias("url"),
                    F.lit("fetch").alias("kind"),
                    F.lit(wave).alias("wave"),
                ),
            )
        c.filter += n["n_filter"]
        c.disallowed += n["n_disallowed"]
        c.enqueued += n["n_admitted"] + n["n_bypass"] + n["n_hosts"]
        c.request_get += n["n_request_get"]
        c.visit += n["n_visits"]
        c.visited += n["n_visits"]
        st.visits_total += n["n_visits"]
        c.add_error("fetch", n["n_fetch_err"])
        return {
            "candidates": int(n["n_filter"]),
            "admitted": int(n["n_admitted"]),
            "new_hosts": int(n["n_hosts"]),
            "disallowed": int(n["n_disallowed"]),
            "fetches": int(n["n_fetch"] + n["n_rob_fetched"]),
            "visits": int(n["n_visits"]),
        }
