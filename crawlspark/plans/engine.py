"""The crawl engine — the reference's master loop (crawler.go:61-341)
re-expressed as a driver-side fixpoint loop of DataFrame waves.

One wave (SURVEY §3.1 "Spark lifecycle equivalent"):

    candidates ∪ injected
      → canonicalize (Arrow UDF) → admission (filters + visited probe)
      → new-host robots fetch + parse → robots gate
      → politeness schedule (window cumsum) → fetch join vs pages
      → HEAD/GET phases → visit (extract links / visit hook) → harvest
      → next candidates; append seen increment; update host_state

The loop terminates when a wave admits nothing and nothing was
injected — the fixpoint test replacing the reference's pending-work
refcount (crawler.go:293-297) — or when MaxVisits is reached
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

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawlspark.config import LogFlags, Options
from crawlspark.functions.udfs import (
    extract_page_udf,
    make_canonicalize_udf,
    make_robots_parse_udf,
    make_visit_udf,
)
from crawlspark.functions.udfs import robots_allowed_udf
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

_TIMING = os.environ.get("CRAWLSPARK_TIMING", "") == "1"


def _tick(label: str, t0: float) -> float:
    import time

    t1 = time.perf_counter()
    if _TIMING:
        print(f"    [timing] {label}: {t1 - t0:.2f}s", flush=True)
    return t1


def _ok():
    return (
        F.col("status").isNotNull()
        & (F.col("status") >= 200)
        & (F.col("status") < 300)
    )


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
        self._canon = make_canonicalize_udf(self.opts.url_normalization_flags)
        self._log_lines: list[str] = []
        # durable-state seam (sources/statestore.py): parquet analog in
        # this sandbox, IcebergStateStore on a cluster with a catalog
        if self.opts.state_store is not None:
            self._store = self.opts.state_store
        elif self.opts.checkpoint_dir:
            from crawlspark.sources.statestore import ParquetStateStore

            self._store = ParquetStateStore(spark, self.opts.checkpoint_dir)
        else:
            self._store = None

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
        if ms >= 1000:
            s = ms / 1000.0
            return f"{s:g}s"
        return f"{ms}ms"

    # -- EnqueueChan analog (crawler.go:320-324): picked up next wave,
    # sourceless (same-host policy checks seed hosts, crawler.go:192-194)
    def enqueue(self, seeds) -> None:
        self._pending.extend(to_seed_rows(seeds))

    def _empty(self, ddl: str) -> DataFrame:
        return self.spark.createDataFrame([], schema=ddl)

    def _bloom_gate_rows(self, wave_bound: int | None) -> int:
        """Effective bloom-dormancy threshold in seen rows.

        opts.bloom_min_seen_rows: -1 (default) → the measured-crossover
        RATIO gate (engage at ratio × the current wave's candidate
        bound; unknown bound → 0, i.e. engage — dormancy is an
        optimization, never a correctness knob); 0 → always engage;
        >0 → absolute row threshold."""
        gate = self.opts.bloom_min_seen_rows
        if gate >= 0:
            return gate
        if wave_bound is None:
            return 0
        if wave_bound == 0:
            # empty next frontier: nothing will probe the filter, so a
            # build pass now is a pure loss — stay dormant
            return 1 << 62
        return self.opts.bloom_engage_seen_per_wave_ratio * wave_bound

    def _ckpt(self, df: DataFrame, name: str, wave: int) -> DataFrame:
        # seed-stage state (wave < 0) lives under seed/, outside the
        # wave=* namespace: every wave=* dir carries a metrics table
        # (per-partition lineage contract), which seed setup has none of
        if self._store is not None:
            return self._store.commit(df, name, wave)
        return df.localCheckpoint(eager=True)

    def _ckpt_counted(
        self, df: DataFrame, name: str, wave: int
    ) -> tuple[DataFrame, int | None]:
        out = self._ckpt(df, name, wave)
        if self._store is not None:
            return out, self._store.rows(name, wave)
        return out, None

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
        opts = self.opts
        if isinstance(seeds, DataFrame):
            # a DataFrame seed set has no inherent order (a reference
            # seed LIST goes through the list path below, which keeps
            # list order).  ord_seq must only be a DETERMINISTIC total
            # order so "same seed set → same crawl ordering" holds
            # (north rule) — xxhash64(url) is a pure per-row function:
            # no global sort, no window, no shuffle.  (The earlier
            # Window.orderBy(url) formulation was a single-partition
            # global sort — serial no matter the cluster size.)
            sd = seeds_df(self.spark, seeds)
            candidates = sd.select(
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
        else:
            candidates = self._seed_candidates(seeds)
        if opts.parallel_checkpoints and not isinstance(seeds, DataFrame):
            # the two seed-stage commits are independent jobs — overlap
            # them.  Safe ONLY for list/str seeds: their candidates plan
            # is built from driver-local data, so both concurrent jobs
            # evaluate identical rows.  A user-supplied seeds DataFrame
            # may be non-deterministic (sample(), limit() over an
            # unordered source, a changing snapshot) — evaluating it
            # twice could commit a seed_hosts table missing a host that
            # seed_candidates contains, silently dropping that host's
            # subtree under same_host_only; those take the serial path
            # below, which derives seed_hosts from the COMMITTED
            # candidates.  Serial cost: ~1/4 of a short crawl's fixed
            # latency, once per run.
            from concurrent.futures import ThreadPoolExecutor

            _seed_hosts_plan = self._seed_hosts_df(candidates)
            with ThreadPoolExecutor(2) as pool:
                f_cand = pool.submit(
                    self._ckpt_counted, candidates, "seed_candidates", -1
                )
                f_hosts = pool.submit(
                    self._ckpt_counted, _seed_hosts_plan, "seed_hosts", -1
                )
                candidates, _n_seeds_meta = f_cand.result()
                seed_hosts, _n_hosts_meta = f_hosts.result()
        else:
            candidates, _n_seeds_meta = self._ckpt_counted(
                candidates, "seed_candidates", -1
            )
            seed_hosts, _n_hosts_meta = self._ckpt_counted(
                self._seed_hosts_df(candidates), "seed_hosts", -1
            )
        # both tables were just durably committed — take the counts
        # from commit metadata (footers) instead of two count jobs
        if _n_seeds_meta is not None and _n_hosts_meta is not None:
            n_seeds, n_seed_hosts = _n_seeds_meta, _n_hosts_meta
        elif opts.parallel_checkpoints:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(2) as pool:
                f_ns = pool.submit(candidates.count)
                f_nh = pool.submit(seed_hosts.count)
                n_seeds, n_seed_hosts = f_ns.result(), f_nh.result()
        else:
            n_seeds = candidates.count()
            n_seed_hosts = seed_hosts.count()
        return candidates, seed_hosts, n_seeds, n_seed_hosts

    def resume(self, seeds) -> "CrawlResult":
        """Resume a crawl mid-frontier from ``opts.checkpoint_dir``.

        Every wave commits (candidates, host_state, seen increments,
        counters manifest); resume reloads the latest commit and
        continues the fixpoint loop — the Iceberg snapshot-rollback
        analog.  Loading is pure: the seed hosts and seed counts come
        from the seed-stage commit, and every table is read back through
        the store (schema-pinned readers on the parquet store), so no
        Spark job runs before the first resumed wave.  ``seeds`` no
        longer rebuilds the seed-host set; it only reaches
        ``Extender.start``, and is canonicalized again solely for
        checkpoints that lack the seed tables — pass the original list.
        """
        if self._store is None:
            raise ValueError(
                "resume requires opts.checkpoint_dir or opts.state_store"
            )
        manifest = self._store.get_manifest()
        wave = manifest["wave"]
        last = wave - 1
        snapw = manifest.get("seen_snapshot_wave")
        has_initial = manifest.get("has_initial_seen", False)
        if snapw is not None:
            # compaction snapshot at wave `snapw` covers the initial
            # seen (if any) plus increments 0..snapw; only
            # post-snapshot increments remain
            seen_parts = [self._store.read("seen_snapshot", snapw)] + [
                self._store.read("seen_inc", w)
                for w in range(snapw + 1, wave)
            ]
        else:
            seen_parts = [
                self._store.read("seen_inc", w) for w in range(wave)
            ]
            if has_initial:
                # run(initial_seen=...) committed the pre-populated
                # seen set as seed-stage state (wave -1)
                seen_parts.insert(0, self._store.read("seen_inc", -1))
        state = {
            "seen": reduce(DataFrame.unionByName, seen_parts),
            "seen_snapshot_wave": snapw,
            "has_initial_seen": has_initial,
            "host_state": self._store.read("host_state", last),
            "candidates": self._store.read("candidates", last),
            "cand_rows": self._store.rows("candidates", last),
            "wave": wave,
            "visits_total": manifest["visits_total"],
            "counters": manifest["counters"],
        }
        # the deferred frontier (politeness-cap overflow) is loop-carried
        # state like candidates: rows deferred at the crash point are in
        # neither candidates nor (re-admittable) seen, so dropping them
        # would lose them forever
        dr = manifest.get("deferred_rows", 0)
        if dr is None or dr != 0:
            state["deferred"] = self._store.read("deferred", last)
            state["deferred_rows"] = dr
        # bloom shards are durable state: read the last committed fold
        # instead of rebuilding from the (potentially huge) seen union;
        # increments after the fold wave become the pending set, so
        # bloom ∪ pending still covers the full seen set exactly.
        bw = manifest.get("bloom_fold_wave")
        if bw is not None and self.opts.use_bloom_seen:
            state["bloom"] = self._store.read("bloom", bw)
            state["bloom_fold_wave"] = bw
            pend, pend_rows = [], 0
            for w in range(bw + 1, wave):
                pend.append(self._store.read("seen_inc", w))
                n = self._store.rows("seen_inc", w)
                pend_rows += n if n is not None else 0
            state["bloom_pending_parts"] = pend
            state["bloom_pending_rows"] = pend_rows
        n_seeds = self._store.rows("seed_candidates", -1)
        n_seed_hosts = self._store.rows("seed_hosts", -1)
        if n_seeds is not None and n_seed_hosts is not None:
            state["seed_hosts"] = self._store.read("seed_hosts", -1)
            state["n_seeds"] = n_seeds
            state["n_seed_hosts"] = n_seed_hosts
        return self.run(seeds, resume_state=state)

    def run(
        self,
        seeds,
        resume_state: dict | None = None,
        initial_seen: DataFrame | None = None,
        initial_bloom: DataFrame | None = None,
    ) -> CrawlResult:
        """``initial_seen``: pre-populated URL-seen table (url_norm,
        host, wave_added) — the mid-frontier shape where the seen set
        dwarfs each wave (a fresh run otherwise starts empty;
        ``resume_state`` takes precedence).  The Bloom sidecar, when
        enabled, is seeded from it like any other seen state.

        ``initial_bloom``: prebuilt ``(pid, bitmap)`` shard table
        covering ``initial_seen`` (built with the same
        ``bloom_partitions`` / ``bloom_expected_per_partition`` /
        ``bloom_fpp`` as ``opts``).  Skips the run-start build pass —
        the faithful mid-frontier shape, where the filter is durable
        state maintained incrementally across waves, not rebuilt from
        the (huge) seen table at every process start."""
        import time as _time

        _t0 = _time.perf_counter()
        opts, ext = self.opts, self.ext
        self._pending = []  # fresh run = fresh state (complex_test.go:101-133)
        self._log_lines = []
        c = Counters()
        if ext.start is not None:
            seeds = ext.start(seeds)
            c.start = 1

        # the initial_seen commit (mid-frontier mode: can be 10^7+ rows)
        # is independent of every seed-stage table — overlap it with the
        # seed commits instead of serializing a full-table write between
        # seed setup and wave 0
        _f_initial_seen = None
        if (
            initial_seen is not None
            and self._store is not None
            and not resume_state
            and opts.parallel_checkpoints
        ):
            from concurrent.futures import ThreadPoolExecutor as _TPE

            _iseen_pool = _TPE(1)
            _f_initial_seen = _iseen_pool.submit(
                self._store.commit, initial_seen, "seen_inc", -1
            )

        if resume_state and "seed_hosts" in resume_state:
            # resume: the seed stage committed both seed tables — load
            # them (candidates come from the resume state below)
            seed_hosts = resume_state["seed_hosts"]
            n_seeds = resume_state["n_seeds"]
            n_seed_hosts = resume_state["n_seed_hosts"]
        else:
            candidates, seed_hosts, n_seeds, n_seed_hosts = self._seed_stage(
                seeds
            )
        # init trace lines (crawler.go:90-91)
        self._log(LogFlags.TRACE, f"init() - seeds length: {n_seeds}")
        self._log(LogFlags.TRACE, f"init() - host count: {n_seed_hosts}")
        _t0 = _tick("seed_setup", _t0)

        deferred = self._empty(DEFER_DDL)
        # driver-known row counts of the two loop-carried frontiers
        # (None = unknown → fall back to an isEmpty job)
        cand_rows: int | None = n_seeds
        deferred_rows: int | None = 0
        if initial_seen is not None and self._store is not None and not resume_state:
            # commit the pre-populated seen set as seed-stage state so
            # resume() reconstructs it: per-wave increments alone would
            # silently forget initial_seen (re-admitting and re-crawling
            # already-seen URLs) unless a compaction snapshot happened
            # to fire before the crash.
            if _f_initial_seen is not None:
                initial_seen = _f_initial_seen.result()
                _iseen_pool.shutdown()
            else:
                initial_seen = self._store.commit(initial_seen, "seen_inc", -1)
        self._has_initial_seen = initial_seen is not None
        # driver-known seen row count (commit metadata only — never a
        # count() job); None = unknown, which disables bloom dormancy
        seen_rows_total: int | None = 0
        if resume_state:
            seen_rows_total = None
            if opts.broadcast_seen_max_rows > 0:
                self._log(
                    LogFlags.INFO,
                    "broadcast_seen_max_rows set but seen row count "
                    "unknown on resume — shuffle-join path in use",
                )
        elif initial_seen is not None:
            seen_rows_total = (
                self._store.rows("seen_inc", -1)
                if self._store is not None
                else None
            )
        seen_parts: list[DataFrame] = [
            self._empty(SEEN_DDL) if initial_seen is None else initial_seen
        ]
        visit_parts: list[DataFrame] = [self._empty(VISIT_LOG_DDL)]
        fetch_parts: list[DataFrame] = [self._empty(FETCH_LOG_DDL)]
        error_parts: list[DataFrame] = [self._empty(ERRORS_DDL)]
        host_state = self._empty(HOST_STATE_DDL)
        wave = 0
        err: str | None = None
        visits_total = 0
        wave_metrics: list[dict] = []
        seen_snapshot_wave: int | None = None

        if resume_state:
            seen_parts = [resume_state["seen"]]
            seen_snapshot_wave = resume_state.get("seen_snapshot_wave")
            host_state = resume_state["host_state"]
            if "last_wave_rows" not in host_state.columns:
                # checkpoints written before the hot-host scheduling
                # statistic moved into host_state (round 5): resume
                # them with an empty stat — first resumed wave runs
                # unsalted, the stat repopulates at its commit
                host_state = host_state.withColumn(
                    "last_wave_rows", F.lit(0).cast("bigint")
                )
            candidates = resume_state["candidates"]
            cand_rows = resume_state.get("cand_rows")
            if "deferred" in resume_state:
                deferred = resume_state["deferred"]
                deferred_rows = resume_state.get("deferred_rows")
            self._has_initial_seen = resume_state.get("has_initial_seen", False)
            wave = resume_state["wave"]
            visits_total = resume_state.get("visits_total", 0)
            for key, val in resume_state.get("counters", {}).items():
                if key == "errors_by_kind":
                    c.errors_by_kind.update(val)
                elif hasattr(c, key):
                    setattr(c, key, val)

        # Bloom sidecar: a DISTRIBUTED (pid, bitmap) shard table,
        # checkpointed with the rest of the wave state (the Iceberg
        # binary-rows format, operators/seen.py) and applied via a
        # co-partitioned cogroup — the filter never transits the driver.
        # Seeding it from the CURRENT seen set (not empty) makes
        # bloom-on resume exact: a shard table missing already-seen URLs
        # would be a false-negative hole the exact join never gets to
        # repair, because definitely-unseen candidates skip it.
        bloom_df: DataFrame | None = None
        bloom_words_df: DataFrame | None = None
        bloom_pending_parts: list[DataFrame] = []
        bloom_pending_rows = 0
        bloom_fold_wave = -1  # wave of the last committed fold (manifest)
        # lazy-fold threshold: rebuilding MB-scale bitmaps + re-deriving
        # the probe words for a small wave increment costs more than the
        # increment's pruning is worth — accumulate increments as a
        # broadcast-probed pending set and fold only when they amount to
        # a meaningful fraction of a shard's capacity
        bloom_fold_min = opts.bloom_fold_min_rows
        if bloom_fold_min <= 0:
            bloom_fold_min = max(
                100_000,
                opts.bloom_expected_per_partition * opts.bloom_partitions // 8,
            )
        if opts.use_bloom_seen:
            from crawlspark.operators.seen import bloom_words, build_bloom

            if resume_state and resume_state.get("bloom") is not None:
                # resume: the shard table is DURABLE state — read the
                # committed fold instead of rebuilding from the seen
                # union (at 10^10 URLs a rebuild is a full-table pass;
                # the committed shards are MBs).  Increments after the
                # fold wave come back as the pending set, so
                # bloom ∪ pending still covers the full seen set.
                bloom_df = resume_state["bloom"]
                bloom_fold_wave = resume_state.get("bloom_fold_wave", -1)
                bloom_pending_parts = list(
                    resume_state.get("bloom_pending_parts", [])
                )
                bloom_pending_rows = resume_state.get(
                    "bloom_pending_rows", 0
                )
            elif initial_bloom is not None and not resume_state:
                # caller-prebuilt shards (the mid-frontier shape: at
                # 10^10 URLs the bloom is maintained incrementally as
                # durable state, never rebuilt from the seen table at
                # run start).  Contract: initial_bloom must cover
                # initial_seen with matching (partitions, capacity,
                # fpp) — a missing URL would be a false-negative hole
                # the exact join never repairs.
                bloom_df = self._ckpt(initial_bloom, "bloom", -1)
            elif (
                self._bloom_gate_rows(cand_rows) > 0
                and seen_rows_total is not None
                and seen_rows_total < self._bloom_gate_rows(cand_rows)
            ):
                # DORMANT below the crossover: at this seen size the
                # exact join is cheaper than any sidecar, so the bloom
                # runs zero jobs (no build, no probe, no folds) until
                # the seen set crosses bloom_min_seen_rows — then one
                # build pass over the full seen engages it (wave loop).
                # Crossover measured at ~8-10M seen rows on the bench
                # host (BASELINE.md); at a 10^10-URL frontier the
                # engaged regime is reached within the first waves.
                pass
            else:
                bloom_df = self._ckpt(
                    build_bloom(
                        reduce(DataFrame.unionByName, seen_parts),
                        num_partitions=opts.bloom_partitions,
                        expected_per_partition=opts.bloom_expected_per_partition,
                        fpp=opts.bloom_fpp,
                    ),
                    "bloom",
                    -1,
                )
            if bloom_df is not None and opts.bloom_probe == "join":
                # probe-ready word rows, converted ONCE per (re)build
                # and persisted: the per-wave probe then only pays a
                # few-MB broadcast of cached rows, not an applyInPandas
                # conversion job on an unchanged filter
                bloom_words_df = bloom_words(bloom_df).persist()

        cached_df = None
        if ext.request_robots:
            cached_df = self.spark.createDataFrame(
                [(h, bytes(b)) for h, b in ext.request_robots.items()],
                schema="host string, cached_body binary",
            )

        import time as _time

        while wave < opts.max_waves:
            _t = _wave_t0 = _time.perf_counter()
            # fixpoint check from commit metadata when known (parquet
            # footers / counters); only unknown counts pay an isEmpty job
            cand_empty = (
                cand_rows == 0 if cand_rows is not None else candidates.isEmpty()
            )
            if cand_empty:
                defer_empty = (
                    deferred_rows == 0
                    if deferred_rows is not None
                    else deferred.isEmpty()
                )
                if defer_empty:
                    break
            _t = _tick("isEmpty", _t)
            seen = reduce(DataFrame.unionByName, seen_parts)

            # ---- admission ---------------------------------------------
            # persist (LAZY): the whole wave — admission → robots → gate →
            # fetch → extraction → next candidates — materializes as ONE
            # Spark job at the wave-end candidates checkpoint, with adm/
            # parsed/gated/phased cached along the way.  Eagerly cutting
            # each stage into its own job put 3 extra driver round-trips
            # on the serial path per wave; at cluster scale each round
            # trip is scheduler latency that no amount of executors can
            # parallelize.  The follow-up jobs (stats, seen/host commits)
            # scan the warm caches only.
            #
            # The round-robin repartition matters: AQE coalesces
            # post-shuffle partitions by COMPRESSED bytes, and URL rows
            # compress so well that a multi-100k-row admission output
            # lands on 1-4 partitions — which would make every downstream
            # Python-UDF stage (robots gate) and window near-serial no
            # matter how many cores the cluster has.  CPU cost here is
            # per-row, not per-byte, so fan the rows back out to the
            # executor parallelism (cheap: candidate rows are tiny).
            # Exactly ×1: a 2× fan-out measured strictly slower at every
            # level (per-task fixed cost ~70 ms dominates these
            # row-light stages; stage-grid A/B in BASELINE.md).
            wave_parts = self.spark.sparkContext.defaultParallelism
            wave_pins: list[DataFrame] = []

            def _pin_fork(d: DataFrame) -> DataFrame:
                d = d.persist()
                wave_pins.append(d)
                return d

            adm = admit_candidates(
                candidates, seen, seed_hosts, opts, ext.filter_factory,
                bloom_df=bloom_df,
                bloom_words=bloom_words_df,
                bloom_pending=(
                    reduce(DataFrame.unionByName, bloom_pending_parts)
                    if bloom_pending_parts
                    else None
                ),
                pin=(
                    _pin_fork
                    if (opts.salt_hot_hosts or opts.use_bloom_seen)
                    else None
                ),
                rows_bound=cand_rows,
                seen_rows=seen_rows_total,
            ).repartition(wave_parts).persist()
            _t = _tick("adm_plan", _t)
            admitted = adm.filter(F.col("admitted"))

            # ---- robots discovery --------------------------------------
            active_hosts = (
                admitted.select("host")
                .union(adm.filter(F.col("robots_bypass")).select("host"))
                .distinct()
            )
            new_hosts = active_hosts.join(
                host_state.select("host"), on="host", how="left_anti"
            )
            if cached_df is not None:
                new_hosts = new_hosts.join(
                    F.broadcast(cached_df), on="host", how="left"
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
            rob_all = rob_all.repartition(wave_parts, "host")
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
            parsed = parsed.persist()
            _t = _tick("robots_parse_plan", _t)
            # robots counts fold into the combined wave aggregation below
            # (one fewer blocking driver round-trip per wave)
            robots_metrics = [
                F.count(F.lit(1)).alias("n_hosts"),
                F.sum((~F.col("cached")).cast("int")).alias("n_rob_fetched"),
                F.sum(
                    (~F.col("cached") & F.col("status").isNull()).cast("int")
                ).alias("n_rob_miss"),
            ]

            rules_for_wave = host_state.select(
                "host", "rules_json", "robots_delay_ms"
            ).unionByName(parsed.select("host", "rules_json", "robots_delay_ms"))

            # ---- robots gate (before fetch, worker.go:85-91) ------------
            # Counter strategy: all wave counters come from ONE combined
            # aggregation; it runs right before the state checkpoints and
            # doubles as the job that materializes the `gated`/`phased`
            # caches (no HTML extraction needed), so the checkpoints only
            # scan caches.
            adm_metrics = [
                F.sum(F.col("counts_filter").cast("int")).alias("n_filter"),
                F.sum(F.col("admitted").cast("int")).alias("n_admitted"),
                F.sum(F.col("robots_bypass").cast("int")).alias("n_bypass"),
            ]
            gate_metrics = [
                F.sum((~F.col("robots_allowed")).cast("int")).alias("n_disallowed"),
            ]
            # gate ONLY the admitted rows: a pandas UDF inside when() is
            # still evaluated over every input row (Catalyst hoists it to
            # an ArrowEvalPython node before the projection), so filtering
            # first cuts the gate's Python work to the admitted fraction
            gated = (
                adm.filter(F.col("admitted"))
                .join(rules_for_wave, on="host", how="left")
                .withColumn(
                    "robots_allowed",
                    F.when(F.col("rules_json").isNull(), F.lit(True)).otherwise(
                        robots_allowed_udf(F.col("rules_json"), F.col("path"))
                    ),
                )
                .persist()
            )
            allowed = gated.filter(F.col("robots_allowed"))

            # ---- per-host sequencing ------------------------------------
            hs = host_state.select("host", "next_free_ms", "last_seq")
            page_base = allowed.select(*DEFER_COLS).unionByName(deferred)
            page_rows = page_base.join(hs, on="host", how="left")
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
            hot_hosts: list = []
            if opts.salt_hot_hosts:
                # salted-key skew mitigation (SURVEY §4 P11): a hot host
                # no longer serializes one window task; FIFO order is
                # preserved exactly (range buckets are monotone in the
                # ordering tuple).  Hot detection feeds both this
                # sequencing and the politeness schedule below (the
                # schedule's HEAD+GET explode doubles rows AND fair
                # shares alike, so the same list stays right).
                # When commit metadata already bounds the wave below
                # the threshold (the common case for modest waves),
                # no job runs and every host takes the plain window —
                # the salted machinery's sampling + materialization
                # pass is reserved for hosts that actually need it.
                from crawlspark.operators.skew import host_seq

                upper = (
                    cand_rows + deferred_rows
                    if cand_rows is not None and deferred_rows is not None
                    else None
                )
                # A host is "hot" RELATIVE to the wave: one task's fair
                # share is upper/parallelism rows, and a window group
                # beyond that share dominates the stage tail (measured:
                # a 20%-of-wave host under the absolute 1M threshold ran
                # the 8-core sequencing stages at ~55% utilization,
                # while salting the same host at 4 cores — where it fits
                # a fair share — only added sampling/materialization
                # cost).  Clamp: never below 50k rows (a sort one task
                # does in milliseconds), never above the configured
                # absolute threshold (the OOM guard the option names).
                par = self.spark.sparkContext.defaultParallelism
                # the politeness schedule downstream windows over
                # HEAD+GET-EXPLODED rows (up to 2x the counts measured
                # here), so when any HEAD phase is possible the absolute
                # OOM guard applies at half its configured value —
                # otherwise a host just under the guard would window ~2x
                # the guard in one task.  The relative clamp needs no
                # adjustment: the explode doubles rows and fair shares
                # alike.
                head_possible = (
                    opts.head_before_get or ext.head_factory is not None
                )
                # floor at 1 (ADVICE r5): salt_threshold_rows=1 with a
                # possible HEAD phase would integer-divide to 0 and the
                # `thresh > 0` gate below would silently disable hot
                # detection despite salt_hot_hosts=True; 0 keeps its
                # "never salt" meaning
                abs_thresh = (
                    max(1, opts.salt_threshold_rows // (2 if head_possible else 1))
                    if opts.salt_threshold_rows > 0
                    else 0
                )
                thresh = abs_thresh
                if upper is not None:
                    thresh = min(abs_thresh, max(50_000, upper // par))
                # The hot list comes from the PREVIOUS wave's per-host
                # batch sizes, recorded in host_state at its commit
                # (last_wave_rows, the pre-cap window-group size) — a
                # heuristic the salted path makes safe: results are
                # bit-identical for ANY host list (tests/test_skew.py),
                # the list only decides which hosts pay the salted
                # physical plan.  Round 4's exact detection counted
                # admitted ∪ deferred mid-wave, which forced the
                # admission cache to materialize in a separate
                # near-serial job (~37 s/rep of idle stages in the
                # round-4 stage profile); this filter+collect scans
                # only the checkpoint-backed host_state parquet
                # (≤ n_hosts rows).  Cost of a host turning hot
                # WITHIN a wave: its window group sorts in one task
                # for that wave (slow-tail, not wrong), then salts
                # from the next wave on — the absolute threshold
                # still bounds that group via the previous wave's
                # stat, and wave sizes grow ~3x/hop, so a group can
                # overshoot the OOM guard by only that factor for
                # one wave.
                if thresh > 0 and (upper is None or upper >= thresh):
                    hot_hosts = [
                        r[0]
                        for r in host_state.filter(
                            F.col("last_wave_rows") >= thresh
                        )
                        .select("host")
                        .collect()
                    ]
                # url_norm as final tie-break: ord_seq is xxhash64 for
                # DataFrame seeds, so a 64-bit collision between two
                # same-host seeds must still order deterministically
                page_rows = host_seq(
                    page_rows, ORD_COLS + ["url_norm"],
                    hot_hosts=hot_hosts,
                    num_buckets=opts.salt_buckets or None,
                    seq_col="_rn_host",
                )
            else:
                w_host = Window.partitionBy("host").orderBy(
                    *[F.col(x) for x in ORD_COLS + ["url_norm"]]
                )
                page_rows = page_rows.withColumn(
                    "_rn_host", F.row_number().over(w_host)
                )
            page_rows = page_rows.withColumn(
                "seq", F.coalesce(F.col("last_seq"), F.lit(0)) + F.col("_rn_host")
            )

            # politeness budget / hot-host backpressure: cap each host's
            # wave batch; overflow defers to the next wave WITHOUT
            # re-admission (already counted, already in seen).
            # page_rows_precap keeps _rn_host for the host_state commit:
            # max(_rn_host) per host is that host's PRE-CAP window-group
            # size this wave — the scheduling statistic the next wave's
            # hot-host detection reads back from the checkpoint.
            page_rows_precap = page_rows
            deferred_new: DataFrame | None = None
            if opts.max_urls_per_host_per_wave > 0:
                cap = opts.max_urls_per_host_per_wave
                # THREE consumers read this window output in cap mode —
                # the fetch path, the wave-end deferred commit and the
                # host_state last_seq/wave-rows agg — so pin it once
                # instead of re-running the wave's biggest sort per
                # consumer (the deferred set grows as the frontier
                # saturates; recomputing its lineage each wave end was
                # measured as a rising late-wave cost on the deep arm)
                page_rows_precap = _pin_fork(page_rows)
                page_rows = page_rows_precap
                # commit DEFERRED at the wave-end burst, not here: this
                # frame feeds only the NEXT wave, and committing it
                # mid-wave forced the admission/gate caches to
                # materialize in an extra serial job before the wave's
                # main traversal (measured as the dominant share of the
                # deep arm's fixed per-wave cost).  At wave end the
                # write scans caches the candidates commit already
                # warmed, and overlaps the other state commits.
                deferred_new = page_rows.filter(
                    F.col("_rn_host") > cap
                ).select(*DEFER_COLS)
                page_rows = page_rows.filter(F.col("_rn_host") <= cap)
            else:
                deferred = self._empty(DEFER_DDL)
                deferred_rows = 0
            page_rows = page_rows.drop("_rn_host")

            # ---- fetch join ---------------------------------------------
            fetched = self.pages.fetch(page_rows, url_col="url")
            # per-fetch hook (ext.go:45 Fetch): a column-level transform
            # over the fetched rows — rewrite status/html/redirect_to by
            # URL pattern (custom-fetcher test shape) without swapping
            # the PagesSource
            if ext.fetch_transform is not None:
                fetched = ext.fetch_transform(fetched)

            gate = (
                ext.request_get(fetched)
                if ext.request_get is not None
                else _ok()
            )
            phases = (
                F.when(~F.col("is_head"), F.array(F.lit(2)))
                .when(F.col("status").isNull(), F.array(F.lit(1)))
                .when(gate, F.array(F.lit(1), F.lit(2)))
                .otherwise(F.array(F.lit(1)))
            )
            phased = fetched.withColumn("fetch_rank", F.explode(phases))

            # MaxVisits: exact truncation over the deterministic global
            # order, via the two-phase range-bucket cumsum (skew.py) —
            # no partition-less window, so a big wave with max_visits
            # set no longer serializes into one task.  No "did we drop
            # anything" probe job: truncation happening at all implies
            # the unfiltered wave visit count >= remaining, which makes
            # the post-filter count exactly `remaining`, so the
            # wave-end `visits_total >= max_visits` check below fires
            # the stop + err on its own — the old `limit(1).count()`
            # here re-ran the whole upstream once per wave for an
            # answer the combined stats already determine.
            stop_after_wave = False
            if opts.max_visits > 0:
                from crawlspark.operators.skew import global_cumsum_skewproof

                is_visit_row = (
                    (F.col("fetch_rank") == 2) & _ok() & F.col("redirect_to").isNull()
                )
                phased = global_cumsum_skewproof(
                    phased.withColumn("_isv", is_visit_row.cast("int")),
                    "_isv",
                    ORD_COLS + ["url_norm", "fetch_rank"],
                    out_col="_cum_visits_excl",
                ).drop("_isv")
                remaining = opts.max_visits - visits_total
                phased = phased.filter(
                    F.col("_cum_visits_excl") < remaining
                ).drop("_cum_visits_excl")

            fetch_metrics = [
                F.count(F.lit(1)).alias("n_fetch"),
                F.sum(
                    ((F.col("fetch_rank") == 1) & F.col("status").isNotNull()).cast(
                        "int"
                    )
                ).alias("n_request_get"),
                F.sum(
                    (
                        (F.col("fetch_rank") == 2)
                        & _ok()
                        & F.col("redirect_to").isNull()
                    ).cast("int")
                ).alias("n_visits"),
                F.sum(F.col("status").isNull().cast("int")).alias("n_fetch_err"),
            ]
            # cached, not checkpointed: everything after the fetch join
            # (visit extraction, schedule, state updates, stats) re-reads
            # this; the wave-end candidates commit computes it once
            _t = _tick("pre_phased", _t)
            phased = phased.persist()

            if opts.collect_logs:
                error_parts.append(
                    phased.filter(F.col("status").isNull())
                    .select(
                        F.col("url_norm").alias("url"),
                        F.lit("fetch").alias("kind"),
                        F.lit(wave).alias("wave"),
                    )
                    .localCheckpoint(eager=True)
                )

            # ---- schedule (virtual time) --------------------------------
            sched_in = phased.select(
                "url_norm", "host", "seq", "fetch_rank", "status",
                "robots_delay_ms", "next_free_ms", *ORD_COLS,
            ).unionByName(
                parsed.filter(~F.col("cached"))
                .join(
                    hs.select("host", F.col("next_free_ms").alias("_nf")),
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
                    F.lit(wave).alias("ord_wave"),
                    F.lit("").alias("ord_host"),
                    F.lit(-1).cast("bigint").alias("ord_seq"),
                    F.lit(0).alias("ord_pos"),
                )
            )
            scheduled = politeness_schedule(
                sched_in, opts, ext.compute_delay, hot_hosts=hot_hosts
            )
            if opts.collect_logs:
                scheduled = scheduled.persist()
                fetch_parts.append(
                    scheduled.select(
                        "url_norm", "host", F.lit(wave).alias("wave"), "seq",
                        "fetch_rank", "status", "delay_ms", "sched_ms",
                    ).localCheckpoint(eager=True)
                )
            next_free = host_next_free(scheduled)

            # ---- visit + harvest ----------------------------------------
            # fused text+links extraction: one HTML parse per visit
            visits = phased.filter(
                (F.col("fetch_rank") == 2) & _ok() & F.col("redirect_to").isNull()
            ).withColumn("_page", extract_page_udf(F.col("html"), F.col("url")))
            visits = visits.withColumn("text", F.col("_page.text"))

            if opts.collect_logs:
                visit_parts.append(
                    visits.select(
                        "url_norm", "host", F.lit(wave).alias("wave"), "seq", "state"
                    ).localCheckpoint(eager=True)
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

            next_candidates = harvested.unionByName(redirect_cands)

            # ---- state updates ------------------------------------------
            # seen is append-only: the increment is this wave's first-time
            # admissions (mark-at-stack-time, crawler.go:263-269)
            seen_inc_df = (
                admitted.filter(~F.col("is_visited"))
                .select("url_norm", "host", F.lit(wave).alias("wave_added"))
                .dropDuplicates(["url_norm"])
            )

            active = active_hosts.withColumn("_active", F.lit(True))
            # one agg, two stats: the dispatched-sequence high-water mark
            # (post-cap — deferred rows re-sequence next wave) and the
            # pre-cap window-group size (next wave's hot-host statistic)
            _cap_n = opts.max_urls_per_host_per_wave
            last_seq_upd = page_rows_precap.groupBy("host").agg(
                F.max(
                    F.when(F.col("_rn_host") <= _cap_n, F.col("seq"))
                    if _cap_n > 0
                    else F.col("seq")
                ).alias("_new_seq"),
                F.max("_rn_host").alias("_wave_rows"),
            )
            host_state = (
                host_state.unionByName(
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
            # worker idle TTL (worker.go:57-74): evict hosts idle too long;
            # robots re-fetched if the host reappears
            if opts.worker_idle_ttl_waves > 0:
                ttl_pred = (
                    F.col("last_active_wave")
                    >= wave - opts.worker_idle_ttl_waves
                )
                if self._log_enabled(LogFlags.INFO):
                    for r in host_state.filter(~ttl_pred).select("host").collect():
                        self._log(
                            LogFlags.INFO,
                            f"worker for host {r['host']} cleared on idle policy",
                        )
                host_state = host_state.filter(ttl_pred)

            # ---- settle wave counters -----------------------------------
            # ONE combined agg (gate + fetch + robots counts) over the
            # wave's caches/checkpoints — no HTML extraction, no extra
            # lineage: `gated` is persisted (materialized by the phased
            # checkpoint), `phased` and `parsed` are checkpointed, so
            # this job and the state checkpoints below only ever scan
            # read-only blocks and never race to compute a shared
            # upstream partition.  Under ``parallel_checkpoints`` it
            # runs CONCURRENTLY with the three state commits: the end
            # of every wave is then one overlapped burst of independent
            # jobs instead of a serial chain of driver round-trips.
            def _settle_stats():
                return (
                    adm.agg(*adm_metrics)
                    .withColumn("_which", F.lit("adm"))
                    .unionByName(
                        gated.agg(*gate_metrics).withColumn(
                            "_which", F.lit("gate")
                        ),
                        allowMissingColumns=True,
                    )
                    .unionByName(
                        phased.agg(*fetch_metrics).withColumn(
                            "_which", F.lit("fetch")
                        ),
                        allowMissingColumns=True,
                    )
                    .unionByName(
                        parsed.agg(*robots_metrics).withColumn(
                            "_which", F.lit("robots")
                        ),
                        allowMissingColumns=True,
                    )
                    .collect()
                )

            # per-partition lineage metrics (FIXTURES.md §2 metrics table):
            # committed with every wave in checkpoint mode so a resumed
            # crawl can audit exactly which partition produced what
            def _commit_lineage():
                if self._store is None:
                    return None
                lineage = (
                    adm.groupBy(F.spark_partition_id().alias("partition_id"))
                    .agg(
                        F.count(F.lit(1)).alias("count"),
                        F.sum(F.col("admitted").cast("long")).alias("admitted"),
                    )
                    .select(
                        F.lit(wave).alias("wave"),
                        F.lit("admission").alias("stage"),
                        "partition_id",
                        "count",
                        F.col("admitted").alias("passed"),
                    )
                    .unionByName(
                        phased.groupBy(
                            F.spark_partition_id().alias("partition_id")
                        )
                        .agg(
                            F.count(F.lit(1)).alias("count"),
                            F.sum(
                                ((F.col("fetch_rank") == 2) & _ok()).cast("long")
                            ).alias("passed"),
                        )
                        .select(
                            F.lit(wave).alias("wave"),
                            F.lit("fetch").alias("stage"),
                            "partition_id",
                            "count",
                            "passed",
                        )
                    )
                )
                self._store.commit(lineage, "metrics", wave)
                return None

            # ---- checkpoint + advance -----------------------------------
            # The candidates commit runs FIRST: it is the one job that
            # traverses the whole wave (admission → robots gate → fetch →
            # extraction), materializing every persisted cache along the
            # way.  The remaining commits, the stats aggregation and the
            # lineage-metrics commit then only scan warm caches — under
            # ``parallel_checkpoints`` they overlap as one burst of
            # concurrent cache-only jobs.
            candidates, cand_rows = self._ckpt_counted(
                next_candidates, "candidates", wave
            )
            _t = _tick("ckpt_candidates", _t)
            if opts.parallel_checkpoints:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(5) as pool:
                    f_stats = pool.submit(_settle_stats)
                    f_seen = pool.submit(self._ckpt, seen_inc_df, "seen_inc", wave)
                    f_host = pool.submit(self._ckpt, host_state, "host_state", wave)
                    f_lin = pool.submit(_commit_lineage)
                    f_def = (
                        pool.submit(
                            self._ckpt_counted, deferred_new, "deferred", wave
                        )
                        if deferred_new is not None
                        else None
                    )
                    stats = f_stats.result()
                    seen_inc = f_seen.result()
                    host_state = f_host.result()
                    f_lin.result()
                    if f_def is not None:
                        deferred, deferred_rows = f_def.result()
                _t = _tick("overlapped_stats+ckpts", _t)
            else:
                stats = _settle_stats()
                _t = _tick("stats_agg", _t)
                seen_inc = self._ckpt(seen_inc_df, "seen_inc", wave)
                _t = _tick("ckpt_seen_inc", _t)
                host_state = self._ckpt(host_state, "host_state", wave)
                _t = _tick("ckpt_host_state", _t)
                _commit_lineage()
                if deferred_new is not None:
                    deferred, deferred_rows = self._ckpt_counted(
                        deferred_new, "deferred", wave
                    )
            if _TIMING:
                print(
                    f"    [parts] adm={adm.rdd.getNumPartitions()} "
                    f"phased={phased.rdd.getNumPartitions()} "
                    f"candidates={candidates.rdd.getNumPartitions()}",
                    flush=True,
                )
            seen_parts.append(seen_inc)
            # metadata-only seen-size tracking (never a count() job):
            # feeds the bloom crossover gate AND the plain-path
            # broadcast-seen hint in admission
            _inc_n = (
                self._store.rows("seen_inc", wave)
                if self._store is not None
                else None
            )
            if seen_rows_total is not None and _inc_n is not None:
                seen_rows_total += _inc_n
            else:
                if (
                    seen_rows_total is not None
                    and opts.broadcast_seen_max_rows > 0
                ):
                    # ADVICE r5: the broadcast-seen hint silently no-ops
                    # whenever the seen row count is unknown (non-durable
                    # mode / resume without metadata) — say so once
                    self._log(
                        LogFlags.INFO,
                        "broadcast_seen_max_rows set but seen row count "
                        "unknown from commit metadata — shuffle-join path "
                        "in use",
                    )
                seen_rows_total = None
            # increment compaction (Iceberg rewrite analog): collapse the
            # O(waves) union into one snapshot so the next wave's probe
            # plans against a single relation.  Resume-aware: the
            # manifest records the snapshot wave; resume reads snapshot
            # + post-snapshot increments instead of every wave's inc.
            if (
                opts.seen_compact_every > 0
                and len(seen_parts) > opts.seen_compact_every
            ):
                seen_parts = [
                    self._ckpt(
                        reduce(DataFrame.unionByName, seen_parts),
                        "seen_snapshot",
                        wave,
                    )
                ]
                seen_snapshot_wave = wave
            if bloom_df is not None:
                # LAZY fold: this wave's increment joins the pending set
                # (probed exactly via broadcast in admission); the
                # bitmap rebuild + word-row re-derivation only runs once
                # the pending rows amount to a meaningful fraction of
                # shard capacity.  Per-wave bloom cost in the common
                # case: zero jobs.
                bloom_pending_parts.append(seen_inc)
                inc_n = _inc_n
                if inc_n is None:
                    # no metadata count (non-durable mode) — bound the
                    # pending set by wave count instead of rows
                    fold_now = len(bloom_pending_parts) >= 4
                else:
                    bloom_pending_rows += inc_n
                    fold_now = bloom_pending_rows >= bloom_fold_min
                if fold_now:
                    from crawlspark.operators.seen import (
                        bloom_words,
                        build_bloom,
                        merge_blooms,
                    )

                    # fold pending increments in ONE build pass, OR into
                    # the shard table with a |pid|-row cogroup, commit —
                    # all executor-side; nothing lands on the driver.
                    bloom_inc = build_bloom(
                        reduce(DataFrame.unionByName, bloom_pending_parts),
                        num_partitions=opts.bloom_partitions,
                        expected_per_partition=opts.bloom_expected_per_partition,
                        fpp=opts.bloom_fpp,
                    )
                    bloom_df = self._ckpt(
                        merge_blooms(bloom_df.unionByName(bloom_inc)),
                        "bloom",
                        wave,
                    )
                    bloom_fold_wave = wave
                    bloom_pending_parts = []
                    bloom_pending_rows = 0
                    if bloom_words_df is not None:
                        bloom_words_df.unpersist()
                    if opts.bloom_probe == "join":
                        bloom_words_df = bloom_words(bloom_df).persist()
            elif opts.use_bloom_seen:
                # dormant below the crossover (bloom_min_seen_rows):
                # the metadata-tracked seen size (above) decides when to
                # engage with ONE build pass over the full seen union.
                # An unknown count ends dormancy immediately — the gate
                # is an optimization, never a correctness knob.
                if (
                    seen_rows_total is None
                    or seen_rows_total >= self._bloom_gate_rows(cand_rows)
                ):
                    from crawlspark.operators.seen import (
                        bloom_words,
                        build_bloom,
                    )

                    bloom_df = self._ckpt(
                        build_bloom(
                            reduce(DataFrame.unionByName, seen_parts),
                            num_partitions=opts.bloom_partitions,
                            expected_per_partition=opts.bloom_expected_per_partition,
                            fpp=opts.bloom_fpp,
                        ),
                        "bloom",
                        wave,
                    )
                    bloom_fold_wave = wave
                    if opts.bloom_probe == "join":
                        bloom_words_df = bloom_words(bloom_df).persist()
            _t = _tick("state_ckpts", _t)

            by_tag = {r["_which"]: r for r in stats}
            a, g, fm, rb = (
                by_tag["adm"], by_tag["gate"], by_tag["fetch"], by_tag["robots"]
            )
            n_new_hosts = rb["n_hosts"] or 0
            n_rob_fetched = rb["n_rob_fetched"] or 0
            n_rob_miss = rb["n_rob_miss"] or 0
            c.request_robots += n_new_hosts
            c.fetch += n_rob_fetched
            c.compute_delay += n_rob_fetched
            c.fetched_robots += n_rob_fetched
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
                for r in (
                    scheduled.select("host", "delay_ms").distinct().collect()
                ):
                    self._log(
                        LogFlags.INFO,
                        f"using crawl-delay: {self._fmt_delay(r['delay_ms'])}",
                    )
            # robots misses are kind-fetch errors (file-fetcher semantics,
            # fileext_test.go:42-47)
            c.add_error("fetch", n_rob_miss)
            if opts.collect_logs and n_rob_miss:
                error_parts.append(
                    parsed.filter(~F.col("cached") & F.col("status").isNull())
                    .select(
                        F.col("url_norm").alias("url"),
                        F.lit("fetch").alias("kind"),
                        F.lit(wave).alias("wave"),
                    )
                    .localCheckpoint(eager=True)
                )
            c.filter += a["n_filter"] or 0
            n_admitted = a["n_admitted"] or 0
            n_bypass = a["n_bypass"] or 0
            n_disallowed = g["n_disallowed"] or 0
            c.disallowed += n_disallowed
            c.enqueued += n_admitted + n_bypass + n_new_hosts
            n_fetch_rows = fm["n_fetch"] or 0
            c.fetch += n_fetch_rows
            c.compute_delay += n_fetch_rows
            c.request_get += fm["n_request_get"] or 0
            n_visits = fm["n_visits"] or 0
            c.visit += n_visits
            c.visited += n_visits
            visits_total += n_visits
            c.add_error("fetch", fm["n_fetch_err"] or 0)
            n_filter_wave = a["n_filter"] or 0
            _t = _tick("metrics_read", _t)

            summary = {
                "wave": wave,
                "wall_ms": int((_time.perf_counter() - _wave_t0) * 1000),
                "candidates": int(n_filter_wave),
                "admitted": int(n_admitted),
                "new_hosts": int(n_new_hosts),
                "disallowed": int(n_disallowed),
                "fetches": int(n_fetch_rows + n_rob_fetched),
                "visits": int(n_visits),
                "visits_total": int(visits_total),
            }
            wave_metrics.append(summary)

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
                candidates = candidates.unionByName(injected)
                if cand_rows is not None:
                    cand_rows += len(self._pending)
                self._pending = []
            _t = _tick("wave_end_hooks", _t)

            if self._store is not None:
                self._store.put_manifest(
                    {
                        "wave": wave + 1,
                        "seen_snapshot_wave": seen_snapshot_wave,
                        # loop-carried frontier state resume() must
                        # restore besides candidates: the deferred
                        # overflow (None = committed but count unknown)
                        # and whether a seed-stage seen_inc exists
                        "deferred_rows": deferred_rows,
                        "has_initial_seen": self._has_initial_seen,
                        # last committed bloom fold (None = bloom off);
                        # resume reads these shards + the post-fold
                        # seen increments as the pending set
                        "bloom_fold_wave": (
                            bloom_fold_wave if bloom_df is not None else None
                        ),
                        "visits_total": visits_total,
                        "counters": {
                            **{
                                k: v
                                for k, v in vars(c).items()
                                if k != "errors_by_kind"
                            },
                            "errors_by_kind": dict(c.errors_by_kind),
                        },
                    }
                )

            adm.unpersist()
            gated.unpersist()
            phased.unpersist()
            parsed.unpersist()
            for d in wave_pins:
                d.unpersist()
            if opts.collect_logs:
                scheduled.unpersist()

            wave += 1
            # reaching MaxVisits discards the limiting visit's harvest
            # (crawler.go:300-309: stop fires before enqueueUrls)
            if opts.max_visits > 0 and visits_total >= opts.max_visits:
                err = "max_visits"
                stop_after_wave = True
            if stop_after_wave:
                break

        c.end = 1
        if ext.end is not None:
            ext.end(err)
        if bloom_words_df is not None:
            bloom_words_df.unpersist()
        return CrawlResult(
            counters=c,
            err=err,
            waves=wave,
            seen=reduce(DataFrame.unionByName, seen_parts),
            visit_log=reduce(DataFrame.unionByName, visit_parts),
            fetch_log=reduce(DataFrame.unionByName, fetch_parts),
            errors=reduce(DataFrame.unionByName, error_parts),
            host_state=host_state,
            wave_metrics=wave_metrics,
            n_seeds=n_seeds,
            n_seed_hosts=n_seed_hosts,
            log=self._log_lines,
        )
