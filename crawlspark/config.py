"""Engine configuration.

Mirrors the reference's run options (reference: options.go:10-78) as a
plain dataclass consumed by the wave loop, plus the URL-normalization
flag set (reference default: purell ``FlagsAllGreedy``,
options.go:17).  The flag constants re-state purell's public
documentation; the normalization itself is implemented from scratch in
:mod:`crawlspark.functions.urlnorm`.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field


class NormalizationFlags(enum.IntFlag):
    """URL normalization flags (purell-compatible, public API surface).

    Only the combinations exercised by the reference's tests are
    correctness-pinned: ``ALL_GREEDY`` (the default,
    reference options.go:17), ``USUALLY_SAFE_NON_GREEDY``
    (tbldef_test.go:1049,1074) and ``SAFE | ADD_TRAILING_SLASH``
    (worker_test.go:39).
    """

    NONE = 0
    LOWERCASE_SCHEME = 1 << 0
    LOWERCASE_HOST = 1 << 1
    UPPERCASE_ESCAPES = 1 << 2
    DECODE_UNNECESSARY_ESCAPES = 1 << 3
    ENCODE_NECESSARY_ESCAPES = 1 << 4
    REMOVE_DEFAULT_PORT = 1 << 5
    REMOVE_EMPTY_QUERY_SEPARATOR = 1 << 6
    REMOVE_TRAILING_SLASH = 1 << 7
    ADD_TRAILING_SLASH = 1 << 8
    REMOVE_DOT_SEGMENTS = 1 << 9
    REMOVE_DIRECTORY_INDEX = 1 << 10
    REMOVE_FRAGMENT = 1 << 11
    FORCE_HTTP = 1 << 12
    REMOVE_DUPLICATE_SLASHES = 1 << 13
    REMOVE_WWW = 1 << 14
    ADD_WWW = 1 << 15
    SORT_QUERY = 1 << 16
    DECODE_DWORD_HOST = 1 << 17
    DECODE_OCTAL_HOST = 1 << 18
    DECODE_HEX_HOST = 1 << 19
    REMOVE_UNNECESSARY_HOST_DOTS = 1 << 20
    REMOVE_EMPTY_PORT_SEPARATOR = 1 << 21

    @classmethod
    def safe(cls) -> "NormalizationFlags":
        return (
            cls.LOWERCASE_SCHEME
            | cls.LOWERCASE_HOST
            | cls.UPPERCASE_ESCAPES
            | cls.DECODE_UNNECESSARY_ESCAPES
            | cls.ENCODE_NECESSARY_ESCAPES
            | cls.REMOVE_DEFAULT_PORT
            | cls.REMOVE_EMPTY_QUERY_SEPARATOR
        )

    @classmethod
    def usually_safe_greedy(cls) -> "NormalizationFlags":
        return cls.safe() | cls.REMOVE_TRAILING_SLASH | cls.REMOVE_DOT_SEGMENTS

    @classmethod
    def usually_safe_non_greedy(cls) -> "NormalizationFlags":
        return cls.safe() | cls.ADD_TRAILING_SLASH | cls.REMOVE_DOT_SEGMENTS

    @classmethod
    def unsafe_greedy(cls) -> "NormalizationFlags":
        return (
            cls.usually_safe_greedy()
            | cls.REMOVE_DIRECTORY_INDEX
            | cls.REMOVE_FRAGMENT
            | cls.FORCE_HTTP
            | cls.REMOVE_DUPLICATE_SLASHES
            | cls.REMOVE_WWW
            | cls.SORT_QUERY
        )

    @classmethod
    def all_greedy(cls) -> "NormalizationFlags":
        return (
            cls.unsafe_greedy()
            | cls.DECODE_DWORD_HOST
            | cls.DECODE_OCTAL_HOST
            | cls.DECODE_HEX_HOST
            | cls.REMOVE_UNNECESSARY_HOST_DOTS
            | cls.REMOVE_EMPTY_PORT_SEPARATOR
        )


FLAGS_SAFE = NormalizationFlags.safe()
FLAGS_USUALLY_SAFE_GREEDY = NormalizationFlags.usually_safe_greedy()
FLAGS_USUALLY_SAFE_NON_GREEDY = NormalizationFlags.usually_safe_non_greedy()
FLAGS_UNSAFE_GREEDY = NormalizationFlags.unsafe_greedy()
FLAGS_ALL_GREEDY = NormalizationFlags.all_greedy()

DEFAULT_ROBOT_USER_AGENT = "Googlebot (gocrawl v0.4)"


class LogFlags(enum.IntFlag):
    """Leveled log verbosity flags (reference: logger.go:10-19).

    ``Options.log_flags`` selects which levels are emitted; disabled
    levels cost nothing (the engine skips the driver collects that feed
    them).  Lines land in ``CrawlResult.log`` unless ``Extender.log``
    is set."""

    NONE = 0
    ERROR = 1 << 0
    INFO = 1 << 1
    ENQUEUED = 1 << 2
    IGNORED = 1 << 3
    TRACE = 1 << 4
    ALL = ERROR | INFO | ENQUEUED | IGNORED | TRACE


@dataclass
class Options:
    """Static run configuration (reference: options.go:22-78).

    Durations are milliseconds.  ``worker_idle_ttl_waves`` replaces the
    reference's wall-clock ``WorkerIdleTTL`` (options.go:16) with a
    wave-count eviction horizon, the batch-iterative analog: a host
    whose state has been inactive for more than this many waves is
    evicted from ``host_state`` (robots re-fetched on reappearance).

    Only values that callers set differently are options.  Fixed engine
    policy lives next to the code that applies it, and decisions the
    engine can make from the exact row counts every commit records are
    not options:

    - hot-host salting (SURVEY §4 P11) follows the known wave bound:
      hosts whose previous-wave batch reaches
      ``operators.skew.SALT_THRESHOLD_ROWS`` (clamped to the wave's
      per-task share) take the salted path, and a wave bounded below it
      runs the plain window with no detection job;
    - the Bloom fold threshold is derived from shard capacity
      (``plans.engine.BLOOM_FOLD_MIN_ROWS``), and the engage ratio is
      ``plans.engine.BLOOM_ENGAGE_SEEN_PER_WAVE_RATIO``;
    - there is one Bloom probe, the broadcast join
      (``operators.seen.apply_bloom_join``);
    - the salted-sequencing bucket count is the skew operators' default
      (2 × ``defaultParallelism``), the end-of-wave commits always
      overlap, and the session's shuffle partitions are set by
      ``session.get_spark``.
    """

    robot_user_agent: str = DEFAULT_ROBOT_USER_AGENT
    max_visits: int = 0  # 0 = unlimited (crawler.go:303-309)
    crawl_delay_ms: int = 5000  # DefaultCrawlDelay = 5s (options.go:15)
    worker_idle_ttl_waves: int = 0  # 0 = never evict
    same_host_only: bool = True
    head_before_get: bool = False
    url_normalization_flags: NormalizationFlags = field(
        default_factory=NormalizationFlags.all_greedy
    )
    # engine knobs (no reference analog — Spark-scale machinery)
    # politeness budget / hot-host backpressure (SURVEY §4 P11, §2.10):
    # at most this many URLs fetched per host per wave (0 = unlimited);
    # the overflow defers to the next wave without re-admission — the
    # batch analog of "a host can only fetch wave_duration/crawl_delay
    # URLs anyway", and the skew bound on the per-host serial dimension
    max_urls_per_host_per_wave: int = 0
    use_bloom_seen: bool = False  # Bloom pre-filter before the seen join
    # leveled log verbosity (logger.go:21-29); NONE = silent and free.
    # Non-NONE levels collect small per-wave frames driver-side (the
    # logAssert parity surface) — a debug/parity mode, not the 100 TB
    # throughput path.
    log_flags: int = 0
    # seen-table increment compaction (the Iceberg rewrite/MERGE analog):
    # the seen set is an append-only list of per-wave increments; probing
    # it re-plans an O(waves)-way union every wave.  Every N waves the
    # increments compact into ONE snapshot (parquet in checkpoint mode,
    # localCheckpoint otherwise) so plan depth and probe cost stay flat
    # on deep frontiers.  0 = never compact.
    seen_compact_every: int = 8
    bloom_partitions: int = 32
    bloom_expected_per_partition: int = 1_000_000
    bloom_fpp: float = 0.01
    # crossover gate: with seen below this many rows the sidecar stays
    # DORMANT (no build, no probe, zero jobs — the exact join alone is
    # cheaper than any pre-filter there) and engages with ONE build
    # pass over the full seen set when it crosses.  0 = engage at run
    # start (small-fixture tests exercise the bloom path directly);
    # -1 (the DEFAULT) = derive the threshold from the measured
    # crossover as a seen/wave RATIO (engine.BLOOM_ENGAGE_SEEN_PER_WAVE_RATIO
    # × the current wave's candidate bound), both counted exactly by
    # the commits.  Dormancy never risks a stale filter: engaging
    # builds over the full seen set.  Caller-prebuilt initial_bloom /
    # resumed shards always engage.
    bloom_min_seen_rows: int = -1
    checkpoint_dir: str | None = None  # None → in-memory localCheckpoint
    # durable-state backend override (sources/statestore.py StateStore);
    # None → ParquetStateStore(checkpoint_dir) when checkpoint_dir is
    # set.  On a cluster pass IcebergStateStore(spark, catalog=...) —
    # the engine's commit points and read-back contract are identical.
    state_store: object | None = None
    max_waves: int = 1000  # safety stop for the fixpoint loop
    collect_logs: bool = True  # False: skip visit/fetch/error logs
    # (counters stay exact) — the throughput configuration
    # read by nothing: the end-of-wave commits always overlap.  Kept
    # only so existing callers that still pass it keep working.
    parallel_checkpoints: bool = False
