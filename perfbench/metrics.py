"""The benchmark's metric names, units and bounds; BENCHMARK.json lists
the same, and a test keeps the two equal."""

# the four query leaves whose shuffle volume the traced run reports
SHUFFLE_QUERIES = [
    "embedding_ann_bucketed", "embedding_near_dup",
    "embedding_near_dup_lsh", "dedup_clusters",
]

# name -> (unit, better, bound); the order is the order printed
END_TO_END = {
    "throughput_per_s": ("1/s", "higher", 0.25),
    "total_s": ("s", "lower", 0.25),
    "step_s_p50": ("s", "lower", 0.25),
    "step_s_geomean": ("s", "lower", 0.25),
    "start_s": ("s", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.2),
    "ok_frac": ("ratio", "higher", 0.05),
}

# the LLM-data leaves of __spark_entry__.queries(), in its order; the
# twelve crawl-shaped leaves before them are left out to fit the run
# budget (the crawl workload covers canonicalize, robots and scheduling)
QUERY_NAMES = [
    "dedup_exact", "dedup_minhash", "lsh_pairs", "ngram_jaccard",
    "dedup_pipeline", "dedup_clusters", "media_features", "simhash",
    "lang_id", "quality_score", "lang_id_trigram", "token_count",
    "token_count_bpe", "doc_fingerprint", "embedding_topk",
    "embedding_ann_bucketed", "embedding_near_dup", "embedding_near_dup_lsh",
]

# name -> (unit, better); a metric a workload has no layer for reads 0
PER_LAYER = {
    "functions.canonicalize_us_per_url": ("us", "lower"),
    "functions.extract_page_us_per_page": ("us", "lower"),
    "functions.robots_parse_us_per_body": ("us", "lower"),
    "functions.media_blob_us_per_blob": ("us", "lower"),
    "engine.waves": ("count", "lower"),
    "engine.wave_s_per_wave": ("s", "lower"),
    "engine.jobs_per_wave": ("count", "lower"),
    "engine.job_s_per_wave": ("s", "lower"),
    "engine.driver_nojob_s_per_wave": ("s", "lower"),
    "engine.plan_calls_per_wave": ("count", "lower"),
    "statestore.commits_per_wave": ("count", "lower"),
    "statestore.commit_s_per_wave": ("s", "lower"),
    "statestore.commit_write_task_s_per_wave": ("s", "lower"),
    "statestore.commit_upstream_task_s_per_wave": ("s", "lower"),
    "statestore.bytes_written_per_fetch": ("bytes", "lower"),
    "statestore.resume_read_s": ("s", "lower"),
    "seen.bloom_build_calls": ("count", "lower"),
    "spark.task_cpu_us_per_fetch": ("us", "lower"),
    "spark.shuffle_bytes_per_fetch": ("bytes", "lower"),
    "spark.max_over_median_task_s": ("ratio", "lower"),
    "spark.tiny_stages_per_wave": ("count", "lower"),
    "spark.gc_s_per_wave": ("s", "lower"),
    "spark.slot_utilization": ("ratio", "higher"),
    **{f"operators.{q}_s": ("s", "lower") for q in QUERY_NAMES},
    **{f"spark.shuffle_bytes.{q}": ("bytes", "lower") for q in SHUFFLE_QUERIES},
    "trace.op_s": ("s", "lower"),
}
