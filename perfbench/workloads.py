"""Workloads and metric definitions of the benchmark.

Each workload is a fixed list of registry shapes run as one closed-loop
pass (one client, one query at a time). The run's seed only permutes the
order of the shapes within a pass.

The lists are sized so that one run (set-up plus one pass) stays near
30-45 s on a 4-core host: the benchmark is run ~70 times back to back.
Shapes left out for that reason are listed below the workloads.

Each workload's ``warmup`` shapes run once, untimed, after the fixture is
loaded. None is a timed shape, so no timed shape finds its own generated
code or files already in place. They absorb one-off costs that the first
query of a kind pays in a fresh JVM and that would otherwise land on
whichever shape the seed puts first: JIT and class loading for scans,
aggregation and joins (``agg_cube``, ~3 s), the Python worker's start
(``udf_pandas_scalar``), the first scan of the text corpus
(``corpus_pii_scrub``) and the lake's write and log path
(``lake_compact_small_files``).
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "etl_agg": {
        "why": (
            "the core groupBy/agg path: per-query fixed cost plus scan, "
            "aggregation, join and shuffle, with no Python workers, "
            "builder-time jobs or file writes"
        ),
        "shapes": [
            # the six JVM-only baseline shapes
            "agg_pricing_summary",
            "join_multi_star",
            "limit_topk_global",
            "win_running_total",
            "stream_tumbling_hourly",
            "agg_count_distinct",
            # TPC-H shapes: Q3, Q6, Q13, Q14
            "sql_shipping_priority",
            "sql_forecast_revenue",
            "sql_customer_distribution",
            "sql_promo_revenue",
            # multi-level grouping and customer analytics
            "agg_rollup",
            "agg_grouping_sets",
            "rfm_customer_360",
            "agg_salted_skew",
            "win_global_rank_scalable",
            # 600 k-row results: the Arrow collect path
            "win_vwap",
            "join_shuffle_equi",
        ],
        "warmup": ["agg_cube"],
    },
    "llm_dedup": {
        "why": (
            "LLM-pipeline layers etl_agg bypasses: builder-time iteration, "
            "pair-candidate shuffles, the Arrow/Python worker boundary and "
            "a 1 M-row collect"
        ),
        "shapes": [
            "dedup_connected_components",
            "dedup_near_jaccard",
            "sim_cosine_topk",
            "multimodal_decode_jpeg",
            "multimodal_decode_wav",
            # nine cheap JVM-only dedup, text and corpus stages (0.15-0.35 s):
            # more than half the pass, so its median query sits on the
            # per-query floor even when one of them runs cold
            "dedup_exact",
            "dedup_keep_best",
            "text_quality_score",
            "text_token_counts",
            "text_lang_id",
            "text_token_bpe",
            "text_lang_label_audit",
            "text_code_detect",
            "corpus_shuffle_shards",
        ],
        "warmup": ["agg_cube", "udf_pandas_scalar", "corpus_pii_scrub"],
    },
    "lake_io": {
        "why": (
            "the same scan and execution layers with writes beside reads: "
            "builder-time write-then-read jobs on the transaction-log lake, "
            "streaming checkpoints and file sinks"
        ),
        "shapes": [
            "lake_merge_upsert",
            "lake_zone_map_skip_scan",
            "lake_deletion_vectors",
            "lake_change_feed",
            "stream_lake_sink",
            "sink_parquet_partitioned",
        ],
        "warmup": ["agg_cube", "lake_compact_small_files"],
    },
}

# Shapes a fuller benchmark would add, left out to keep runs short, with
# their single-execution cost at sf0.1 on a 4-core host (fresh JVM / warm):
# - etl_agg: the other 17 sql_* TPC-H shapes (0.2-2.1 s each), agg_cube,
#   cohort_retention, funnel_conversion.
# - llm_dedup: dedup_minhash_error_curve (16 s / 13 s), dedup_near_minhash
#   (6 s / 5 s), dedup_embedding_cluster (7 s / 4 s), dedup_simhash
#   (3.9 s / 3.5 s), text_bm25_search (4 s / 1.4 s), dedup_url_canonical,
#   dedup_ngram_jaccard, dedup_lsh_band_sweep.
# - lake_io: lake_row_lineage (5 s / 4 s), lake_compact_small_files,
#   lake_concurrent_txn_rebase, lake_zorder_cluster, pipeline_lakehouse_ivm,
#   stream_late_data (6.5 s / 5 s), stream_upsert_materialize,
#   sink_dynamic_partition_overwrite, scan_avro_roundtrip.

# (name, unit, what it measures)
END_TO_END = [
    ("setup_s", "s", "harness start to the first timed query: imports, get_spark, load, warm-up"),
    ("wall_s", "s", "wall time of one pass over the workload's shapes (builder + collect)"),
]

# Per-layer metrics: (name, unit, layer, end-to-end metric it should move,
# workloads where it should move).
_OPERATOR_MODULES = [
    "operators.aggs",
    "operators.joins",
    "operators.sorts",
    "operators.windows",
    "operators.sqlsuite",
    "operators.sqlshapes",
    "operators.dedup",
    "operators.corpus",
    "operators.mlprep",
    "operators.vectors",
    "operators.text",
    "operators.multimodal",
    "operators.lake",
    "operators.scans",
    "streaming.ops",
]

PER_LAYER = [
    ("session.get_spark_s", "s", "session", "setup_s", "all"),
    ("loader.load_s", "s", "sources.loader", "setup_s", "all"),
    ("builder.s", "s", "registry builders", "wall_s", "llm_dedup, lake_io"),
    ("builder.jobs", "count", "registry builders", "wall_s", "llm_dedup, lake_io"),
    ("builder.stages", "count", "registry builders", "wall_s", "llm_dedup, lake_io"),
    # The median query is a per-query-floor shape on every workload, but on
    # llm_dedup its run-to-run spread (~30 %) exceeds any bound, so it is
    # not an end-to-end metric.
    ("query_p50_s", "s", "per-query floor", "wall_s", "etl_agg, llm_dedup"),
    ("plan.s", "s", "Spark planning", "wall_s via query_p50_s", "etl_agg"),
    ("exec.s", "s", "Spark execution", "wall_s", "all"),
    ("exec.jobs", "count", "Spark job scheduling", "wall_s via query_p50_s", "etl_agg"),
    ("exec.stages", "count", "Spark job scheduling", "wall_s via query_p50_s", "etl_agg"),
    ("exec.tasks", "count", "Spark job scheduling", "wall_s via query_p50_s", "etl_agg"),
    ("exec.tasks_failed", "count", "Spark execution", "wall_s", "all"),
    ("collect.rows", "count", "Arrow transfer to pandas", "wall_s", "etl_agg, llm_dedup"),
    ("collect.bytes", "B", "Arrow transfer to pandas", "wall_s", "etl_agg, llm_dedup"),
    ("op.shuffle_bytes_written", "B", "physical operators", "wall_s", "etl_agg, llm_dedup"),
    ("op.shuffle_records_written", "count", "physical operators", "wall_s", "etl_agg, llm_dedup"),
    ("op.spill_bytes", "B", "physical operators", "wall_s", "etl_agg, llm_dedup"),
    ("op.peak_memory_bytes", "B", "physical operators", "wall_s", "etl_agg, llm_dedup"),
    ("op.broadcast_bytes", "B", "physical operators", "wall_s", "etl_agg, llm_dedup"),
    ("op.scan_rows", "count", "scans", "wall_s", "etl_agg, lake_io"),
    ("op.scan_files_bytes", "B", "scans", "wall_s", "etl_agg, lake_io"),
    ("op.scan_rows_per_result_row", "ratio", "scans", "wall_s", "etl_agg, lake_io"),
    ("op.python_rows_sent", "count", "Arrow/Python worker boundary", "wall_s", "llm_dedup"),
    ("op.python_bytes_sent", "B", "Arrow/Python worker boundary", "wall_s", "llm_dedup"),
    ("io.wchar_bytes", "B", "lake, streaming, sources.tmpdirs", "wall_s", "lake_io"),
    ("io.rchar_bytes", "B", "lake, streaming, sources.tmpdirs", "wall_s", "lake_io"),
    ("tmp.bytes_left", "B", "sources.tmpdirs", "wall_s", "lake_io"),
    ("jvm.gc_s", "s", "caches and JVM", "wall_s", "llm_dedup"),
    ("jvm.heap_used_mb", "MB", "caches and JVM", "wall_s", "llm_dedup"),
    ("cache.persisted_rdds", "count", "caches and JVM", "wall_s", "llm_dedup"),
    ("failed_frac", "ratio", "output check", "failed", "all"),
    # Peak memory of the JVM plus the harness process varies by more than a tenth
    # between runs (GC timing decides how far the heap grows), so it is not
    # an end-to-end metric.
    ("peak_rss_mb", "MB", "caches and JVM", "wall_s", "llm_dedup"),
    ("trace.wall_s", "s", "tracing", "wall_s", "all"),
] + [
    (f"{mod}.{part}", "s", mod, "wall_s", "the workload that runs it")
    for mod in _OPERATOR_MODULES
    for part in ("builder_s", "exec_s")
]
