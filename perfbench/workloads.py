"""The benchmark's workloads: a query list per workload and why it exists.

Each workload stresses different layers of the engine, so an
optimisation of one layer has a workload that exercises it and one that
bypasses it (where the prediction is no change).

BENCHMARK.json lists ``curation`` and ``ingest_stream``: together they
reach every layer, and a third workload does not fit the time the full
set of benchmark runs may take. ``analytics`` (construction and planning
work) and ``curation_multifile`` (the curation queries on a multi-file
3x clone, built once by ``scripts/make_scaled_fixtures.py`` and cached)
stay runnable by hand with ``--workload``.
"""

from __future__ import annotations

ANALYTICS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q10_returned_items", "join_broadcast_star", "join_inner_customer_orders",
    "join_asof_last_click", "join_interval_bucketed", "agg_rollup",
    "agg_distinct", "window_topk_per_group", "window_running",
    "session_window_islands", "tumbling_window_hourly",
    "pipeline_incremental_merge",
)

CURATION = (
    "pipeline_training_data", "dedup_exact_hash", "dedup_minhash_candidates",
    "text_token_topk", "text_quality_scores", "pipeline_quality_filter",
    "pipeline_semantic_dedup", "pipeline_embedding_dedup",
    "pipeline_embedding_dedup_lsh", "simsearch_topk_exact",
    "simsearch_topk_exact_np",
)

INGEST_STREAM = (
    "stream_tumbling_counts", "stream_session_windows",
    "stream_dedup_within_watermark", "stream_static_enrich_purchases",
    "stream_stateful_running_totals", "stream_stream_click_attribution",
    "stream_parquet_sink_recovery", "http_fanout_spots",
    "pipeline_report_offline",
)

WORKLOADS: dict[str, dict] = {
    "analytics": {
        "queries": ANALYTICS,
        "why": "short relational queries where driver construction (pround, "
               "catalog) and Catalyst planning dominate and no eager jobs run",
    },
    "curation": {
        "queries": CURATION,
        "why": "the LLM-data funnel: eager construction jobs (CC, IVF fit, "
               "checkpoints) plus execution-heavy MinHash and pair scoring",
    },
    "curation_multifile": {
        "queries": CURATION,
        "clone": 3,
        "why": "the curation funnel on a 3x multi-file clone (8+ files per "
               "table), where scans are parallel and execution dominates",
    },
    "ingest_stream": {
        "queries": INGEST_STREAM,
        "why": "incremental windows, dedup and joins with state stores, "
               "checkpoints and sinks, plus the Python-worker ingest path",
    },
}

# Scale factor of the generated warehouse every workload reads.
SF = 0.1
