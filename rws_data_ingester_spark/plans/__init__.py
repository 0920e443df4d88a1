"""Query plan registry — the declared surface of the engine.

Importing this package pulls in every operator module, each of which
registers its named queries (Spark callable + optional DuckDB oracle SQL)
into ``REGISTRY``. ``__spark_entry__.py`` and the tests both read from here,
so the driver contract and the test suite can never drift apart.
"""

from rws_data_ingester_spark.plans.registry import REGISTRY, query, oracle_pairs  # noqa: F401

# Import for side effect: each module registers its queries.
#
# ORDER MATTERS: the driver's correctness gate checks the first 50
# registered queries, so modules whose queries have not yet appeared in a
# CORRECTNESS_r{N}.json go FIRST. Round-1 verified analytics/relational/
# aggregates (48 green) rotate to the back; round 2 front-loads the
# LLM-pipeline block (dedup/similarity/text/multimodal), windows,
# temporal/streaming, scalars, UDFs, and connectors. COVERAGE.md keeps
# the which-round-verified-what ledger.
from rws_data_ingester_spark.operators import (  # noqa: F401
    dedup,
    similarity,
    text,
    multimodal,
    windows,
    temporal,
)
from rws_data_ingester_spark.functions import scalars, udfs  # noqa: F401
from rws_data_ingester_spark.sources import connector_queries, ingest_queries  # noqa: F401
from rws_data_ingester_spark.streaming import stream_queries  # noqa: F401
from rws_data_ingester_spark.operators import (  # noqa: F401
    analytics,
    relational,
    aggregates,
)
# Round-2 additions: registered LAST so the curated first-50 window above
# is untouched; these rotate into the check window in round 3.
from rws_data_ingester_spark.operators import cluster, mixing, packing, training, quality  # noqa: F401
from rws_data_ingester_spark.operators import incremental, layout  # noqa: F401
from rws_data_ingester_spark.sources import pyds  # noqa: F401
from rws_data_ingester_spark.operators import vectors, ids, tokenizer, scale  # noqa: F401
from rws_data_ingester_spark.operators import timeseries  # noqa: F401

# The driver's correctness gate checks the first 50 registered queries:
# ``_ACTIVE_WINDOW`` is promoted to the front regardless of module order.
# It was chosen by the freshness rotation in COVERAGE.md: first driver rows
# for `join_salted_adaptive` and `session_window_sharded`, then the
# round-7-vintage re-proofs, then the 4 alphabetically-first round-8-vintage
# heads. Past windows live in git history and in the CORRECTNESS_r*.json
# keys; stage the next one here when the rotation calls for it.
_ACTIVE_WINDOW = (
    # first-proof slots: no driver row before this window
    "join_salted_adaptive",
    "session_window_sharded",
    # round-7 vintage (44)
    "embedding_centroids",
    "embedding_quantize_int8",
    "engagement_rolling_active",
    "grouped_map_zscore",
    "ids_assign_contiguous",
    "join_lateral_topn",
    "join_null_safe",
    "join_salted_skew",
    "multimodal_audio_features",
    "multimodal_image_decode",
    "pipeline_cached_reuse",
    "pipeline_data_mix",
    "pipeline_mix_temperature",
    "pipeline_quality_filter",
    "pipeline_train_val_test",
    "rollup_time_hierarchy",
    "sample_deterministic",
    "sample_stratified_capped",
    "scalar_bitwise",
    "scalar_encode_map_funcs",
    "scalar_generators",
    "scd2_intervals",
    "sql_passthrough_segment_revenue",
    "stream_dedup_within_watermark",
    "stream_parquet_sink_recovery",
    "stream_scheduled_refresh",
    "stream_session_windows",
    "stream_sliding_counts",
    "stream_static_enrich_purchases",
    "stream_tumbling_counts",
    "text_chunk_overlap",
    "text_contamination",
    "text_length_outliers",
    "text_pii_redact",
    "text_repetition",
    "text_token_count_bpe",
    "text_vocab_oov",
    "timeseries_anomaly_zscore",
    "timeseries_gapfill",
    "trend_wow_revenue",
    "udaf_geomean_price",
    "udf_scalar_vowels",
    "udf_sql_registered",
    "udtf_bigrams",
    # round-8 vintage heads, alphabetically first (4)
    "agg_approx_distinct_bounds",
    "agg_bool",
    "agg_corr_covar",
    "agg_grouping_id",
)
assert len(_ACTIVE_WINDOW) == 50, len(_ACTIVE_WINDOW)

_missing = [n for n in _ACTIVE_WINDOW if n not in REGISTRY]
assert not _missing, f"active window names not registered: {_missing}"
_reordered = {n: REGISTRY[n] for n in _ACTIVE_WINDOW}
for _n, _q in list(REGISTRY.items()):
    _reordered.setdefault(_n, _q)
REGISTRY.clear()
REGISTRY.update(_reordered)
