"""Arrow batch-size invariance: a pandas-kernel query's RESULT must not
depend on `spark.sql.execution.arrow.maxRecordsPerBatch`. The conf slices
the JVM→Python Arrow stream: `mapInPandas` / scalar `pandas_udf` / UDTF
kernels receive an *iterator of batches* whose boundaries are set by this
knob (default 10000), so a kernel that treats one batch as "the whole
partition" — packing across rows, per-batch top-k shortlists, per-batch
normalization — produces different results on a cluster with a different
batch conf, while passing every same-config suite AND the driver oracle.

Every registered query whose executed plan carries a Python-eval node
runs twice at sf0.001 — session default, then maxRecordsPerBatch=1 (the
degenerate that maximally fragments batches: each kernel invocation sees
exactly one row) — and the two value-multisets must be identical. Floats
canonicalized at 6 significant digits (the plan-shape rule; summation
order inside a kernel may legitimately move double results by ulps).

Group-delivering APIs (`applyInPandas`, cogroup, `applyInPandasWithState`)
receive whole groups regardless of this conf; their queries are kept in
the sweep anyway — invariance is trivially cheap to assert and the pin
protects against a future rewrite onto a batch-sliced API.

The pinned PANDAS_QUERIES set is asserted complete by a plan sweep over
the ENTIRE registry (all Python-eval node types, including the grouped-agg
and window forms nothing uses today) — adding a pandas kernel to any query
without extending this suite fails the completeness test.
"""

from __future__ import annotations

import pytest

from rws_data_ingester_spark.plans import REGISTRY
from tests.conftest import SF_DIR, rows_to_multiset

# Every executed-plan node that moves rows into a Python worker. Plain
# substring match against executedPlan().toString().
PYTHON_EVAL_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",  # also matches ...WithState
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "MapInArrow",
)

# Queries whose executed plan carries a Python-eval node at sf0.001,
# pinned by hand and asserted complete below.
PANDAS_QUERIES = sorted(
    [
        "cogroup_click_attribution",
        "dedup_embedding_cosine",
        "dedup_simhash",
        "grouped_map_zscore",
        "http_fanout_spots",
        "multimodal_adpcm_roundtrip",
        "multimodal_audio_features",
        "multimodal_features",
        "multimodal_frame_sample",
        "multimodal_image_decode",
        "multimodal_jpeg_decode",
        "multimodal_resize",
        "pipeline_embedding_dedup",
        "pipeline_embedding_dedup_lsh",
        "pipeline_pack_sequences",
        "pipeline_report_offline",
        "pipeline_semantic_dedup",
        "pipeline_training_data",
        "simsearch_topk_exact",
        "simsearch_topk_exact_np",
        "simsearch_topk_ivf",
        "simsearch_topk_lsh",
        "simsearch_topk_pq",
        "udf_scalar_vowels",
        "udf_sql_registered",
        "udtf_bigrams",
    ]
)

_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _canon(df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return rows_to_multiset(df.columns, rows, sig=6)


@pytest.mark.parametrize("name", PANDAS_QUERIES)
def test_result_invariant_under_arrow_batch_size(spark, name):
    base = _canon(REGISTRY[name].fn(spark, SF_DIR))
    saved = spark.conf.get(_BATCH_CONF)
    try:
        spark.conf.set(_BATCH_CONF, "1")
        got = _canon(REGISTRY[name].fn(spark, SF_DIR))
    finally:
        spark.conf.set(_BATCH_CONF, saved)
    if got != base:
        only_b = {k: c for k, c in base.items() if got.get(k) != c}
        only_g = {k: c for k, c in got.items() if base.get(k) != c}
        raise AssertionError(
            f"{name}: result depends on Arrow batch size; "
            f"base-only sample {list(only_b.items())[:3]}; "
            f"batch=1-only sample {list(only_g.items())[:3]}"
        )


def test_pack_detail_frame_invariant_under_arrow_batch_size(spark):
    """The registered pipeline_pack_sequences is a 5-number conservation
    audit since round 6 — conserved quantities would survive a kernel
    that packs per BATCH instead of per PARTITION, so the audit alone
    cannot catch the exact failure mode this suite exists for. Pin the
    per-sequence DETAIL frame (sequence ids + member lists + boundaries)
    at batch=1 vs default directly."""
    from rws_data_ingester_spark.operators.packing import pack_documents_detail

    base = _canon(pack_documents_detail(spark, SF_DIR))
    saved = spark.conf.get(_BATCH_CONF)
    try:
        spark.conf.set(_BATCH_CONF, "1")
        got = _canon(pack_documents_detail(spark, SF_DIR))
    finally:
        spark.conf.set(_BATCH_CONF, saved)
    assert got == base, "pack detail depends on Arrow batch size"


def test_pandas_query_pin_is_complete(spark):
    """Sweep every registered plan for Python-eval nodes; the hit set must
    equal PANDAS_QUERIES exactly (no silent new pandas path, no stale pin)."""
    hits = set()
    for name in sorted(REGISTRY):
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if any(n in plan for n in PYTHON_EVAL_NODES):
            hits.add(name)
    assert hits == set(PANDAS_QUERIES), (
        f"unpinned pandas queries {sorted(hits - set(PANDAS_QUERIES))}; "
        f"stale pins {sorted(set(PANDAS_QUERIES) - hits)}"
    )
