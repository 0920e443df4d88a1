"""Sequence-packing invariants: exactly-once coverage, budget respect,
determinism, and per-partition equivalence to the greedy reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from rws_data_ingester_spark.plans.registry import REGISTRY
from tests.conftest import SF_DIR

BUDGET = 256


def _packed(spark):
    # the per-sequence detail frame (the registered query reduces it to
    # oracle-checkable conservation invariants; these tests pin the
    # partition-layout-dependent detail the oracle cannot see)
    from rws_data_ingester_spark.operators.packing import pack_documents_detail

    return pack_documents_detail(spark, SF_DIR).collect()


def test_every_doc_packed_exactly_once(spark):
    rows = _packed(spark)
    packed_ids = [
        int(x) for r in rows for x in r["doc_ids_csv"].split(",") if x != ""
    ]
    all_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    assert sorted(packed_ids) == sorted(all_ids)
    assert len(packed_ids) == len(set(packed_ids))


def test_budget_respected_except_singletons(spark):
    for r in _packed(spark):
        if r["total_tokens"] > BUDGET:
            assert r["n_docs"] == 1 and r["truncated"]
        else:
            assert not r["truncated"]
        assert r["n_docs"] >= 1


def test_packing_deterministic(spark):
    a = {r["seq_id"]: r["doc_ids_csv"] for r in _packed(spark)}
    b = {r["seq_id"]: r["doc_ids_csv"] for r in _packed(spark)}
    assert a == b


def test_greedy_fill_matches_reference(spark):
    """Within each packed sequence run, replay the greedy algorithm in
    pure Python over the same doc ordering and compare boundaries."""
    docs = {
        r["doc_id"]: r["n_tokens"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
        .collect()
    }
    rows = sorted(_packed(spark), key=lambda r: r["seq_id"])
    # group sequences by partition base (seq_id >> 20), replay greedy per group
    from collections import defaultdict

    groups = defaultdict(list)
    for r in rows:
        groups[r["seq_id"] >> 20].append(r)
    for base, seqs in groups.items():
        doc_stream = [
            int(x) for r in seqs for x in r["doc_ids_csv"].split(",")
        ]
        assert doc_stream == sorted(doc_stream)  # contiguous id order
        expected, cur, cur_tok = [], [], 0
        for did in doc_stream:
            nt = docs[did]
            if cur and cur_tok + nt > BUDGET:
                expected.append(cur)
                cur, cur_tok = [], 0
            cur.append(did)
            cur_tok += nt
        if cur:
            expected.append(cur)
        got = [[int(x) for x in r["doc_ids_csv"].split(",")] for r in seqs]
        assert got == expected


def test_training_funnel_invariants(spark):
    """Funnel rows monotonically non-increasing through the filter
    stages; packing conserves the capped corpus token count exactly."""
    rows = {
        r["stage"]: r
        for r in REGISTRY["pipeline_training_data"].fn(spark, SF_DIR).collect()
    }
    order = ["raw", "exact_dedup", "near_dedup", "quality_gate",
             "decontaminated", "lang_capped"]
    for a, b in zip(order, order[1:]):
        assert rows[b]["n_rows"] <= rows[a]["n_rows"]
        assert rows[b]["n_tokens"] <= rows[a]["n_tokens"]
    assert rows["packed"]["n_tokens"] == rows["lang_capped"]["n_tokens"]
    assert 0 < rows["packed"]["n_rows"] < rows["lang_capped"]["n_rows"]


def test_lang_cap_collect_is_bounded(spark, monkeypatch):
    """The lang-cap ids come back to the driver through a bounded
    collect: one id past ``_MAX_CAPPED_IDS`` raises instead of growing
    the driver list with the language count."""
    import pytest

    from rws_data_ingester_spark.operators import training

    fn = REGISTRY["pipeline_training_data"].fn
    rows = {r["stage"]: r for r in fn(spark, SF_DIR).collect()}
    n = rows["lang_capped"]["n_rows"]
    assert 0 < n <= training._MAX_CAPPED_IDS
    monkeypatch.setattr(training, "_MAX_CAPPED_IDS", n - 1)
    with pytest.raises(RuntimeError, match=f"more than {n - 1} doc ids"):
        fn(spark, SF_DIR)
