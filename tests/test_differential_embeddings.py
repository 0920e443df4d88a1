"""Differential fuzz of the embeddings-reading oracle pairs on an
ADVERSARIAL vector corpus the generated fixtures never contain:

- an all-zero vector (zero norm → cosine undefined; int8 scale 0);
- an exact duplicate pair (cosine exactly 1.0 — threshold and top-k tie);
- an exactly-opposite pair (cosine exactly -1.0);
- a vector with a NaN component (poisons dot products; NaN comparison
  and ordering semantics differ subtly across engines);
- a NULL embedding cell (transform/zip_with propagate NULL; unnest drops);
- denormal-tiny (1e-30) and huge (1e30) components (float32 storage,
  float64 math — norm products span ~1e120);
- NULL and negative labels, a single-vector label block.

Also covers the only two oracle pairs that join ACROSS fixture groups
(events ⋈ customer: the stream-static enrichment twins), run on the
adversarial events log × adversarial customer table from the sibling
differential suites.
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest

from rws_data_ingester_spark.plans import REGISTRY
from tests.conftest import rows_to_multiset
from tests.test_differential_events import ADVERSARIAL_EVENTS
from tests.test_differential_tpch import CUSTOMER

DIM = 8


def _vec(*xs):
    v = list(xs) + [0.0] * (DIM - len(xs))
    return [float(x) for x in v]


# (vec_id, embedding float32[8], label)
ADVERSARIAL_EMBEDDINGS = [
    (0, _vec(1.0), 0),                                   # unit x
    (1, _vec(0.6, 0.8), 0),                              # unit in-plane
    (2, _vec(0.6, 0.8), 0),                              # EXACT duplicate of 1
    (3, _vec(0.0), 0),                                   # all-zero vector
    (4, _vec(-1.0), 0),                                  # opposite of 0
    (5, _vec(float("nan"), 1.0), 1),                     # NaN component
    (6, None, 1),                                        # NULL embedding
    (7, _vec(1e-30, 1e-30), 1),                          # denormal-tiny
    (8, _vec(1e30, -1e30, 1e30), 2),                     # huge components
    (9, _vec(-0.5, 0.25, -0.125, 1.0), 2),               # mixed signs
    (10, _vec(0.25, 0.5, 0.75, 1.0, -1.0), None),        # NULL label
    (11, _vec(2.0, 3.0, 4.0), -1),                       # negative label
    (12, _vec(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8), 3),  # lone label
    # negative zero + a tiny negative that rounds to zero from below:
    # DuckDB's ROUND keeps the sign of zero ('-0' when rendered) while
    # the engine normalizes rounded outputs to +0.0 — the oracles carry
    # `+ 0.0` for exactly this row (first_elem/min/max/sum/centroid).
    (13, _vec(-0.0, -1e-9, 0.0), 3),
]


def _emb_only_pairs():
    names = []
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        sql = q.oracle.lower()
        if not re.search(r"\bembeddings\b", sql):
            continue
        others = (
            "events", "documents", "region", "nation", "customer",
            "supplier", "part", "orders", "lineitem",
        )
        if any(re.search(rf"\b{t}\b", sql) for t in others):
            continue
        names.append(name)
    assert len(names) >= 5, names
    return names


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    d = tmp_path_factory.mktemp("adversarial_emb")
    spark.createDataFrame(
        ADVERSARIAL_EMBEDDINGS,
        "vec_id long, embedding array<float>, label int",
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # events + customer for the cross-group stream-static pairs
    spark.createDataFrame(
        ADVERSARIAL_EVENTS,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/events.parquet")
    spark.createDataFrame(
        CUSTOMER,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    return str(d)


def _compare(spark, adversarial_dir, name, tables):
    q = REGISTRY[name]
    sdf = q.fn(spark, adversarial_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{adversarial_dir}/{t}.parquet/*.parquet')"
        )
    res = con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sm, dm = rows_to_multiset(scols, srows), rows_to_multiset(dcols, drows)
    if sm != dm:
        only_s = {k: c for k, c in sm.items() if dm.get(k) != c}
        only_d = {k: c for k, c in dm.items() if sm.get(k) != c}
        raise AssertionError(
            f"{name}: value mismatch on adversarial vectors; "
            f"spark-only sample {list(only_s.items())[:3]}; "
            f"duck-only sample {list(only_d.items())[:3]}"
        )


@pytest.mark.parametrize("name", _emb_only_pairs())
def test_embeddings_oracle_pair_on_adversarial_vectors(spark, adversarial_dir, name):
    _compare(spark, adversarial_dir, name, ["embeddings"])


@pytest.mark.parametrize("name", ["stream_static_enrich_purchases", "stream_static_join"])
def test_cross_group_pair_on_adversarial_tables(spark, adversarial_dir, name):
    _compare(spark, adversarial_dir, name, ["events", "customer"])


def test_fixture_contains_the_advertised_hazards():
    ids = [r[0] for r in ADVERSARIAL_EMBEDDINGS]
    assert len(ids) == len(set(ids))
    by_id = {r[0]: r for r in ADVERSARIAL_EMBEDDINGS}
    assert by_id[1][1] == by_id[2][1]                       # exact dup
    assert all(x == 0.0 for x in by_id[3][1])               # zero vector
    assert math.isnan(by_id[5][1][0])                       # NaN component
    assert by_id[6][1] is None                              # NULL embedding
    assert by_id[10][2] is None and by_id[11][2] == -1      # label edges
    assert math.copysign(1.0, by_id[13][1][0]) == -1.0      # -0.0 component
    assert -1e-8 < by_id[13][1][1] < 0                      # rounds to 0 from below


# --------------------------------------------------------------------------
# Mixed-dimension corpus: two (or three) embedding-model versions landing
# in one table. Before scorable() grew its modal-dimension rule this
# crashed DuckDB's list_inner_product (hard error on length mismatch),
# MLlib KMeans fits (IVF + semantic dedup) and the numpy stacking paths
# (PQ, exact_np), while Catalyst's zip_with silently NULL-padded.
# Contract: off-modal vectors are unscorable — excluded from scoring,
# banding and indexing, kept by removal pipelines.
# --------------------------------------------------------------------------
RAGGED_EMBEDDINGS = (
    [(i, [((i * 31 + j * 17) % 19 - 9) / 9.0 for j in range(8)], i % 4)
     for i in range(40)]                                   # dim-8 majority
    + [
        (100, [1.0, 2.0, 3.0, 4.0], 0),                    # dim-4 (old model)
        (101, [0.1] * 1000, 1),                            # dim-1000 (new model)
        (102, [0.5], 2),                                   # dim-1
    ]
)


@pytest.fixture(scope="module")
def ragged_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ragged_emb")
    spark.createDataFrame(
        RAGGED_EMBEDDINGS, "vec_id long, embedding array<float>, label int"
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return str(d)


@pytest.mark.parametrize("name", _emb_only_pairs())
def test_embeddings_oracle_pair_on_ragged_dimensions(spark, ragged_dir, name):
    _compare(spark, ragged_dir, name, ["embeddings"])


@pytest.mark.parametrize(
    "name",
    [
        "simsearch_topk_lsh", "simsearch_topk_ivf", "simsearch_topk_pq",
        "simsearch_lsh_buckets",
        "pipeline_embedding_dedup_lsh", "pipeline_semantic_dedup",
    ],
)
def test_rows_only_tier_survives_ragged_dimensions(spark, ragged_dir, name):
    REGISTRY[name].fn(spark, ragged_dir).collect()


def test_scorable_drops_off_modal_dimensions(spark, ragged_dir):
    from rws_data_ingester_spark.operators.similarity import scorable

    kept = {
        r["vec_id"]
        for r in scorable(spark.read.parquet(f"{ragged_dir}/embeddings.parquet"))
        .select("vec_id")
        .collect()
    }
    assert kept == set(range(40))  # the dim-8 majority; 100/101/102 dropped


def test_lsh_planes_adapt_to_corpus_dimension(spark, ragged_dir):
    """A fixed 64-wide hyperplane matrix silently collapses LSH on any
    corpus of another dimension: zip_with NULL-pads the shorter side, the
    NULL poisons the dot-product fold, every sign bit reads 0, and all
    vectors land in one bucket (the probe degrades to all-pairs). With
    the modal-dim default, a dim-8 corpus must spread across buckets."""
    sigs = {
        r["lsh_sig"]
        for r in REGISTRY["simsearch_lsh_buckets"].fn(spark, ragged_dir).collect()
    }
    assert len(sigs) > 1, "all vectors fell into a single LSH bucket"
