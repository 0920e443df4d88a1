"""Embedding aggregation and product-quantization search
(SURVEY.md §2.10 [EXT] similarity-search surface, third ANN tier).

Scale design:
- Centroid aggregation posexplodes to (label, dim, value) and lets the
  partial HashAggregate collapse each partition to labels x dims rows
  BEFORE the shuffle — the exchange carries aggregated cells, not the
  corpus. The alternative (grouped-map pandas UDAF) moves whole vectors
  through Arrow; posexplode stays in whole-stage codegen.
- PQ (product quantization): vectors are L2-normalized, split into M
  subvectors, and each subvector is coded as its nearest of K=256 trained
  centroids — 64 float32 dims become M=8 uint8 codes (32x compression). Queries score candidates with one lookup-table add per subspace
  (ADC), shortlist top-N, then re-rank the shortlist with exact cosine —
  the standard IVF-PQ serving shape (Jégou et al., "Product Quantization
  for Nearest Neighbor Search", TPAMI 2011). At 100 TB only the M-byte
  codes sit in the scan path; full vectors are fetched just for the
  shortlist re-rank (a join by id).

The reference (arianium/rws_data_ingester) has no vector surface at all;
this is mandated [EXT] scope.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.functions.rounding import pround
from rws_data_ingester_spark.operators.similarity import (
    _as_double,
    _collect_queries,
    _cosine_scored,
    _top_k,
    scorable,
)
from rws_data_ingester_spark.plans.registry import query
from rws_data_ingester_spark.session import local_frame


@query(
    "embedding_centroids",
    oracle="""
    WITH expl AS (
      SELECT label, embedding,
             unnest(generate_series(1, len(embedding))) AS i
      FROM embeddings
    )
    SELECT label,
           (i - 1)::BIGINT AS dim,
           ROUND(AVG(embedding[i]::DOUBLE), 6) + 0.0 AS centroid,
           COUNT(*)::BIGINT AS n_vecs
    FROM expl
    GROUP BY label, i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the class centroid a clustering / dedup /
    retrieval pipeline keeps as its coarse index). Exploded output
    (label, dim, centroid) rather than an array column so the value-hash
    check is exact per cell."""
    e = Catalog(spark, sf_dir).embeddings
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", F.col("pos").cast("long").alias("dim"))
        .agg(
            pround(F.avg("col"), 6).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — third ANN tier next to LSH and IVF.
# --------------------------------------------------------------------------
def _kmeans_np(x: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Tiny seeded Lloyd's k-means for PQ codebooks. Runs on a bounded
    driver-side sample (same contract as the LSH hyperplanes / IVF
    centroid literals): the codebook is index metadata, not data."""
    rng = np.random.RandomState(seed)
    k = min(k, len(x))  # degenerate tiny-corpus guard
    cents = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(iters):
        # assignment via ||x||^2 - 2 x.c + ||c||^2 (||x||^2 is constant
        # per row, irrelevant to argmin) — a (n, k) matmul instead of the
        # (n, k, dsub) broadcast temp the naive form materializes
        d = -2.0 * x @ cents.T + (cents**2).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        # vectorized per-cluster means: one scatter-add + bincount
        # replaces the k-iteration python mask loop (the profile showed
        # that loop dominating the train step at k=256 x 8 subspaces x
        # 8 iters); empty clusters keep their previous centroid, same as
        # the masked form did
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, x)
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        nz = counts > 0
        cents[nz] = sums[nz] / counts[nz, None]
    return cents


def pq_train(
    emb: DataFrame,
    m: int = 8,
    k: int = 256,
    sample_n: int = 512,
    seed: int = 42,
) -> np.ndarray:
    """Train the (m, k, dim/m) PQ codebook on a bounded corpus sample.
    Vectors are L2-normalized first so squared-L2 ADC distance ranks
    identically to cosine (||a-b||^2 = 2 - 2 cos on the unit sphere)."""
    # ordered limit (TakeOrderedAndProject) so the training sample — and
    # therefore the codebook — is deterministic at any corpus size
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(sample_n).collect()
    if not rows:
        return None  # empty corpus: no codebook to train (callers short-circuit)
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dsub = x.shape[1] // m
    return np.stack(
        [
            _kmeans_np(x[:, j * dsub : (j + 1) * dsub], k, iters=8, seed=seed + j)
            for j in range(m)
        ]
    )


def pq_encode(emb: DataFrame, codebook: np.ndarray) -> DataFrame:
    """Encode every vector as m uint8 codes (nearest centroid per
    subspace). Vectorized numpy over Arrow batches — the dense-argmin
    inner loop is the BLAS-shaped case where mapInPandas beats Catalyst
    expressions. Output: (vec_id, codes array<int>);
    at scale this is the only copy of the corpus the ANN scan reads."""
    import pandas as pd

    bcb = emb.sparkSession.sparkContext.broadcast(codebook)

    def encode(batches):
        cb = bcb.value  # (m, k, dsub)
        m, _, dsub = cb.shape
        for pdf in batches:
            if len(pdf) == 0:  # filtered-to-empty Arrow batch
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # (n, k) distances via ||a||^2 - 2 a.c + ||c||^2; ||a||^2
                # constant per row, irrelevant to argmin
                d = -2.0 * sub @ cb[j].T + (cb[j] ** 2).sum(axis=1)[None, :]
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes.tolist())}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, codes array<int>"
    )


@query("simsearch_topk_pq", oracle=None)  # approx (trained codebook) → rows-only
def simsearch_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via PQ ADC shortlist + exact re-rank:

    1. train codebook on a sample, encode the corpus to m uint8 codes;
    2. per query, precompute the (m, k) lookup table of subspace
       distances, broadcast it, and score every corpus row with m table
       adds (no vector math in the scan);
    3. shortlist the 50 closest by ADC per query, then re-rank each
       query's own shortlist with the exact refine (``_cosine_scored``)
       to the final top 5.

    Recall vs the exact path is asserted in tests/test_dedup_similarity.py.
    Schema matches simsearch_topk_exact."""
    import pandas as pd

    shortlist_n, k_final = 50, 5
    # unscorable vectors (NULL / NaN / Inf) are neither trained on,
    # encoded, nor queried — np.array would go ragged on a NULL row and
    # NaN poisons codebooks; see similarity.scorable().
    e = scorable(Catalog(spark, sf_dir).embeddings)
    codebook = pq_train(e)
    qrows = _collect_queries(e.filter(F.col("vec_id") < 10)) if codebook is not None else []
    if not qrows:
        # empty/unscorable corpus or no queries: empty result, same schema
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank long"
        )
    codes = pq_encode(e, codebook)
    qids = np.array([r["vec_id"] for r in qrows])
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    m, kk, dsub = codebook.shape
    # (n_queries, m, k) ADC tables: squared L2 between each query subvector
    # and every centroid of that subspace
    luts = np.stack(
        [
            ((qmat[:, j * dsub : (j + 1) * dsub][:, None, :] - codebook[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )
    blut = spark.sparkContext.broadcast((qids, luts))

    def adc(batches):
        ids, tables = blut.value
        for pdf in batches:
            if len(pdf) == 0:  # filtered-to-empty Arrow batch
                continue
            c = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            # dist[q, n] = sum_j tables[q, j, c[n, j]]
            d = np.zeros((len(ids), len(c)))
            for j in range(tables.shape[1]):
                d += tables[:, j, :][:, c[:, j]]
            nb = len(c)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, nb),
                    "neighbor_id": np.tile(pdf["vec_id"].to_numpy(), len(ids)),
                    "adc_dist": d.ravel(),
                }
            )

    scored = codes.mapInPandas(adc, "query_id long, neighbor_id long, adc_dist double")
    wq = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    shortlist = (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc_rank", F.row_number().over(wq))
        .filter(F.col("adc_rank") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )
    # query vectors come from the rows collected above, not a second collect
    qs = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    q = local_frame(spark, qs, "query_id long, qe array<double>")
    c = e.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ce"))
    pairs = shortlist.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
    return _top_k(_cosine_scored(pairs), k_final)
