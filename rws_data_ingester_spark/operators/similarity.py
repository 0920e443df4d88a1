"""Similarity search over embedding columns (SURVEY.md §2.10 [EXT]).

Four tiers behind one semantic contract (top-k cosine neighbors):
- exact (``cosine_topk``) — oracle-checkable: the bounded query set is
  collected and broadcast as one matrix, and every Arrow batch of the
  corpus is scored against it in ``mapInPandas``;
- LSH (banded random-hyperplane signatures) — corpus rows meet a query
  only inside a shared band bucket;
- IVF (k-means coarse quantizer) — a query probes its nearest cells only;
- PQ (product-quantization ADC shortlist, ``vectors.simsearch_topk_pq``).

Every reported cosine is one arithmetic, ``_tile_cosines`` in numpy:
float64 (cast from the float32 storage type), each dot the left-to-right
fold ``acc += a[k]*b[k]`` from 0.0, the norm ``sqrt`` of the same fold,
the cosine ``dot / (na*nb)``, NULL where that denominator is 0. The
approximate tiers are candidate filters in front of one refine step,
``_cosine_scored``, which scores the listed pairs of an Arrow batch
together; the exact tier scores queries × Arrow batch tiles, the
near-dup blocks of ``embedding_dup_ids`` row tiles of a block. No BLAS
sum is used, so every tier gives the same bits for the same pair.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.functions.rounding import pround
from rws_data_ingester_spark.plans.registry import REGISTRY, query
from rws_data_ingester_spark.session import local_frame, shuffle_partitions


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


# One SQL parse instead of the Column/lambda form (r11): the exists()
# higher-order builder alone cost ~10 py4j round trips per call and
# scorable() is constructed 1-2x per similarity query per invocation
# (~0.13 s of pure driver time each, measured by cProfile on
# simsearch_topk_exact). Identical predicate -> identical plan.
_FINITE_PRED = (
    "embedding IS NOT NULL AND NOT exists(embedding,"
    " x -> isnan(x) OR abs(x) = cast('Infinity' as double))"
)


def _finite_vectors(df: DataFrame) -> DataFrame:
    """NULL embeddings and embeddings with NaN/±Inf components dropped —
    the value half of the scorable() contract."""
    return df.filter(F.expr(_FINITE_PRED))


# modal_dim results keyed by DataFrame.semanticHash(): one dim-discovery
# job per corpus per session, not one per scorable() call — re-running a
# query (bench medians, retries) then pays nothing. Safe because a given
# logical plan over immutable corpus files has a stable modal dimension
# within a session; rewriting the files under the SAME path mid-session
# would go stale (tests use fresh tmp dirs; production embedding corpora
# are not rewritten mid-job). Lifetime: the dict lives on the session
# object, like the catalog's table handles (catalog._HANDLES_ATTR), so
# it is freed with its session.
_MODAL_DIMS_ATTR = "_rws_modal_dims"


def modal_dim(df: DataFrame) -> int | None:
    """The dominant embedding length among the finite vectors of ``df``
    (count ties break to the smallest length, deterministically on both
    engines), or None when no finite vector exists. One cheap
    size-histogram aggregate per corpus per session (see cache note) —
    at 100 TB it is one long per (partition, distinct size) reduced to a
    single row, negligible next to any scoring pass, and corpora with a
    statically known dimension can pass it to scorable() directly."""
    dims = vars(df.sparkSession).setdefault(_MODAL_DIMS_ATTR, {})
    key = df.semanticHash()
    if key not in dims:
        row = (
            _finite_vectors(df)
            .groupBy(F.size("embedding").alias("_dim"))
            .agg(F.count("*").alias("_n"))
            .orderBy(F.desc("_n"), F.asc("_dim"))
            .limit(1)
            .collect()
        )
        dims[key] = row[0]["_dim"] if row else None
    return dims[key]


def scorable(df: DataFrame, dim: int | None = None) -> DataFrame:
    """Drop vectors no similarity tier can score or index: NULL
    embeddings, embeddings containing NaN/±Inf components, and vectors
    whose length differs from the corpus's dominant dimension. MLlib's
    Vector rejects NaN/Inf outright, a NaN poisons every cosine tile it
    touches, treating NaN >= threshold as a near-dup hit would drop good
    rows — and a mixed-dimension corpus (two embedding model versions
    landing in one table) crashes MLlib fits, numpy stacking, and
    DuckDB's list_inner_product, while Catalyst's zip_with silently
    NULL-pads. So unscorable vectors are excluded from scoring, banding
    and indexing (they are still KEPT by removal pipelines: never a
    dup). ``dim`` lets two-sided operators pin both sides to the SAME
    corpus-derived dimension (see cosine_topk); default is the modal
    dimension of ``df`` itself, folded in as a literal so the dimension
    check fuses into the scan (no extra plan node). The DuckDB oracle
    twin is `embedding IS NOT NULL AND len(list_filter(embedding,
    x -> isnan(x) OR isinf(x))) = 0 AND len(embedding) = (SELECT
    len(embedding) ... GROUP BY 1 ORDER BY COUNT(*) DESC, 1 LIMIT 1)`."""
    d = modal_dim(df) if dim is None else dim
    if d is None:  # no finite vectors at all — empty frame, same schema
        return _finite_vectors(df).filter(F.lit(False))
    # one combined filter = one Dataset construction (each PySpark
    # transformation is an eager JVM analysis pass); Catalyst merged the
    # two-filter form into this exact conjunction anyway
    return df.filter(F.expr(f"{_FINITE_PRED} AND size(embedding) = {int(d)}"))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Keep the k best neighbors per query (cosine desc, neighbor_id as
    the total tiebreak) via a rank-limited window — Catalyst pushes the
    limit into the sort."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _fold_norms(xt: np.ndarray) -> np.ndarray:
    """Norms of the columns of ``xt`` (row k: component k of every
    vector): ``sqrt`` of the dot fold of each vector with itself."""
    sq = np.zeros(xt.shape[1])
    for row in xt:
        sq += row * row
    return np.sqrt(sq)


def _tile_cosines(at: np.ndarray, an: np.ndarray, bt: np.ndarray, bn: np.ndarray) -> np.ndarray:
    """The one numpy cosine of ``at`` and ``bt`` (float64, axis 0 =
    component k) with their ``_fold_norms`` ``an``/``bn``, broadcast over
    the other axes: ``at[:, :, None]`` with a (d, m) ``bt`` is the n×m
    tile, two (d, n) operands are n listed pairs. NaN (SQL NULL) where
    ``an*bn`` is 0. Each dot is the left-to-right ``acc + a[k]*b[k]`` sum
    from 0.0, vectorized across pairs and never across k: bit-identical
    to the SQL ``aggregate(zip_with(…))`` fold on any shape, where a BLAS
    matmul reassociates the sum in a shape-dependent way."""
    dot = np.zeros(np.broadcast_shapes(at.shape[1:], bt.shape[1:]))
    prod = np.empty_like(dot)
    for ak, bk in zip(at, bt):
        np.multiply(ak, bk, out=prod)
        dot += prod
    den = np.multiply(an, bn, out=prod)
    with np.errstate(divide="ignore", invalid="ignore"):
        np.divide(dot, den, out=dot)
    dot[den == 0.0] = np.nan
    return dot


def _cosine_scored(pairs: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine_sim) of listed candidate pairs, each
    carrying both float64 vectors (query_id, qe, neighbor_id, ce), cosine
    rounded to 6 places: the refine step of the approximate tiers (all
    vectors scorable(), of one dimension). An Arrow batch is one
    ``_tile_cosines`` call however many queries it mixes, and the query
    vector rides on the pair row, so no query set reaches the driver."""
    import pyarrow as pa

    def components(col):  # list column of n d-vectors → (d, n), no per-row arrays
        return np.ascontiguousarray(col.flatten().to_numpy().reshape(len(col), -1).T)

    def score(batches):
        for b in batches:
            if b.num_rows == 0:  # filtered-to-empty Arrow batch
                continue
            qt, ct = components(b.column("qe")), components(b.column("ce"))
            sims = _tile_cosines(qt, _fold_norms(qt), ct, _fold_norms(ct))
            yield pa.RecordBatch.from_arrays(
                # from_pandas maps NaN → SQL NULL
                [b.column("query_id"), b.column("neighbor_id"), pa.array(sims, from_pandas=True)],
                names=["query_id", "neighbor_id", "cosine_sim"],
            )

    scored = pairs.select("query_id", "qe", "neighbor_id", "ce").mapInArrow(
        score, "query_id long, neighbor_id long, cosine_sim double"
    )
    # rounded in Spark, as in cosine_topk
    return scored.withColumn("cosine_sim", pround("cosine_sim", 6))


# The exact tier broadcasts the query matrix and scores (queries × Arrow
# batch) tiles, ~80 bytes per pair in the Python worker (SCALE.md): at
# most _MAX_QUERIES + 1 query rows reach the driver.
_MAX_QUERIES = 256


def _collect_queries(queries: DataFrame) -> list:
    """(vec_id, embedding) rows of a query set that is small by contract."""
    rows = queries.select("vec_id", "embedding").limit(_MAX_QUERIES + 1).collect()
    if len(rows) > _MAX_QUERIES:
        raise RuntimeError(
            f"more than {_MAX_QUERIES} query vectors for exact top-k: the"
            " query matrix is broadcast to every task; search large query"
            " sets on the LSH or IVF tier (simsearch_topk_lsh, simsearch_topk_ivf)"
        )
    return rows


def cosine_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast the collected query matrix
    and score each Arrow batch of the corpus as one ``_tile_cosines``
    tile in mapInPandas, self pairs dropped."""
    import pandas as pd

    # Unscorable vectors (NULL / NaN / Inf / off-dimension) are dropped
    # from both sides up front — see scorable(). Both sides pin to the
    # CORPUS's modal dimension: a query from a different model version
    # must return no neighbors, not NULL-padded garbage similarities.
    d = modal_dim(corpus)
    # a NULL vec_id never pairs, as under a `query_id != neighbor_id` join
    qrows = [r for r in _collect_queries(scorable(queries, d)) if r["vec_id"] is not None]
    if not qrows:  # no scorable queries: empty result, same schema
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank long"
        )
    qids = np.array([r["vec_id"] for r in qrows])
    qt = np.array([r["embedding"] for r in qrows], dtype=np.float64).T.copy()
    bq = queries.sparkSession.sparkContext.broadcast((qids, qt, _fold_norms(qt)))

    def score(batches):
        ids, qt, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:  # filtered-to-empty Arrow batch
                continue
            cids = pdf["vec_id"].to_numpy()
            ct = np.stack(pdf["embedding"].to_numpy()).astype(np.float64).T.copy()
            sims = _tile_cosines(qt[:, :, None], qn[:, None], ct, _fold_norms(ct))
            keep = (ids[:, None] != cids[None, :]) & pdf["vec_id"].notna().to_numpy()
            qi, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": ids[qi],
                    "neighbor_id": cids[ci],
                    # Float64 extension dtype maps NaN → NA → SQL NULL
                    "cosine_sim": pd.array(sims[keep], dtype="Float64"),
                }
            )

    scored = scorable(corpus, d).select("vec_id", "embedding").mapInPandas(
        score, "query_id long, neighbor_id long, cosine_sim double"
    )
    # round in Spark, not numpy: np.round is half-to-even; pround matches
    # the DuckDB oracle's rounding like every other query here
    return _top_k(scored.withColumn("cosine_sim", pround("cosine_sim", 6)), k)


@query(
    "simsearch_topk_exact",
    oracle="""
    -- Unscorable embeddings (NULL / NaN / Inf components, or a length
    -- off the corpus's modal dimension — mixed embedding-model versions)
    -- are excluded on both sides — the oracle twin of scorable(); a
    -- zero-norm vector still participates with NULL cosine, ranked DESC
    -- NULLS LAST to match Spark's desc() default so the tail of a short
    -- candidate list agrees.
    WITH nn AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
    dim AS (SELECT len(e) AS d FROM nn GROUP BY d
            ORDER BY COUNT(*) DESC, d LIMIT 1),
    v AS (SELECT nn.* FROM nn, dim WHERE len(nn.e) = dim.d),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.e, c.e)
               / nullif(sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)), 0), 6)
               + 0.0 AS cosine_sim
      FROM v q JOIN v c ON q.vec_id != c.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, cosine_sim, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC NULLS LAST, neighbor_id)::BIGINT AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def simsearch_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).embeddings
    return cosine_topk(e.filter(F.col("vec_id") < 10), e, k=5)


# --------------------------------------------------------------------------
# Random-hyperplane LSH — the approximate scale path (rows-only check;
# recall vs the exact path is asserted in tests/test_dedup_similarity.py).
# --------------------------------------------------------------------------
def _sql_double(x: float) -> str:
    """One float64 literal as SQL text. repr() is the shortest string
    that round-trips to the same double under correct rounding, and
    Java's Double.parseDouble is also correctly rounding, so the parsed
    literal is bit-identical to the Python value F.lit would ship."""
    return f"cast('{float(x)!r}' as double)"


def _plane_dot_sql(e_name: str, plane) -> str:
    """Fold one hyperplane (a driver-side float row) against an
    ALREADY-cast float64 array column, rendered as SQL TEXT. Same
    zip_with/aggregate chain (same IEEE fold order → bit-identical dot),
    but the whole driver-side literal matrix lands in ONE F.expr parse:
    the Column-API form issued one py4j round trip per F.lit — n_planes ×
    dim ≈ 1k calls ≈ 1.5 s of pure construction per query invocation
    (r11 A/B: banded signature construction 1645 → 111 ms)."""
    arr = "array(" + ", ".join(_sql_double(x) for x in plane) + ")"
    return (
        f"aggregate(zip_with({e_name}, {arr}, (x, y) -> x * y),"
        f" cast(0.0 as double), (acc, x) -> acc + x)"
    )


def _sign_bits_sql(e_name: str, planes) -> str:
    """The sign bits of an ALREADY-cast float64 array column against a
    block of hyperplanes, packed into one bigint as SQL TEXT: bit i is
    set iff the dot with ``planes[i]`` is positive. CASE WHEN dot > 0
    THEN 2^i ELSE 0 — long literals, summed then cast: value-identical
    to the historical int-bit sum (all fits in 62 bits)."""
    bits = " + ".join(
        f"(case when {_plane_dot_sql(e_name, plane)} > 0 then {2 ** i}L else 0L end)"
        for i, plane in enumerate(planes)
    )
    return f"cast({bits} as bigint)"


def hyperplane_signature(df: DataFrame, dim: int | None = None, n_planes: int = 16, seed: int = 42) -> DataFrame:
    """Sign-bit signature under fixed random hyperplanes. The hyperplane
    matrix is generated once on the driver (seeded → deterministic) and
    shipped as a literal array; signature computation is pure Catalyst
    expressions, no Python per row.

    ``dim`` defaults to the corpus's modal dimension (cached — see
    modal_dim): a FIXED plane width silently collapses LSH on any other
    corpus, because zip_with NULL-pads the shorter side, one NULL
    poisons the whole dot-product fold, and every sign bit reads 0 —
    all vectors land in a single bucket and the "bucketed" probe
    degrades to an all-pairs scan.

    The float32→float64 cast of the embedding is bound ONCE per row
    (`_e` in its own projection — CollapseProject never inlines a
    non-cheap expr referenced more than once): the historical
    per-plane `transform(embedding, cast)` re-cast and re-allocated the
    array n_planes times per row, pure interpreted-HOF overhead since
    every plane folds the same values (r11, guide §1.2 per-task work;
    bit-identical signatures, pinned by the packed-vs-banded bit-order
    test). The whole signature expression is rendered as SQL text and
    parsed ONCE (r11, see _plane_dot_sql): the Column-API form paid one
    py4j round trip per plane-matrix element at construction time.

    n_planes is capped at 62: bit i is encoded as +2^i into a signed
    64-bit ``lsh_sig``, so 2^63 would overflow the long. Wider signatures
    belong in multiple sig columns (one per 62-bit word), not one long."""
    if not 1 <= n_planes <= 62:
        raise ValueError(f"n_planes must be in [1, 62], got {n_planes}")
    if dim is None:
        dim = modal_dim(df) or 1
    planes = np.random.RandomState(seed).randn(n_planes, dim)
    return (
        df.withColumn("_e", _as_double("embedding"))
        .withColumn("lsh_sig", F.expr(_sign_bits_sql("_e", planes)))
        .drop("_e")
    )


def banded_hyperplane_signature(
    df: DataFrame,
    dim: int | None = None,
    n_bands: int = 4,
    band_bits: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Band-first hyperplane signatures: (vec_id, band_id, band_val), one
    row per band, where band b packs the sign bits of planes
    [b·band_bits, (b+1)·band_bits) into its OWN long. Removes
    ``hyperplane_signature``'s 62-plane cap (each band only needs
    band_bits ≤ 62; total planes n_bands × band_bits is unbounded), so
    recall can be bought with more bands at any band width — the knob
    table in SCALE.md extends past one machine word.

    For the same (seed, dim) and n_bands × band_bits ≤ 62, band b holds
    bits [b·band_bits, (b+1)·band_bits) of ``hyperplane_signature``'s
    ``lsh_sig`` (pinned in tests): the planes are the same seeded draws.
    The per-band explode is the only row multiplication."""
    if not 1 <= band_bits <= 62:
        raise ValueError(f"band_bits must be in [1, 62], got {band_bits}")
    if dim is None:  # corpus modal dimension — see hyperplane_signature
        dim = modal_dim(df) or 1
    planes = np.random.RandomState(seed).randn(n_bands * band_bits, dim)
    return (
        # cast bound once per row, not once per plane per row — see
        # hyperplane_signature (bit-identical band values)
        df.select("vec_id", _as_double("embedding").alias("_e"))
        .select(
            "vec_id",
            F.expr(
                f"explode({_band_structs_sql('_e', planes, n_bands, band_bits)})"
            ).alias("band"),
        )
        .select("vec_id", "band.band_id", "band.band_val")
    )


def _band_structs_sql(
    e_name: str, planes, n_bands: int, band_bits: int
) -> str:
    """Array of (band_id, band_val) structs over an ALREADY-cast float64
    array column, as SQL TEXT — the band assembly of
    ``banded_hyperplane_signature``, factored out so blocking pipelines
    can compute bands INLINE in the projection that already carries
    label/norm (no join back on vec_id). Rendered as one parse for the
    same reason as _plane_dot_sql (construction 1645 → 111 ms, r11);
    band values are bit-identical to the Column-API form (same fold,
    same literals — see _sql_double)."""
    bands = (
        f"struct({b} as band_id,"
        f" {_sign_bits_sql(e_name, planes[b * band_bits:(b + 1) * band_bits])} as band_val)"
        for b in range(n_bands)
    )
    return f"array({', '.join(bands)})"


@query("simsearch_lsh_buckets", oracle=None)  # approx → rows-only
def simsearch_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH bucketing: neighbors are searched only inside
    the query's signature bucket. Returns per-bucket membership so the
    test can measure recall against the exact path."""
    e = scorable(Catalog(spark, sf_dir).embeddings)
    sigs = hyperplane_signature(e.select("vec_id", "embedding"))
    return sigs.select("vec_id", "lsh_sig")


@query("simsearch_topk_lsh", oracle=None)  # approx → rows-only
def simsearch_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via BANDED hyperplane LSH (OR-construction), the
    same blocking pipeline_embedding_dedup_lsh uses: the 16-bit signature
    splits into 4 bands × 4 bits, and a corpus row is a candidate for a
    query iff it agrees with the query on ANY band. For per-bit agreement
    p = 1-θ/π the pair survives with 1-(1-p⁴)⁴ — ≈0.95 at cosine 0.9 —
    vs p¹⁶-ish ≈0.54 for the old single 16-bucket probe, while the
    expected candidate fraction for unrelated rows stays ~bands/2^bits
    and shrinks geometrically as band_bits grows
    (tests/test_dedup_similarity.py asserts both the shrink and recall vs
    exact). Exact cosine re-ranks candidates only: the band join shuffles
    on (band_id, band_val) with the tiny query side broadcast, so
    O(n·queries) never materializes. Uses the band-first constructor
    (no 62-plane cap), pinned equivalent to the packed-long path at this
    width."""
    n_bands, band_bits = 4, 4
    e = scorable(Catalog(spark, sf_dir).embeddings)
    bands = banded_hyperplane_signature(
        e.select("vec_id", "embedding"), n_bands=n_bands, band_bits=band_bits
    )
    qbands = bands.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "band_id", "band_val"
    )
    cands = (
        F.broadcast(qbands)
        .join(bands.withColumnRenamed("vec_id", "neighbor_id"), ["band_id", "band_val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("ce"))
    q = c.filter(F.col("neighbor_id") < 10).toDF("query_id", "qe")
    pairs = cands.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
    return _top_k(_cosine_scored(pairs), 5)


# --------------------------------------------------------------------------
# IVF (inverted-file) — the second approximate scale path: k-means coarse
# quantizer, probe only the nprobe nearest cells. At 100 TB the cell
# assignment is a one-off pass (like LSH bucketing) and each query's
# candidate set is nprobe/n_centroids of the corpus.
# --------------------------------------------------------------------------
def ivf_index(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    sample_n: int = 1024,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index → (assignments df [vec_id, centroid_id],
    centroids df [centroid_id, centroid]).

    The coarse quantizer is trained on a bounded, hash-ordered sample
    collected to the driver (the PQ-codebook contract: index metadata,
    not data), then the corpus is assigned in ONE map-side argmin pass
    against the centroid literals — no shuffle, no Python boundary.

    Not MLlib KMeans: k-means|| initialization draws per-partition RNG
    streams, so even with a fixed seed fit() over the distributed corpus
    yields different centroids whenever the warehouse FILE LAYOUT (scan
    split boundaries) changes — every probe result then drifts on
    re-layout/compaction while all same-layout suites stay green (caught
    by tests/test_file_layout_invariance.py). A hash-ordered sample is a
    TakeOrdered (top-k per partition, merged) — deterministic under any
    layout and partitioning — and the numpy Lloyd's over it is seeded."""
    cents_np, rows = _ivf_fit(emb, n_centroids, seed, max_iter, sample_n)
    vecs = scorable(emb).select("vec_id", _as_double("embedding").alias("e"))
    spark = emb.sparkSession
    if cents_np is None:
        # 0 or 1 scorable vectors: the index is trivial — everything
        # (nothing, or the lone vector) is cell 0.
        assignments = vecs.select("vec_id", F.lit(0).cast("int").alias("centroid_id"))
        cents = local_frame(
            spark,
            [(0, rows[0]["e"])] if rows else [],
            "centroid_id int, centroid array<double>",
        )
        return assignments, cents
    # local_frame: the centroid table is broadcast by every probe —
    # plan-embedded LocalRelation instead of a Python-RDD scan job per
    # consumption (OPTIMIZATION_r10.md section 5)
    cents = local_frame(
        spark,
        [(i, [float(v) for v in c]) for i, c in enumerate(cents_np)],
        "centroid_id int, centroid array<double>",
    )
    assignments = vecs.select(
        "vec_id", _cell_expr("e", cents_np).alias("centroid_id")
    )
    return assignments, cents


def _ivf_fit(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 5,
    sample_n: int = 1024,
) -> tuple[list | None, list]:
    """The driver-side half of ``ivf_index``: deterministic hash-ordered
    sample → seeded numpy Lloyd's → (centroid array, sample rows), or
    (None, rows) when fewer than 2 scorable vectors exist (the trivial
    everything-is-cell-0 index). Factored out (r11) so blocking
    pipelines can inline the assignment expression (``_cell_expr``) into
    the projection that already carries their own columns instead of
    joining ``assignments`` back against the corpus on vec_id."""
    # Unscorable vectors (NULL/NaN/Inf/off-dim) are simply not indexed
    # (removal pipelines keep them, probes can't return them).
    vecs = scorable(emb).select("vec_id", _as_double("embedding").alias("e"))
    # xxhash64 order = deterministic pseudo-random sample (unbiased by
    # ingest order, identical on any layout); vec_id tiebreak is total.
    rows = vecs.orderBy(F.xxhash64("vec_id"), "vec_id").limit(sample_n).collect()
    if len(rows) < 2:
        return None, rows
    # function-level import: vectors.py imports similarity at module
    # scope, so the reverse edge must stay lazy to avoid a cycle
    from rws_data_ingester_spark.operators.vectors import _kmeans_np

    x = np.array([r["e"] for r in rows], dtype=np.float64)
    return _kmeans_np(x, min(n_centroids, len(x)), iters=max_iter, seed=seed), rows


def _cell_expr(e_name: str, cents_np) -> F.Column:
    """Map-side argmin cell assignment against the centroid literals —
    one int per row, no shuffle, no Python boundary. Rendered as SQL
    text parsed ONCE (r11): the Column-API form issued one py4j round
    trip per centroid-matrix element (16 × dim ≈ 1k calls ≈ 0.6 s of
    construction per invocation; A/B 685 → 64 ms), bit-identical values
    (same fold order, same literals — see _sql_double). ``e_name`` is
    the SQL identifier of the ALREADY-cast float64 array column."""
    cent_lit = (
        "array("
        + ", ".join(
            "array(" + ", ".join(_sql_double(v) for v in c) + ")"
            for c in cents_np
        )
        + ")"
    )
    # struct(d, i): array_min compares distance first, index second —
    # ties break to the lowest cell id, a total deterministic order.
    argmin = (
        f"array_min(transform({cent_lit}, (c, i) -> struct("
        f"aggregate(zip_with(c, x, (a, b) -> (a - b) * (a - b)),"
        f" cast(0.0 as double), (acc, v) -> acc + v) as d, i as i)))['i']"
    )
    # single-element transform(array(e), ...) wrapper: the embedding is
    # materialized once per row instead of re-read per centroid element
    # (the SCALE.md outer-column-in-HOF rule).
    return F.expr(
        f"cast(element_at(transform(array({e_name}), x -> {argmin}), 1) as int)"
    )


@query("simsearch_topk_ivf", oracle=None)  # approx (kmeans-dependent) → rows-only
def simsearch_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF: rank the 16 cells per query by L2
    distance to the centroid, probe the 4 nearest, exact cosine inside the
    probed cells only. Recall vs the exact path is asserted in tests.

    Kept as assignment-scan + vec_id join ON MEASUREMENT (r11):
    computing the cell id inline on the corpus side (one scan, one fewer
    join) read +5% at sf0.1 and +16% at the multi-file sf1 clone — the
    16-centroid argmin is the dominant per-row cost here, and the join
    form overlaps it across the probe build instead of serializing it
    into the scored-side pipeline. Row-identical either way."""
    nprobe = 4
    e = Catalog(spark, sf_dir).embeddings
    assignments, cents = ivf_index(e.select("vec_id", "embedding"))
    q = scorable(e).filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qe")
    )
    l2 = F.expr(
        "aggregate(zip_with(qe, centroid, (x, y) -> (x - y) * (x - y)),"
        " cast(0.0 as double), (acc, x) -> acc + x)"
    )
    wp = W.partitionBy("query_id").orderBy(F.col("cell_dist"), "centroid_id")
    probes = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .withColumn("cell_dist", l2)
        .withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qe", "centroid_id")
    )
    c = e.join(assignments, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double("embedding").alias("ce"),
        F.col("centroid_id").alias("c_centroid_id"),
    )
    pairs = F.broadcast(probes).join(
        c,
        (F.col("centroid_id") == F.col("c_centroid_id"))
        & (F.col("query_id") != F.col("neighbor_id")),
    )
    return _top_k(_cosine_scored(pairs), 5)


@query("simsearch_topk_exact_np", oracle=REGISTRY["simsearch_topk_exact"].oracle)
def simsearch_topk_exact_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-k under its second registered name (the bench
    headline and the benchmark's curation list time it by name): the same
    ``cosine_topk`` and the same oracle as simsearch_topk_exact."""
    e = Catalog(spark, sf_dir).embeddings
    return cosine_topk(e.filter(F.col("vec_id") < 10), e, k=5)


# Rows of a block scored per numpy step: a step holds the block's (m, d)
# matrix plus a few (T, m) float64 buffers, so a Python worker needs
# O(m·d + T·m) floats per block, not O(m²).
_TILE_ROWS = 128


def _block_cosines(x: np.ndarray):
    """Cosines of one block of equal-length float64 vectors, as
    ``(r0, sims)`` row tiles: ``sims[i, j]`` is the cosine of rows r0+i
    and r0+j (columns start at r0; earlier columns are earlier rows,
    already scored), NaN where the denominator is zero (SQL NULL) — the
    ``_tile_cosines`` fold."""
    xt = np.ascontiguousarray(x.T)  # row k: component k of every vector
    nrm = _fold_norms(xt)
    for r0 in range(0, len(x), _TILE_ROWS):
        r1 = min(r0 + _TILE_ROWS, len(x))
        yield r0, _tile_cosines(xt[:, r0:r1, None], nrm[r0:r1, None], xt[:, r0:], nrm[r0:])


def _score_block(ids: np.ndarray, vecs: np.ndarray, threshold: float):
    """Keep-first scoring of one block over its pairs (a, b) with
    a.vec_id < b.vec_id → (dup ids, number of pairs with cosine ≥
    threshold, sum and count of the defined cosines).

    Dirty input keeps the SQL fold's semantics: vectors of
    different lengths never pair (zip_with NULL-pads, so their cosine is
    NULL); a NULL vector never pairs; a NULL or NaN element (Arrow hands
    NULL elements over as NaN) makes every cosine it touches NaN, which
    is neither a dup nor counted — SQL's ``>=`` would rank NaN above the
    threshold, numpy's does not."""
    lens = np.array([-1 if x is None else len(x) for x in vecs])
    dups, n_ge, sim_sum, n_sim = [], 0, 0.0, 0
    for d in np.unique(lens[lens > 0]):
        idx = np.flatnonzero(lens == d)
        idx = idx[np.argsort(ids[idx], kind="stable")]
        g = ids[idx]
        hit = np.zeros(len(idx), dtype=bool)
        for r0, sims in _block_cosines(np.stack(vecs[idx]).astype(np.float64, copy=False)):
            later = g[r0:r0 + len(sims), None] < g[None, r0:]
            ge = later & (sims >= threshold)
            hit[r0:] |= ge.any(axis=0)
            n_ge += int(ge.sum())
            ok = later & ~np.isnan(sims)
            n_sim += int(ok.sum())
            sim_sum += float(sims[ok].sum())
        dups.append(g[hit])
    return (np.concatenate(dups) if dups else ids[:0]), n_ge, sim_sum, n_sim


def _scored_blocks(v: DataFrame, block_cols: list[str], kernel, schema: str) -> DataFrame:
    """Run ``kernel`` over the rows of every block of ``v`` (vec_id, a
    float64 ``e`` array and the ``block_cols``) in one Python worker call
    per block — the refine step of candidate blocking (REPOSE, ICDE
    2021): exact cosine as one vectorized numpy kernel per block instead
    of one interpreted zip_with/aggregate fold per pair (ZipWith and
    ArrayAggregate are CodegenFallback).

    The hash exchange on the block columns pins an EXPLICIT partition
    count (REPARTITION_BY_NUM), so AQE cannot coalesce every block onto
    one Python worker; the grouped map reuses it, no second shuffle. A
    whole block must fit one worker — the blocking (labels, LSH bands,
    k-means cells) sets the block size. NULL block keys never pair, as
    under the equi-join this replaced."""
    if block_cols:
        keyed = v.filter(
            F.expr(" AND ".join(f"`{c}` IS NOT NULL" for c in block_cols))
        )
    else:
        # one block; groupBy(F.lit(0)) would resolve as a group-by ordinal
        keyed, block_cols = v.withColumn("_block", F.lit(0)), ["_block"]
    return (
        keyed.select("vec_id", "e", *block_cols)
        .repartition(shuffle_partitions(v.sparkSession), *block_cols)
        .groupBy(*block_cols)
        .applyInPandas(kernel, schema)
    )


def embedding_dup_ids(
    v: DataFrame, block_cols: list[str], threshold: float = 0.9
) -> DataFrame:
    """Keep-first near-dup ids: vec_id b is a duplicate when any a < b in
    the same block has cosine ≥ threshold. `v` must carry vec_id, a
    float64 `e` array and the ``block_cols``; scoring is the block kernel
    (``_scored_blocks``)."""
    import pandas as pd

    def dup_ids(pdf):
        ids = _score_block(pdf["vec_id"].to_numpy(), pdf["e"].to_numpy(), threshold)[0]
        return pd.DataFrame({"vec_id": ids})

    id_type = v.schema["vec_id"].dataType.simpleString()
    return _scored_blocks(v, block_cols, dup_ids, f"vec_id {id_type}").distinct()


def _block_cosine_stats(
    v: DataFrame, block_cols: list[str], threshold: float = 0.9
) -> DataFrame:
    """Per block with at least one pair: (*block_cols, n_ge, sim_sum,
    n_sim) — pairs with cosine ≥ threshold, and the sum and count of the
    defined cosines (their mean is the SQL AVG of the pair cosines).
    Same kernel and input contract as ``embedding_dup_ids``."""
    import pandas as pd

    def stats(pdf):
        ids = pdf["vec_id"].to_numpy()
        if len(np.unique(ids)) < 2:  # no a.vec_id < b.vec_id pair
            return pd.DataFrame(columns=[*block_cols, "n_ge", "sim_sum", "n_sim"])
        _, n_ge, sim_sum, n_sim = _score_block(ids, pdf["e"].to_numpy(), threshold)
        return pdf[block_cols].iloc[:1].assign(n_ge=n_ge, sim_sum=sim_sum, n_sim=n_sim)

    keys = [f"`{c}` {v.schema[c].dataType.simpleString()}" for c in block_cols]
    schema = ", ".join([*keys, "n_ge long, sim_sum double, n_sim long"])
    return _scored_blocks(v, block_cols, stats, schema)


def _label_keep_counts(e: DataFrame, dup_ids: DataFrame) -> DataFrame:
    """Per-label (n_kept, n_dropped) of a keep-first removal: every corpus
    row is counted, dropped iff its vec_id is in ``dup_ids``. The removal
    ships 8-byte ids, not vectors."""
    flagged = e.select("vec_id", "label").join(
        dup_ids.withColumn("is_dup", F.lit(1)), "vec_id", "left"
    )
    return flagged.groupBy("label").agg(
        F.count(F.when(F.col("is_dup").isNull(), 1)).alias("n_kept"),
        F.count(F.when(F.col("is_dup").isNotNull(), 1)).alias("n_dropped"),
    )


@query("pipeline_embedding_dedup_lsh", oracle=None)  # bucket set is LSH-dependent → rows-only
def pipeline_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for embedding near-dup removal: blocks are
    hyperplane-LSH *bands*, not data labels. The 16-bit signature is split
    into 4 bands of 4 bits (OR-construction): a pair meets if it agrees on
    ANY band, so for cosine ≥0.9 (per-bit agreement p = 1-θ/π ≈ 0.856)
    the pair-level recall is 1-(1-p⁴)⁴ ≈ 0.95, vs ≈0.54 for a single
    16-bucket table. Candidate pairs shuffle on (band_id, band_val) —
    O(n²) never materializes. Output schema matches
    pipeline_embedding_dedup (per-label kept/dropped counts);
    tests/test_dedup_similarity.py asserts ≥0.9 recall of the exact
    all-pairs duplicate set. Bands come from the band-first constructor,
    so recall can be bought past one machine word of planes (n_bands ×
    band_bits unbounded) without touching this query.

    Kept as signature-scan + vec_id join ON MEASUREMENT (r11): computing
    the bands inline in the projection that carries label/e (one scan,
    two fewer shuffles) read +57% at sf0.1 and a wash (+0.7%) at the
    multi-file sf1 clone warehouse — the pair scoring inside the bands
    dominates end to end, and on the single-file local fixtures the
    inline form serializes the per-side plane folds into the one-task
    scan stage that the join form accidentally overlaps across
    independent stages. Row-identical either way; revisit only with a
    cluster-scale measurement in hand."""
    e = Catalog(spark, sf_dir).embeddings
    es = scorable(e)  # unscorable vectors are kept, never banded or paired
    banded = banded_hyperplane_signature(
        es.select("vec_id", "embedding"), n_bands=4, band_bits=4
    )
    v = es.select("vec_id", "label", _as_double("embedding").alias("e")).join(
        banded, "vec_id"
    )
    return _label_keep_counts(e, embedding_dup_ids(v, ["band_id", "band_val"], threshold=0.9))


@query(
    "pipeline_embedding_dedup",
    oracle="""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    -- Unscorable embeddings (NULL / NaN / Inf, or off the corpus's modal
    -- dimension — the oracle twin of scorable()) never participate in
    -- pairs: DuckDB's list_dot_product errors on a NULL list or a
    -- length mismatch, and NaN >= threshold would count as a dup.
    -- They are still counted in the per-label totals below (kept).
    fin AS (SELECT * FROM v WHERE e IS NOT NULL
            AND len(list_filter(e, x -> isnan(x) OR isinf(x))) = 0),
    dim AS (SELECT len(e) AS d FROM fin GROUP BY d
            ORDER BY COUNT(*) DESC, d LIMIT 1),
    nn AS (SELECT fin.* FROM fin, dim WHERE len(fin.e) = dim.d),
    dup_ids AS (
      SELECT DISTINCT b.vec_id
      FROM nn a JOIN nn b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
            / nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0)
            >= 0.9
    )
    SELECT v.label,
           COUNT(*) FILTER (WHERE d.vec_id IS NULL)::BIGINT     AS n_kept,
           COUNT(*) FILTER (WHERE d.vec_id IS NOT NULL)::BIGINT AS n_dropped
    FROM v LEFT JOIN dup_ids d ON v.vec_id = d.vec_id
    GROUP BY v.label
    """,
)
def pipeline_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup REMOVAL (not just reporting): a vector is
    dropped when any earlier same-label vector is ≥0.9 cosine-similar —
    the canonical keep-first policy. Implemented as pair-scoring inside
    the label block followed by a left anti join of the corpus against
    the duplicate-id set. At 100 TB the label block is an LSH/IVF bucket
    and the anti join shuffles 8-byte ids, not vectors."""
    e = Catalog(spark, sf_dir).embeddings
    # pairs form only between scorable vectors (see scorable()); the
    # per-label totals still count every row of the corpus.
    v = scorable(e).select("vec_id", "label", _as_double("embedding").alias("e"))
    return _label_keep_counts(e, embedding_dup_ids(v, ["label"], threshold=0.9))


# --------------------------------------------------------------------------
# Embedding int8 quantization (storage compression for the ANN tiers)
# --------------------------------------------------------------------------
@query(
    "embedding_quantize_int8",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS v,
             list_min(embedding)::DOUBLE AS lo,
             list_max(embedding)::DOUBLE AS hi
      FROM embeddings
    ), scaled AS (
      SELECT vec_id, v, lo,
             CASE WHEN hi = lo THEN 1.0 ELSE (hi - lo) / 255.0 END AS scale
      FROM base
    ), quant AS (
      SELECT vec_id, v, lo, scale,
             list_transform(v, x -> floor((x - lo) / scale + 0.5)) AS q
      FROM scaled
    ), err AS (
      SELECT vec_id, lo, scale,
             list_transform(list_zip(v, q), p -> abs(p[1] - (lo + p[2] * scale))) AS e
      FROM quant
    )
    -- + 0.0: lo can be a negative rounding to zero from below, and
    -- DuckDB propagates the sign of zero through abs/list_max into the
    -- error stats ('-0' when rendered) — the engine normalizes rounded
    -- outputs to +0.0 (functions/rounding.py), so the oracle must too.
    SELECT vec_id::BIGINT AS vec_id,
           ROUND(lo, 6) + 0.0 AS q_min,
           ROUND(scale, 6) + 0.0 AS q_scale,
           ROUND(list_max(e), 6) + 0.0 AS max_abs_err,
           ROUND(list_sum(e) / len(e), 6) + 0.0 AS mean_abs_err
    FROM err
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector asymmetric uint8 quantization (min/max affine codebook,
    the storage layout ANN services use to cut vector memory 4x) plus
    reconstruction-error stats proving the codec's fidelity.

    Everything is row-local JVM higher-order-function work — transform/
    zip_with/aggregate inside whole-stage codegen, no Python, no shuffle
    at all (the plan is scan→project). At 100 TB this is the map-side
    pass that would precede writing the quantized copy next to the ANN
    index. floor(x + 0.5) rather than round() because Spark rounds
    HALF_UP and DuckDB HALF_EVEN — floor has one semantic in both
    engines, keeping the codes bit-identical."""
    e = Catalog(spark, sf_dir).embeddings
    v = _as_double("embedding")
    lo = F.array_min("embedding").cast("double")
    hi = F.array_max("embedding").cast("double")
    scale = F.when(hi == lo, F.lit(1.0)).otherwise((hi - lo) / F.lit(255.0))
    based = e.select(
        "vec_id", v.alias("v"), lo.alias("lo"), scale.alias("scale")
    )
    quant = based.withColumn(
        "q", F.expr("transform(v, x -> floor((x - lo) / scale + 0.5))")
    )
    err = quant.withColumn(
        "e", F.expr("zip_with(v, q, (x, qq) -> abs(x - (lo + qq * scale)))")
    )
    # bind the array folds once before rounding (pround references its
    # operand 4× — see the cosine-site binding note)
    return err.select(
        "vec_id",
        "lo",
        "scale",
        F.array_max("e").alias("_max_err"),
        (
            F.expr("aggregate(e, cast(0.0 as double), (acc, x) -> acc + x)")
            / F.size("e")
        ).alias("_mean_err"),
    ).select(
        "vec_id",
        pround("lo", 6).alias("q_min"),
        pround("scale", 6).alias("q_scale"),
        pround("_max_err", 6).alias("max_abs_err"),
        pround("_mean_err", 6).alias("mean_abs_err"),
    )
