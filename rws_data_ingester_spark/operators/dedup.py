"""Deduplication operators (SURVEY.md §2.10 [EXT]): exact, hash-keyed,
n-gram Jaccard, MinHash+LSH banding, SimHash.

Scale design:
- exact dedup = hash groupBy on the content hash (sha256), never on the
  raw text — at 100 TB the shuffle carries 32-byte keys, not documents.
- MinHash/LSH: per-doc signature computation is embarrassingly parallel
  (explode shingles → hash → min per seed); candidate generation shuffles
  on (band_id, band_hash) buckets, so only same-bucket docs ever meet —
  the O(n²) pair space never materializes.
- SimHash: one vectorized pandas UDF per document (numpy bit-bucketing),
  then near-dup lookup via Hamming-ball probing on table-salted prefixes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.functions.rounding import pround
from rws_data_ingester_spark.plans.registry import query


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id)::BIGINT AS keeper_doc_id,
           COUNT(*)::BIGINT AS n_copies,
           text
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per distinct text. groupBy +
    min beats dropDuplicates here because dropDuplicates keeps an
    *arbitrary* row — not reproducible, so not oracle-checkable."""
    d = Catalog(spark, sf_dir).documents
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    ).select("keeper_doc_id", "n_copies", "text")


@query(
    "dedup_exact_hash",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id)::BIGINT AS keeper_doc_id,
           COUNT(*)::BIGINT AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shaped exact dedup: group on the 32-byte digest so the
    shuffle never carries document bodies."""
    d = Catalog(spark, sf_dir).documents
    return d.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


# --------------------------------------------------------------------------
# N-gram Jaccard near-dup (exact scoring, LSH-routed candidate generation)
# --------------------------------------------------------------------------
def jaccard_score_pairs(pairs: DataFrame, docs: DataFrame, threshold: float = 0.1) -> DataFrame:
    """Exact token-set Jaccard for a given (id_a, id_b) pair set: join the
    token arrays back onto the pairs and score with JVM array built-ins.
    Cost is O(|pairs|), so the caller controls the pair space."""
    toks = docs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("tokset"))
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("tokset").alias("tokset_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("tokset").alias("tokset_b"))
    inter = F.size(F.array_intersect(F.col("tokset_a"), F.col("tokset_b")))
    union = F.size("tokset_a") + F.size("tokset_b") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        # bind the raw score once — pround references its operand 4×, and
        # the operand re-intersects both token sets per reference
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            (inter.cast("double") / union).alias("_raw_jac"),
        )
        .select("doc_a", "doc_b", pround("_raw_jac", 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@query("dedup_jaccard_pairs", oracle=None)  # candidate set is minhash-dependent → rows-only
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard computed ONLY on MinHash/LSH candidate
    pairs — the scale-true form: candidate generation shuffles (band_id,
    band_hash) buckets, never an O(n²) block product, and the scoring pass
    is linear in the candidate count. With 16 hashes / 4 bands the
    s-curve P(candidate) = 1-(1-s⁴)⁴ is ≈1 at s ≥ 0.9, but s here is the
    Jaccard of word 3-SHINGLE sets while the reported score is the
    Jaccard of TOKEN sets — two different similarities. Reordered or
    lightly edited text shares most tokens and few shingles, so high
    token-Jaccard pairs are mostly never candidates: on the fixtures this
    recovers 2 of 516 (sf0.001) and 1 of 447 (sf0.01) same-source pairs
    with token-set Jaccard ≥ 0.9, and 0 of 17 at Jaccard 1.0. Where a pair
    is returned, its score equals the all-pairs token-set Jaccard
    exactly. No test pins recall."""
    d = Catalog(spark, sf_dir).documents
    sigs = minhash_signature(d.select("doc_id", "text"), "doc_id", "text")
    cands = lsh_candidate_pairs(sigs, "doc_id")
    return jaccard_score_pairs(cands, d.select("doc_id", "text"), threshold=0.1)


# --------------------------------------------------------------------------
# MinHash + LSH banding (pure DataFrame ops — no MLlib, no Python UDF)
# --------------------------------------------------------------------------
def _shingles_sql(text_col: str, k: int) -> str:
    """Word k-shingles of column ``text_col`` as SQL text: an array of
    distinct strings. The column name is backtick-escaped here, so any
    column name is safe.

    The token array is materialized ONCE via a lambda binding
    (`transform` over a single-element wrapper) so the per-shingle
    elements reference the bound array — a naive `split(text)[i]`
    inside the position lambda re-splits the text per shingle, turning
    an O(tokens) op into O(tokens²) per document.

    Each shingle is assembled with ``concat(element_at(toks, i), ' ', …)``
    rather than ``concat_ws(' ', slice(toks, i, k))``: the slice form
    allocates a k-element array per position before joining it, and the
    element_at form was measured 2× faster at k=3 on the sf0.1 corpus
    (0.52 s → 0.26 s noop median) for byte-identical output. Short rows
    (< k tokens) keep the historical semantics — ONE shingle of the
    whole token array — via an explicit branch (element_at under ANSI
    errors past the end, and the old slice form clamped). Output on a
    torture corpus is pinned by
    tests/test_dedup_similarity.py::test_minhash_sql_shingles_match_shingles."""
    tcol = text_col.replace("`", "``")
    gram = "concat(" + ", ' ', ".join(
        f"element_at(toks, i + {j})" for j in range(1, k + 1)
    ) + ")"
    return (
        "array_distinct(flatten(transform("
        f"array(split(`{tcol}`, ' ')), "
        f"toks -> CASE WHEN size(toks) >= {k} "
        f"THEN transform(sequence(0, size(toks) - {k}), i -> {gram}) "
        "ELSE array(concat_ws(' ', toks)) END)))"
    )


def shingles(text_col: str, k: int = 3) -> F.Column:
    """Word k-shingles of column ``text_col`` as an array column (distinct)
    — see ``_shingles_sql``."""
    return F.expr(_shingles_sql(text_col, k))


def minhash_signature(df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, k: int = 3) -> DataFrame:
    """MinHash signatures, computed entirely WITHIN each row: ONE xxhash64
    per shingle, then num_hashes affine universal-hash transforms
    h_j(x) = a_j*x + b_j mod p via higher-order array functions —
    ``array_min(transform(hashes, h → a*h+b mod p))`` per seed.

    ZERO shuffle: the previous form exploded one row per (doc, shingle)
    and re-aggregated with groupBy(doc) — a shuffle linear in TOTAL TOKEN
    COUNT, i.e. the whole corpus through the wire at 100 TB. This form is
    a pure map inside one codegen stage: same wall-clock at sf0.1
    (0.77 s vs 0.73 s noop-sink median, where compute dominates and
    shuffle is RAM-speed) but removes the corpus-sized exchange that
    dominates on a real cluster. The only shuffle left in the MinHash
    path is the (band_id, band_hash) candidate bucketing, whose rows are
    three longs. (A single-pass ``F.aggregate`` accumulator over the hash
    array was measured slower — per-element struct allocation — and the
    explode form's map-side partial min keeps it competitive locally;
    both alternatives rejected on measurement, see BASELINE.md.)

    mod p = 2^31-1 (Mersenne): (p-1)^2 < Long.MAX, so the affine
    transform never overflows — required because ANSI mode (default in
    Spark 4) throws on long overflow rather than wrapping. One string
    hash per shingle (not per seed) keeps signature width nearly free.

    The expression is assembled as ONE SQL string handed to a single
    ``F.expr`` parse rather than nested Column lambdas: the lambda form
    made hundreds of py4j round-trips per call (the signature is built
    fresh for every query invocation) — measured 0.31 s → 0.05 s per
    construction at identical output and identical execution plan (the
    parsed tree is the same transform(array(...), hs -> struct(...))[0]
    shape, so the hash array still binds once for all 16 seed
    transforms).
    """
    import random

    _P = 2147483647
    rng = random.Random(1337)
    coeffs = [
        (rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)
    ]
    shingle_hashes = (
        f"transform({_shingles_sql(text_col, k)}, "
        f"s -> pmod(xxhash64(s), {_P}L))"
    )
    mins = ", ".join(
        f"array_min(transform(hs, h -> pmod(h * {a}L + {b}L, {_P}L))) AS mh_{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    sig_cols = F.expr(
        f"transform(array({shingle_hashes}), hs -> struct({mins}))[0]"
    )
    return df.select(
        F.col(id_col), sig_cols.alias("_sig")
    ).select(id_col, "_sig.*")


def _banded(sigs: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) — one row per document per band, the
    shared front half of both candidate-pair and star-edge generation."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"), F.xxhash64(*cols).alias("band_hash"))
        )
    return sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Band the signature and bucket-join: docs agreeing on any full band
    become candidate pairs. Shuffle key = (band_id, band_hash) — only
    same-bucket docs are ever paired.

    Pair output is quadratic in bucket size (a k-member bucket emits
    k·(k-1)/2 pairs) — right when each pair gets individually scored
    (``dedup_jaccard_pairs``), wrong as connected-components input where
    only connectivity matters; feed CC ``lsh_star_edges`` instead.

    Hot-bucket guard (r9 VERDICT watch item #1, SKEW_r09 measured the
    unguarded form 2.4–2.7× under one 2,450-member bucket): at 100 TB a
    1M-member boilerplate bucket emits ~5×10¹¹ pairs and the job dies,
    so buckets larger than ``max_bucket_size`` never reach the pair
    join. The size is a window count over the (band_id, band_hash)
    partition the banding is ALREADY repartitioned on — no extra
    shuffle, no extra job, and the guard fires in the banding stage
    BEFORE any quadratic output exists. An oversized bucket fails the
    query with ``raise_error`` naming the bucket id and size: per-pair
    scoring over a mega-bucket is almost always a symptom (an
    empty-shingle band, templated boilerplate) that the caller should
    see, not silently absorb. Callers that only need connectivity feed
    connected components from ``lsh_star_edges`` instead, which is
    linear in bucket size.
    """
    banded = _banded(sigs, id_col, num_hashes, bands)
    # One explicit exchange on the join key: both sides of the self-join
    # below hit the SAME shuffle output (ReusedExchange) — the signature
    # pipeline upstream runs once, the exchange rows are 3 longs wide, and
    # the bucket join itself needs no further shuffle. Without this, each
    # join side re-derives the full (shuffle-free) signature computation.
    # The shuffle_hash hint keeps AQE from flipping to broadcast, which
    # would wrap one side in a BroadcastExchange and defeat the reuse.
    banded = banded.repartition("band_id", "band_hash")
    # The count is bound ONCE before the guard projection references it
    # twice — WindowExec doesn't dedup identical window expressions, so
    # folding the when/raise around the .over() directly would compute
    # and buffer two copies (the plan-hygiene sweep catches exactly this).
    banded = banded.withColumn(
        "_bucket_n", F.count(F.lit(1)).over(W.partitionBy("band_id", "band_hash"))
    )
    banded = banded.withColumn(
        "_bucket_n",
        F.when(
            F.col("_bucket_n") > max_bucket_size,
            F.raise_error(
                F.format_string(
                    "lsh_candidate_pairs: bucket (band_id=%s, band_hash=%s) "
                    "has %s members > max_bucket_size="
                    + str(max_bucket_size)
                    + " — clique pairs would be quadratic; raise "
                    "max_bucket_size, or feed CC lsh_star_edges instead",
                    F.col("band_id"),
                    F.col("band_hash"),
                    F.col("_bucket_n"),
                )
            ).cast("long"),
        ).otherwise(F.col("_bucket_n")),
    )
    small = banded.filter(F.col("_bucket_n") <= max_bucket_size)
    a, b = small.alias("a"), small.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_star_edges(
    sigs: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id_a, id_b) edges connecting every doc to its bucket's minimum id —
    the connected-components-shaped form of LSH banding.

    A bucket's members are mutually connected through the bucket root, so
    CC over star edges yields EXACTLY the same components as CC over the
    clique pairs (equivalence-tested), but the edge count is LINEAR in
    bucket size where pairs are QUADRATIC: one hot bucket of 10k near-dups
    (boilerplate, templated spam — the common case in web corpora) emits
    50M clique pairs but 10k star edges. At 100 TB the hot bucket is
    guaranteed, so the CC path must never materialize cliques. Cost shape:
    one exchange on (band_id, band_hash) — rows are 3 longs — then a
    per-bucket window min computes each member's root on the sorted
    partition with no second shuffle. Diameter grows from 1 to 2 per
    bucket (member→root→member), which neither connected-components
    branch pays for by the round: union-find below the driver gate is
    diameter-blind, and large-star/small-star above it needs O(log n)
    rounds on any graph shape. Quadratic edges would cost far more."""
    banded = _banded(sigs, id_col, num_hashes, bands).repartition(
        "band_id", "band_hash"
    )
    roots = F.min(id_col).over(
        W.partitionBy("band_id", "band_hash")
    )
    return (
        banded.select(F.col(id_col).alias("id_a"), roots.alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


@query("dedup_minhash_candidates", oracle=None)  # engine-specific hashes → rows-only
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    sigs = minhash_signature(d.select("doc_id", "text"), "doc_id", "text")
    return lsh_candidate_pairs(sigs, "doc_id")


# --------------------------------------------------------------------------
# SimHash (vectorized pandas UDF — numpy bit bucketing)
# --------------------------------------------------------------------------
@F.pandas_udf(T.LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens. Arrow-batched; per batch the token
    hashing is a stable Python hash (md5-based so it is deterministic
    across workers and sessions, unlike hash())."""
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    out = np.empty(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        acc = np.zeros(64, dtype=np.int64)
        for tok in (text or "").split():
            h = np.uint64(
                int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            )
            bits = (h >> shifts) & np.uint64(1)
            acc += np.where(bits == 1, 1, -1)
        bits_out = (acc > 0).astype(np.uint64)
        packed = int(np.bitwise_or.reduce(bits_out << shifts))
        out[i] = packed - (1 << 64) if packed >= 1 << 63 else packed
    return pd.Series(out)


@query("dedup_simhash", oracle=None)  # hash engine-specific → rows-only
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash per document + near-dup candidates by identical 16-bit
    prefix block (probing 4 blocks covers all pairs at Hamming distance
    ≤3 — standard block-permutation SimHash lookup)."""
    d = Catalog(spark, sf_dir).documents
    sigs = d.select("doc_id", simhash64(F.col("text")).alias("simhash"))
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_id"),
                    F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF)).alias("block_val"),
                )
                for i in range(4)
            ])
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= 3)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH nn AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings
                WHERE embedding IS NOT NULL
                  AND len(list_filter(embedding, x -> isnan(x) OR isinf(x))) = 0),
    -- off-modal-dimension vectors (mixed embedding-model versions) are
    -- unscorable too — the oracle twin of scorable()'s dimension rule
    dim AS (SELECT len(e) AS d FROM nn GROUP BY d
            ORDER BY COUNT(*) DESC, d LIMIT 1),
    v AS (SELECT nn.* FROM nn, dim WHERE len(nn.e) = dim.d),
    pairs AS (
      SELECT a.label AS label,
             list_dot_product(a.e, b.e)
               / nullif(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)), 0)
               AS sim
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT label,
           COUNT(*) FILTER (WHERE sim >= 0.9)::BIGINT AS n_neardups,
           ROUND(AVG(sim), 4) + 0.0 AS avg_sim
    FROM pairs GROUP BY label
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup statistics per label block. Blocking on `label`
    stands in for the IVF/LSH bucket a production run would use — pair
    scoring never leaves a block."""
    from rws_data_ingester_spark.operators.similarity import (
        _as_double,
        _block_cosine_stats,
        scorable,
    )

    e = Catalog(spark, sf_dir).embeddings
    # Unscorable embeddings (NULL / NaN / Inf) never form pairs on either
    # engine — see similarity.scorable() and its oracle twin above. The
    # pair scoring is embedding_dup_ids' own block kernel; one row per
    # label comes back, so only the mean is ours.
    v = scorable(e).select("vec_id", "label", _as_double("embedding").alias("e"))
    stats = _block_cosine_stats(v, ["label"], threshold=0.9)
    avg = F.col("sim_sum") / F.nullif(F.col("n_sim"), F.lit(0))
    return stats.select(
        "label",
        F.col("n_ge").alias("n_neardups"),
        (pround(avg, 4) + 0.0).alias("avg_sim"),  # +0.0: -0.0 normalization
    )


# --------------------------------------------------------------------------
# Chunk-level (paragraph) dedup with document reassembly
# --------------------------------------------------------------------------
@query(
    "dedup_paragraphs",
    oracle="""
    -- Linear form: zipped parallel UNNESTs emit (pos, tok) once and the
    -- 20-token chunks re-assemble by pos // 20; slicing the carried list
    -- per chunk row is accidentally quadratic in DuckDB and melts on
    -- multi-MB documents.
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok AS (
      SELECT doc_id,
             UNNEST(generate_series(0, len(t) - 1)) AS pos,
             UNNEST(t) AS tok
      FROM toks
    ), chunks AS (
      SELECT doc_id, (pos // 20)::BIGINT AS chunk_idx,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM tok GROUP BY doc_id, (pos // 20)
    ), ranked AS (
      SELECT doc_id, chunk_idx, chunk_text,
             ROW_NUMBER() OVER (
               PARTITION BY sha256(chunk_text) ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM chunks
    )
    SELECT doc_id::BIGINT AS doc_id,
           COUNT(*)::BIGINT AS n_chunks,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           COALESCE(
             string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' ' ORDER BY chunk_idx),
             ''
           ) AS clean_text
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup with document reassembly — the C4/
    RefinedWeb/Dolma curation step: repeated boilerplate paragraphs are
    removed CORPUS-WIDE (first occurrence wins, ordered by doc_id then
    position), and each document is stitched back together from its
    surviving paragraphs in order.

    The fixture text has no newlines, so "paragraph" = 20-token chunk;
    the operator is identical for any splitter. Scale shape: one shuffle
    keyed on the chunk's sha256 (the window partition key is the 32-byte
    digest, not the text — same principle as dedup_exact_hash), then one
    shuffle back on doc_id for reassembly. Both aggregations are
    partial→final; no driver-side state. At 100 TB the keep-first rule
    stays deterministic under retries because the ordering key
    (doc_id, chunk_idx) is data, not partition order."""
    d = Catalog(spark, sf_dir).documents
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(20.0)).cast("int")
    chunks = (
        d.select(
            "doc_id",
            toks.alias("t"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(
                " ", F.slice("t", F.col("chunk_idx") * 20 + 1, 20)
            ).alias("chunk_text"),
        )
    )
    w = W.partitionBy(F.sha2("chunk_text", 256)).orderBy("doc_id", "chunk_idx")
    ranked = chunks.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct("chunk_idx", "chunk_text")
    )  # collect_list drops the NULLs for non-kept chunks
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk_text,
                ),
            ).alias("clean_text"),
        )
    )
