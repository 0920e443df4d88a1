"""Property tests for the approximate operators the SQL oracle can't
check: MinHash/LSH candidate generation, SimHash, hyperplane-LSH recall
vs the exact cosine top-k (SURVEY.md §5.2 'oracle-inexpressible ops').
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rws_data_ingester_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signature,
    simhash64,
)
from rws_data_ingester_spark.operators.similarity import cosine_topk
from rws_data_ingester_spark.plans import REGISTRY

from tests.conftest import SF_DIR


def _docs(spark):
    return [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 1
        (4, "completely different words about spark distributed data processing engines"),
    ]


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(_docs(spark), "doc_id long, text string")
    sigs = {r["doc_id"]: tuple(r[c] for c in r.asDict() if c != "doc_id")
            for r in minhash_signature(df, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2], "identical docs must hash identically"
    overlap_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    overlap_14 = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert overlap_13 > overlap_14, "near-dup must agree on more minhashes than unrelated"


def test_lsh_candidates_contain_exact_dups(spark):
    df = spark.createDataFrame(_docs(spark), "doc_id long, text string")
    sigs = minhash_signature(df, "doc_id", "text")
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in pairs, "exact duplicates must be candidates"
    assert (1, 4) not in pairs and (2, 4) not in pairs, "unrelated docs must not bucket together"


def test_simhash_hamming_orders_similarity(spark):
    df = spark.createDataFrame(_docs(spark), "doc_id long, text string")
    sigs = {r["doc_id"]: r["h"] for r in df.select("doc_id", simhash64("text").alias("h")).collect()}
    assert sigs[1] == sigs[2]
    ham_13 = bin((sigs[1] ^ sigs[3]) & (2**64 - 1)).count("1")
    ham_14 = bin((sigs[1] ^ sigs[4]) & (2**64 - 1)).count("1")
    assert ham_13 < ham_14, "near-dup must be closer in Hamming space"


def test_lsh_topk_recall_vs_exact(spark):
    """Banded ANN must recover a solid fraction of the true top-5
    (random 64-d embeddings are a worst case for LSH — true neighbors sit
    at cosine ~0.4, far from the ≥0.9 regime the bands are tuned for).
    The 4×4-bit OR-construction measures 0.40 here (deterministic: seeded
    planes, fixed fixtures) vs ~0.05 for the old single 16-bucket probe;
    assert ≥0.3 to leave margin for fixture regeneration."""
    exact = REGISTRY["simsearch_topk_exact"].fn(spark, SF_DIR)
    approx = REGISTRY["simsearch_topk_lsh"].fn(spark, SF_DIR)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert approx_pairs, "LSH path returned nothing"
    # every approx neighbor must at least be a real corpus member ranked by
    # true cosine (cosine values are exact within the bucket)
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"banded probe recall regressed: {recall}"


def test_lsh_candidate_fraction_shrinks_with_band_bits(spark):
    """The scale knob the probe's docstring promises: at fixed signature
    width, widening each band (more bits, fewer bands) must cut the
    candidate fraction geometrically — that's what makes the probe
    tunable per corpus size instead of a fixed 16-bucket table."""
    from rws_data_ingester_spark.catalog import Catalog
    from rws_data_ingester_spark.operators.similarity import banded_hyperplane_signature

    e = Catalog(spark, SF_DIR).embeddings
    n = e.count()
    vecs = e.select("vec_id", "embedding")
    fracs = []
    for band_bits, n_bands in ((2, 8), (4, 4), (8, 2)):
        b = banded_hyperplane_signature(vecs, n_bands=n_bands, band_bits=band_bits)
        qb = b.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "band_id", "band_val"
        )
        cands = (
            qb.join(b.withColumnRenamed("vec_id", "nid"), ["band_id", "band_val"])
            .filter(F.col("qid") != F.col("nid"))
            .select("qid", "nid")
            .distinct()
            .count()
        )
        fracs.append(cands / (10 * n))
    assert fracs[0] > fracs[1] > fracs[2], f"no shrink: {fracs}"
    assert fracs[2] < 0.05, f"widest bands still scan {fracs[2]:.1%} of corpus"


def test_cosine_topk_self_similarity_excluded(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = cosine_topk(e.filter(F.col("vec_id") == 0), e, k=3).collect()
    assert len(out) == 3
    assert all(r["neighbor_id"] != 0 for r in out)
    sims = [r["cosine_sim"] for r in sorted(out, key=lambda r: r["rank"])]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_feature_shape(spark):
    from rws_data_ingester_spark.operators.multimodal import (
        attach_payload,
        decode_stub_features,
        extract_features,
    )
    import pytest as _pytest
    from rws_data_ingester_spark.operators.multimodal import decode_image

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10)
    feats = extract_features(attach_payload(d)).collect()
    assert len(feats) == 10
    for r in feats:
        assert len(r["features"]) == 8
        assert abs(sum(r["features"]) - 1.0) < 1e-9  # normalized histogram
        assert r["byte_len"] > 0
    assert decode_stub_features(b"") == [0.0] * 8
    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_ivf_topk_recall_vs_exact(spark):
    """IVF (seeded k-means, nprobe=4/16) must recover a solid fraction of
    the exact top-5 (measured 0.64 on this fixture; the floor asserts
    'plumbing correct + recall not degenerate', not production recall)."""
    exact = REGISTRY["simsearch_topk_exact"].fn(spark, SF_DIR)
    approx = REGISTRY["simsearch_topk_ivf"].fn(spark, SF_DIR)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, f"degenerate IVF recall {recall}"


# The Catalyst reference dot: a left-to-right fold from 0.0, the order
# every numpy cosine must reproduce bit for bit.
_FOLD = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"


def _catalyst_topk(queries, corpus, k):
    """Exact top-k as the Catalyst fold: broadcast nested-loop join on
    query_id != neighbor_id, the ``_FOLD`` cosine with a nullif guard,
    pround to 6 places, and the (cosine desc, neighbor_id) rank."""
    from pyspark.sql import Window

    from rws_data_ingester_spark.functions.rounding import pround

    def side(df, i, e, n):
        v = df.select(
            F.col("vec_id").alias(i),
            F.expr("transform(embedding, x -> cast(x as double))").alias(e),
        )
        return v.withColumn(n, F.sqrt(F.expr(_FOLD.format(a=e, b=e))))

    pairs = F.broadcast(side(queries, "query_id", "qe", "qn")).join(
        side(corpus, "neighbor_id", "ce", "cn"), F.col("query_id") != F.col("neighbor_id")
    )
    raw = F.expr(_FOLD.format(a="qe", b="ce")) / F.nullif(F.col("qn") * F.col("cn"), F.lit(0.0))
    scored = pairs.select("query_id", "neighbor_id", raw.alias("_raw")).select(
        "query_id", "neighbor_id", pround("_raw", 6).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def test_numpy_topk_identical_to_catalyst_topk(spark):
    """cosine_topk's numpy scorer, and the listed-pair refine
    ``_cosine_scored`` of the approximate tiers, return the Catalyst
    fold's rows exactly. Each query's partner is planted at cosine
    0.9000005, a rounding midpoint at 6 places, so the computed cosine
    rounds up or down on its last bits and only the same fold agrees on
    every pair. Exact copies of a partner plant ties that the neighbor_id
    tie-break decides at the k = 2 cut, a zero query and a zero corpus
    vector give NULL cosines that rank last, and NULL vec_ids never pair."""
    import numpy as np

    from rws_data_ingester_spark.operators.similarity import _cosine_scored

    rng = np.random.default_rng(3)
    rows, vid, qids, listed = [], 0, [], []
    for i in range(30):
        u = rng.normal(size=64)
        w = rng.normal(size=64)
        w -= (w @ u) / (u @ u) * u
        t = 0.9000005
        b = t * u / np.linalg.norm(u) + np.sqrt(1 - t * t) * w / np.linalg.norm(w)
        copies = 1 + i % 3  # partners at an exactly tied cosine
        listed += [(vid, vid + 1 + j) for j in range(copies)]
        for x in [u] + [b * rng.uniform(0.5, 2.0)] * copies:
            rows.append((vid, [float(y) for y in x]))
            vid += 1
        qids.append(vid - copies - 1)
    rows += [(vid, [0.0] * 64), (vid + 1, [0.0] * 64), (None, rows[0][1])]
    qids.append(vid)
    # a zero query, and a zero corpus vector listed against real queries
    listed += [(vid, 1), (vid, vid + 1)] + [(q, vid + 1) for q in qids[::7]]
    rng.shuffle(rows)  # rows arrive out of vec_id order
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id").isin(qids) | F.col("vec_id").isNull())
    for k in (2, len(rows)):
        got = sorted(map(tuple, cosine_topk(queries, corpus, k=k).collect()))
        ref = sorted(map(tuple, _catalyst_topk(queries, corpus, k).collect()))
        assert got == ref, (k, sorted(set(got) ^ set(ref))[:6])
    assert len(got) == len(qids) * (len(rows) - 2)
    assert {r[2] for r in got if r[0] == vid} == {None}

    # the listed-pair refine, over a subset of the same pairs
    pairs = (
        spark.createDataFrame(listed, "query_id long, neighbor_id long")
        .join(corpus.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")), "query_id")
        .join(corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")), "neighbor_id")
    )
    got = sorted(map(tuple, _cosine_scored(pairs).collect()))
    want = sorted(r[:3] for r in ref if (r[0], r[1]) in set(listed))
    assert len(want) == len(listed)
    assert [(q, n, None if c is None else c.hex()) for q, n, c in got] == [
        (q, n, None if c is None else c.hex()) for q, n, c in want
    ]
    assert sum(r[2] is None for r in got) == len(qids[::7]) + 2


def test_tile_cosines_bit_identical_to_python_fold():
    """The one numpy cosine equals a pure-Python left-to-right fold bit
    for bit on every tile shape and on listed pairs. A BLAS matmul's
    summation order depends on the shape and the memory layout: ``a @
    b.T`` differs from the fold on most entries of the 1×n and n×1
    tiles, ``at.T @ bt`` on the 7×7."""
    import math

    import numpy as np

    from rws_data_ingester_spark.operators.similarity import _fold_norms, _tile_cosines

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rng = np.random.default_rng(5)
    for r, c in ((1, 50), (50, 1), (10, 200), (7, 7)):
        a, b = rng.normal(size=(r, 64)), rng.normal(size=(c, 64))
        if r > 1:
            a[-1] = 0.0  # a zero vector: a NaN row
        at, bt = np.ascontiguousarray(a.T), np.ascontiguousarray(b.T)
        an, bn = _fold_norms(at), _fold_norms(bt)
        sims = _tile_cosines(at[:, :, None], an[:, None], bt, bn)
        # the listed pairs (i, j) as two (d, n) operands
        ii, jj = np.nonzero(np.ones((r, c), dtype=bool))
        listed = _tile_cosines(at[:, ii], an[ii], bt[:, jj], bn[jj])
        for i, x in enumerate(a.tolist()):
            for j, y in enumerate(b.tolist()):
                den = math.sqrt(fold(x, x)) * math.sqrt(fold(y, y))
                want = fold(x, y) / den if den else math.nan
                got = float(sims[i, j])
                assert got.hex() == want.hex(), ((r, c), i, j, got, want)
        assert [float(x).hex() for x in listed] == [float(x).hex() for x in sims.ravel()]


def test_exact_query_collect_is_bounded(spark, monkeypatch):
    """cosine_topk and the PQ tier collect their queries through one
    bounded helper: past _MAX_QUERIES they raise instead of pulling an
    unbounded query set to the driver. The LSH and IVF tiers, which the
    error message points to, still run."""
    import pytest

    from rws_data_ingester_spark.operators import similarity

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 10)
    n = queries.count()
    monkeypatch.setattr(similarity, "_MAX_QUERIES", n - 1)
    with pytest.raises(RuntimeError, match="LSH or IVF tier"):
        cosine_topk(queries, e)
    with pytest.raises(RuntimeError, match="LSH or IVF tier"):
        REGISTRY["simsearch_topk_pq"].fn(spark, SF_DIR)
    # the tiers the message names carry each query vector on its pair
    # rows and collect no query set, so the cap does not apply to them
    for name in ("simsearch_topk_lsh", "simsearch_topk_ivf"):
        assert REGISTRY[name].fn(spark, SF_DIR).count() == 5 * n
    monkeypatch.setattr(similarity, "_MAX_QUERIES", n)
    assert cosine_topk(queries, e).count() == 5 * n


def test_resize_preserves_feature_mass(spark):
    """Rebinning 8→4 must keep each doc's histogram mass and halve bins."""
    from pyspark.sql import functions as F

    from rws_data_ingester_spark.operators.multimodal import (
        attach_payload,
        extract_features,
        resize_features,
    )
    from rws_data_ingester_spark.catalog import Catalog

    d = Catalog(spark, SF_DIR).documents.limit(50)
    feats = extract_features(attach_payload(d))
    mass = F.expr("aggregate(features, cast(0.0 as double), (a, x) -> a + x)")
    before = {r["doc_id"]: r["m"] for r in feats.select("doc_id", F.round(mass, 6).alias("m")).collect()}
    after_df = resize_features(feats, 2).select(
        "doc_id", F.round(mass, 6).alias("m"), F.size("features").alias("n")
    )
    for r in after_df.collect():
        assert r["n"] == 4
        assert abs(r["m"] - before[r["doc_id"]]) < 1e-6


def test_cosine_zero_vector_is_null_cross_engine(spark, tmp_path):
    """An all-zero embedding has no defined cosine: the exact scorer and
    DuckDB's nullif must both yield NULL (not inf/NaN/0) — and the NULL
    must sort last so the zero vector never enters anyone's top-k."""
    import duckdb
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(8)], "a") for i in range(6)]
    rows.append((6, [0.0] * 8, "a"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    emb = spark.read.parquet(f"{tmp_path}/embeddings.parquet")

    out = cosine_topk(emb.filter(F.col("vec_id").isin(0, 6)), emb, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # zero vector never appears as a neighbor of a real query
    assert all(r["neighbor_id"] != 6 for r in by_q[0]), by_q[0]
    # the zero query's sims are all NULL (cosine undefined)
    assert all(r["cosine_sim"] is None for r in by_q[6]), by_q[6]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    drows = con.execute(
        """
        SELECT list_dot_product(a.embedding, b.embedding)
               / nullif(sqrt(list_dot_product(a.embedding, a.embedding))
                        * sqrt(list_dot_product(b.embedding, b.embedding)), 0) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id = 6 AND b.vec_id = 0
        """
    ).fetchall()
    assert drows[0][0] is None


def test_banded_hyperplane_signature_matches_packed_path(spark):
    """The band-first construction (no 62-plane cap) must produce exactly
    the bands of the packed 16-bit ``lsh_sig`` for the same seed: band b
    is bits [4b, 4b+4) of the packed long, low bit first. Pins the bit
    order both builders share, so recall/cost numbers measured on one
    apply to the other."""
    from rws_data_ingester_spark.catalog import Catalog
    from rws_data_ingester_spark.operators.similarity import (
        banded_hyperplane_signature,
        hyperplane_signature,
    )

    e = Catalog(spark, SF_DIR).embeddings.select("vec_id", "embedding").limit(200)
    packed = {
        (r["vec_id"], band, (r["lsh_sig"] >> (4 * band)) & 0xF)
        for r in hyperplane_signature(e, n_planes=16).collect()
        for band in range(4)
    }
    direct = {tuple(r) for r in banded_hyperplane_signature(e, n_bands=4, band_bits=4).collect()}
    assert len(direct) == 4 * 200
    assert packed == direct


def test_banded_hyperplane_signature_beyond_word_width(spark):
    """Signatures wider than one machine word (8 bands × 16 bits = 128
    planes) must construct cleanly — the packed-long path hard-caps at 62
    planes — and wider bands must be MORE selective: the per-band bucket
    collision fraction at 16 bits is strictly below the 4-bit fraction."""
    from rws_data_ingester_spark.catalog import Catalog
    from rws_data_ingester_spark.operators.similarity import banded_hyperplane_signature

    e = Catalog(spark, SF_DIR).embeddings.select("vec_id", "embedding")
    n = e.count()

    def cand_frac(n_bands, band_bits):
        b = banded_hyperplane_signature(e, n_bands=n_bands, band_bits=band_bits)
        qb = b.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("qid"), "band_id", "band_val"
        )
        cands = (
            qb.join(b.withColumnRenamed("vec_id", "nid"), ["band_id", "band_val"])
            .filter(F.col("qid") != F.col("nid"))
            .select("qid", "nid")
            .distinct()
            .count()
        )
        return cands / (10 * n)

    wide = cand_frac(8, 16)   # 128 planes — impossible on the packed path
    narrow = cand_frac(4, 4)
    assert wide < narrow, (wide, narrow)


def test_minhash_sql_shingles_match_shingles(spark):
    """Regression pin on the one shingle builder behind minhash_signature:
    a torture corpus — short rows (< k tokens), double spaces, empty
    string, NULL text, exactly-k tokens, long rows — must shingle to the
    literal lists below, captured from the former Column-lambda form. An
    edit that changes any of them would silently change MinHash
    signatures."""
    from rws_data_ingester_spark.operators.dedup import shingles

    rows = [
        (0, "one"),
        (1, "two words"),
        (2, "exactly three tokens"),
        (3, "now four whole tokens"),
        (4, "a b c d e f g h i j k"),
        (5, "double  space   runs tokenize as empty strings"),
        (6, ""),
        (7, None),
        (8, "repeat repeat repeat repeat repeat"),
    ]
    expected = {
        0: ["one"],
        1: ["two words"],
        2: ["exactly three tokens"],
        3: ["now four whole", "four whole tokens"],
        4: ["a b c", "b c d", "c d e", "d e f", "e f g", "f g h", "g h i", "h i j", "i j k"],
        5: [
            "double  space", " space ", "space  ", "  runs", " runs tokenize",
            "runs tokenize as", "tokenize as empty", "as empty strings",
        ],
        6: [""],
        7: [""],
        8: ["repeat repeat repeat"],
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", shingles("text", 3).alias("s")).collect()
    }
    assert got == expected


def test_sql_double_literal_roundtrips_exactly(spark):
    """r11 regression pin: the SQL-text literal renderer behind the
    one-parse plane/centroid matrices (_sql_double) must parse to the
    EXACT double F.lit would ship — repr() round-trips and Java's
    Double.parseDouble is correctly rounding, so any divergence here
    means signatures/cell ids silently drift from the Column-API form."""
    from rws_data_ingester_spark.operators.similarity import _sql_double

    torture = [
        0.0, -0.0, 1.0, -1.0, 1/3, -1/3, 1e-300, -1e-300, 1e300,
        5e-324, 1.7976931348623157e308, 0.1, 2.225073858507e-308,
        -123456.789e-12, 9007199254740993.0,
    ]
    exprs = []
    for i, x in enumerate(torture):
        # bitwise compare via double→long bits twin columns
        exprs.append(
            F.expr(_sql_double(x)).alias(f"sql_{i}")
        )
        exprs.append(F.lit(float(x)).alias(f"lit_{i}"))
    row = spark.range(1).select(*exprs).collect()[0]
    import struct

    for i, x in enumerate(torture):
        a, b = row[f"sql_{i}"], row[f"lit_{i}"]
        assert struct.pack("d", a) == struct.pack("d", b), (x, a, b)


def test_embedding_dup_ids_plans_one_block_kernel(spark):
    """Pair scoring is one grouped-map numpy kernel per block, fed by a
    hash exchange on the block columns with an EXPLICIT partition count
    (REPARTITION_BY_NUM: AQE cannot coalesce every block onto one Python
    worker) — and no self-join, in either join regime: below the
    broadcast threshold and with broadcast disabled (-1)."""
    import re

    from rws_data_ingester_spark.operators.similarity import (
        _as_double,
        embedding_dup_ids,
        scorable,
    )
    from rws_data_ingester_spark.catalog import Catalog

    e = Catalog(spark, SF_DIR).embeddings
    v = scorable(e).select(
        "vec_id", "label", _as_double("embedding").alias("e")
    )

    def plan():
        return embedding_dup_ids(v, ["label"])._jdf.queryExecution().executedPlan().toString()

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    plans = [plan()]
    try:
        spark.conf.set(key, "-1")
        plans.append(plan())
    finally:
        spark.conf.set(key, saved)
    for p in plans:
        assert p.count("FlatMapGroupsInPandas") == 1, p
        assert len(re.findall(
            r"Exchange hashpartitioning\(label#\d+, \d+\), REPARTITION_BY_NUM", p
        )) == 1, p
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p


def _catalyst_dup_ids(v, block_cols, threshold):
    """The reference the block kernel must reproduce: the blocked Catalyst
    self-join with the interpreted ``_FOLD`` dot. NaN cosines are excluded
    explicitly — Spark orders NaN above every double, so the bare
    ``>=`` would call a NaN-poisoned pair a dup; the contract is that it
    never is (and scorable() keeps such vectors out of every pipeline)."""
    vn = v.withColumn("n", F.sqrt(F.expr(_FOLD.format(a="e", b="e"))))
    a, b = vn.alias("a"), vn.alias("b")
    cond = F.col("a.vec_id") < F.col("b.vec_id")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    sim = F.expr(_FOLD.format(a="a.e", b="b.e")) / F.nullif(
        F.col("a.n") * F.col("b.n"), F.lit(0.0)
    )
    return a.join(b, cond).select(
        *(F.col(f"a.{c}").alias(c) for c in block_cols),
        F.col("b.vec_id").alias("vec_id"),
        sim.alias("sim"),
    ), (F.col("sim") >= threshold) & ~F.isnan("sim")


def _ids(df) -> set:
    return {r["vec_id"] for r in df.collect()}


_TARGETS = [0.9] * 10 + [0.9 + 1e-10] * 2 + [0.9 - 1e-10] * 2 + [0.95] * 2


def _planted_blocks(spark):
    """Pairs of random 64-d vectors planted at cosine 0.9, 0.9 ± 1e-10
    and 0.95: 160 two-vector blocks (a two-row product is where BLAS
    dgemm drops the sequential fold order) and 4 blocks of 16 pairs, plus
    two zero vectors. The computed cosine of a pair planted at 0.9 lands
    a few ulps either side of the threshold, so only a kernel that folds
    exactly like Catalyst agrees with it on every one."""
    import numpy as np

    rng = np.random.default_rng(11)
    plants = [(f"P{i}", t) for i, t in enumerate(_TARGETS * 10)]
    plants += [(f"B{b}", t) for b in range(4) for t in _TARGETS]
    rows, vid = [], 0
    for label, t in plants:
        u = rng.normal(size=64)
        w = rng.normal(size=64)
        w -= (w @ u) / (u @ u) * u
        b = t * u / np.linalg.norm(u) + np.sqrt(1 - t * t) * w / np.linalg.norm(w)
        for x in (u, b * rng.uniform(0.5, 2.0)):
            rows.append((vid, label, [float(y) for y in x]))
            vid += 1
    rows += [(vid, "B0", [0.0] * 64), (vid + 1, "B0", [0.0] * 64)]
    rng.shuffle(rows)  # ids do not follow the planted order within a pair
    return spark.createDataFrame(rows, "vec_id long, label string, e array<double>")


def test_block_kernel_threshold_decisions_bit_identical_to_catalyst(spark):
    """Bit-identity on the threshold: the dup ids equal the Catalyst
    fold's on pairs planted at (and 1e-10 around) cosine 0.9."""
    from rws_data_ingester_spark.operators.similarity import embedding_dup_ids

    v = _planted_blocks(spark)
    pairs, is_dup = _catalyst_dup_ids(v, ["label"], 0.9)
    ref = _ids(pairs.filter(is_dup))
    got = _ids(embedding_dup_ids(v, ["label"], threshold=0.9))
    assert got == ref, (sorted(got - ref), sorted(ref - got))
    # the boundary is really exercised: every 0.95 / +1e-10 plant is a
    # dup, no -1e-10 plant is, and the plants at 0.9 fall on both sides
    sure, at = 14 * 4, 14 * 10
    assert sure < len(ref) < sure + at, len(ref)


def test_dedup_embedding_cosine_counts_match_catalyst_on_planted_pairs(spark, tmp_path):
    """dedup_embedding_cosine's per-label n_neardups and avg_sim, from the
    same block kernel, equal the Catalyst fold's on the planted pairs."""
    from rws_data_ingester_spark.functions.rounding import pround

    v = _planted_blocks(spark)
    v.withColumnRenamed("e", "embedding").write.parquet(f"{tmp_path}/embeddings.parquet")
    got = {
        tuple(r)
        for r in REGISTRY["dedup_embedding_cosine"].fn(spark, str(tmp_path)).collect()
    }
    pairs, _ = _catalyst_dup_ids(v, ["label"], 0.9)
    ref = {
        tuple(r)
        for r in pairs.groupBy("label").agg(
            F.count(F.when(F.col("sim") >= 0.9, 1)).alias("n_neardups"),
            (pround(F.avg("sim"), 4) + 0.0).alias("avg_sim"),
        ).collect()
    }
    assert got == ref


def test_block_kernel_dirty_blocks_match_catalyst(spark):
    """Dirty input gets the Catalyst fold's semantics: a NULL vector, a NULL or
    NaN element, or a length mismatch never makes a dup; a NULL block key
    never pairs; singleton blocks, the empty frame and the one-block
    (block_cols=[]) form all agree with the Catalyst reference."""
    from rws_data_ingester_spark.operators.similarity import embedding_dup_ids

    base = [1.0, 2.0, 3.0, 4.0]
    near = [1.0, 2.0, 3.0, 4.1]
    rows = [
        (1, "a", base),
        (2, "a", near),                        # dup of 1
        (3, "a", None),                        # NULL vector
        (4, "a", [1.0, None, 3.0, 4.0]),       # NULL element
        (5, "a", [1.0, float("nan"), 3.0, 4.0]),  # NaN element
        (6, "a", base + [0.0]),                # longer: zip_with NULL-pads
        (7, "a", base + [0.0]),                # dup of 6 (same length)
        (8, "a", [1.0, 2.0, 3.0]),             # shorter prefix of 1
        (9, "a", [0.0, 0.0, 0.0, 0.0]),        # zero vector
        (10, "a", []),                         # empty vector
        (11, "b", base),                       # singleton block
        (12, None, base),                      # NULL block key
        (13, None, near),
        (14, "c", [float("nan")] * 4),
        (15, "c", [float("nan")] * 4),
    ]
    v = spark.createDataFrame(rows, "vec_id long, label string, e array<double>")
    for frame in (v, v.filter(F.lit(False))):
        for cols in (["label"], []):
            pairs, is_dup = _catalyst_dup_ids(frame, cols, 0.9)
            ref = _ids(pairs.filter(is_dup))
            assert _ids(embedding_dup_ids(frame, cols, threshold=0.9)) == ref, cols
    assert _ids(embedding_dup_ids(v, ["label"])) == {2, 7}
    assert _ids(embedding_dup_ids(v, [])) == {2, 7, 11, 12, 13}
