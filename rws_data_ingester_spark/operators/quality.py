"""Repetition-based quality signals and semantic dedup (SURVEY.md §2.10
[EXT] — LLM-training-data curation beyond the reference's scope; the
reference (rotterdam_swimming_advice.py) has no corpus-quality stage at
all, so these follow the published data-pipeline literature: repetition
filters a la Gopher (Rae et al. 2021, §A1.1) and cluster-blocked
semantic dedup a la SemDeDup (Abbas et al. 2023).

Scale shape: every per-document signal is a pure projection over the
token array (higher-order lambdas, whole-stage codegen, zero shuffle);
the only shuffles are the bigram frequency count (keyed on (doc_id,
bigram) with map-side partial aggregation) and the final per-language
rollup. Semantic dedup blocks the pair space by k-means cell exactly as
pipeline_embedding_dedup_lsh blocks by LSH band — O(n²) never
materializes, and the removal anti-join ships 8-byte ids, not vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.functions.rounding import pround
from rws_data_ingester_spark.plans.registry import query

# Bigrams of the token array, 1-based on both engines (Spark element_at /
# DuckDB [] are both 1-based). Empty for single-token docs — sequence()
# would count DOWN for stop < start, so the n>=2 guard is load-bearing.
_BIGRAMS_SPARK = (
    "CASE WHEN size(toks) >= 2 THEN"
    " transform(sequence(1, size(toks) - 1),"
    "   i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    " ELSE array() END"
)

# Count of the most frequent bigram, computed ROW-LOCALLY: sort the bigram
# array, then one aggregate pass tracking the longest run of equal
# neighbors (struct accumulator: previous value, current run, best run).
# O(n log n) per document and ZERO shuffle — the explode → groupBy(doc,
# bigram) → groupBy(doc) alternative shuffles the corpus's entire bigram
# stream twice (measured: pipeline_quality_filter 1.24 s → 0.82 s at
# sf0.1 after the switch; plan-asserted shuffle-free in tests). The
# DuckDB oracles keep the relational formulation — they state the
# semantics, not the plan.
_TOP_BIGRAM_N_SPARK = (
    "aggregate(array_sort({bg}),"
    " struct(cast(null as string) as prev, 0L as run, 0L as best),"
    " (acc, x) -> struct(x as prev,"
    "   if(x <=> acc.prev, acc.run + 1, 1L) as run,"
    "   greatest(acc.best, if(x <=> acc.prev, acc.run + 1, 1L)) as best),"
    " acc -> acc.best)"
)


@query(
    "text_repetition",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM d WHERE len(toks) >= 2
    ),
    bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
    ba AS (
      SELECT doc_id, MAX(c) AS top_bigram_n, SUM(c) AS n_bigrams
      FROM bc GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(d.toks)::BIGINT AS n_tokens,
           ROUND(1.0 - len(list_distinct(d.toks))::DOUBLE / len(d.toks), 6)
             AS dup_token_frac,
           COALESCE(ba.top_bigram_n, 0)::BIGINT AS top_bigram_n,
           ROUND(COALESCE(ba.top_bigram_n::DOUBLE / ba.n_bigrams, 0.0), 6)
             AS top_bigram_frac
    FROM d LEFT JOIN ba USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction (1 - distinct/total) and the share of bigram mass held by
    the single most frequent bigram. High values mark boilerplate /
    keyword-stuffed pages that repetition filters drop before training.

    Every signal — including the top-bigram count, via a sorted
    run-length scan inside the row (see _TOP_BIGRAM_N_SPARK) — is a pure
    projection: the whole query is shuffle-free, linear in corpus token
    count, and never pairwise."""
    d = Catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
    ).withColumn("bg", F.expr(_BIGRAMS_SPARK))
    n_toks = F.size("toks")
    top_n = F.expr(_TOP_BIGRAM_N_SPARK.format(bg="bg"))
    return base.select(
        "doc_id",
        n_toks.cast("long").alias("n_tokens"),
        pround(
            F.lit(1.0) - F.size(F.array_distinct("toks")).cast("double") / n_toks, 6
        ).alias("dup_token_frac"),
        top_n.alias("top_bigram_n"),
        pround(
            F.when(F.size("bg") > 0, top_n.cast("double") / F.size("bg")).otherwise(0.0),
            6,
        ).alias("top_bigram_frac"),
    )


# Gate thresholds — Gopher-shaped, tuned so the synthetic fixture corpus
# exercises every branch (some docs fail each rule, most pass).
_MIN_TOKENS, _MAX_TOKENS = 20, 400
_MAX_DUP_TOKEN_FRAC = 0.75
_MAX_TOP_BIGRAM_FRAC = 0.08
_MIN_MEAN_TOKEN_LEN = 3.0


@query(
    "pipeline_quality_filter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM d WHERE len(toks) >= 2
    ),
    bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram),
    ba AS (
      SELECT doc_id, MAX(c)::DOUBLE / SUM(c) AS top_bigram_frac
      FROM bc GROUP BY doc_id
    ),
    scored AS (
      -- mean token length via char arithmetic: total chars minus the
      -- n-1 single-space separators, over n tokens — no per-token pass
      SELECT d.doc_id, d.lang,
             len(d.toks) AS n_tokens,
             1.0 - len(list_distinct(d.toks))::DOUBLE / len(d.toks) AS dup_frac,
             COALESCE(ba.top_bigram_frac, 0.0) AS top_bigram_frac,
             (d.n_chars - (len(d.toks) - 1))::DOUBLE / len(d.toks) AS mean_tok_len
      FROM d LEFT JOIN ba USING (doc_id)
    ),
    labeled AS (
      SELECT lang,
             CASE
               WHEN n_tokens < {_MIN_TOKENS} OR n_tokens > {_MAX_TOKENS} THEN 'length'
               WHEN dup_frac > {_MAX_DUP_TOKEN_FRAC} THEN 'dup_tokens'
               WHEN top_bigram_frac > {_MAX_TOP_BIGRAM_FRAC} THEN 'top_bigram'
               WHEN mean_tok_len < {_MIN_MEAN_TOKEN_LEN} THEN 'token_len'
               ELSE 'pass'
             END AS verdict
      FROM scored
    )
    SELECT lang, verdict, COUNT(*)::BIGINT AS n_docs
    FROM labeled GROUP BY lang, verdict
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-rule quality gate as one plan: per-document repetition +
    length + token-shape signals, a first-failing-rule verdict, and
    per-(lang, verdict) counts — the audit table a curation run emits so
    you can see WHAT a filter dropped, not just how much.

    First-fail precedence makes the verdict deterministic and the counts
    partition the corpus exactly (sum over verdicts = corpus size).
    Shuffle-free up to the final (lang, verdict) rollup: the top-bigram
    signal uses the row-local sorted run-length scan, so no per-bigram
    exchange ever happens."""
    d = Catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("toks")
    ).withColumn("bg", F.expr(_BIGRAMS_SPARK))
    n_toks = F.size("toks")
    top_n = F.expr(_TOP_BIGRAM_N_SPARK.format(bg="bg"))
    scored = base.select(
        "lang",
        n_toks.alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct("toks")).cast("double") / n_toks).alias(
            "dup_frac"
        ),
        F.when(F.size("bg") > 0, top_n.cast("double") / F.size("bg"))
        .otherwise(0.0)
        .alias("top_bigram_frac"),
        # mean token length from char arithmetic (chars minus the n-1
        # single-space separators, over n tokens) — no per-token lambda
        ((F.col("n_chars") - (n_toks - 1)).cast("double") / n_toks).alias("mean_tok_len"),
    )
    verdict = (
        F.when(
            (F.col("n_tokens") < _MIN_TOKENS) | (F.col("n_tokens") > _MAX_TOKENS),
            F.lit("length"),
        )
        .when(F.col("dup_frac") > _MAX_DUP_TOKEN_FRAC, F.lit("dup_tokens"))
        .when(F.col("top_bigram_frac") > _MAX_TOP_BIGRAM_FRAC, F.lit("top_bigram"))
        .when(F.col("mean_tok_len") < _MIN_MEAN_TOKEN_LEN, F.lit("token_len"))
        .otherwise(F.lit("pass"))
    )
    return (
        scored.select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count("*").alias("n_docs"))
    )


@query("pipeline_semantic_dedup", oracle=None)  # kmeans cells engine-specific → rows-only
def pipeline_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: seeded k-means partitions the
    embedding space into cells, exact cosine runs ONLY inside each cell,
    and keep-first removal drops any vector ≥0.9-similar to an earlier
    same-cell vector. The third blocking strategy behind the same
    contract as pipeline_embedding_dedup (label blocks, the oracle twin)
    and pipeline_embedding_dedup_lsh (hyperplane bands): cells come from
    the data's own geometry, so near-dups land in the same block without
    any labeling. Recall vs the exact duplicate set is asserted in
    tests/test_quality.py.

    At 100 TB: centroid fit runs on a sample, assignment is one broadcast
    pass (16 centroids × dim floats), the pair space is Σ|cell|², and the
    final anti-join ships ids only.

    The cell id is computed INLINE in the projection that carries label
    and the cast vector (r11, guide §2.1): the former
    ``e.join(assignments, "vec_id")`` re-scanned the corpus and joined
    two corpus-sized sides on vec_id purely to attach the int cell id
    the assignment scan had just computed map-side. Same centroids, same
    argmin → identical cells; rows verified identical at sf0.1."""
    from rws_data_ingester_spark.operators.similarity import (
        _as_double,
        _cell_expr,
        _ivf_fit,
        _label_keep_counts,
        embedding_dup_ids,
        scorable,
    )

    e = Catalog(spark, sf_dir).embeddings
    cents_np, _ = _ivf_fit(e.select("vec_id", "embedding"))
    cell = (
        F.lit(0).cast("int")
        if cents_np is None
        else _cell_expr("e", cents_np)
    )
    v = scorable(e).select(
        "vec_id", "label", _as_double("embedding").alias("e")
    ).select("vec_id", "label", "e", cell.alias("centroid_id"))
    return _label_keep_counts(e, embedding_dup_ids(v, ["centroid_id"], threshold=0.9))


@query("pipeline_quality_classifier", oracle=None)  # trained-model scores → rows-only
def pipeline_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the classifier tier of a curation
    pipeline (a fasttext-style linear model over hashed token features,
    as used alongside rule filters in published LLM data pipelines).
    Weak labels come from the same stopword-density heuristic the rule
    gate uses; a seeded MLlib LogisticRegression over HashingTF features
    is trained on them and batch-scores the corpus. Output: per-language
    doc counts above/below the 0.5 score cut.

    Scale shape: HashingTF and the LR coefficients-dot-features scoring
    are JVM-side per-row transforms (no shuffle); training's LBFGS passes
    run treeAggregate over the feature vectors. At 100 TB you fit on a
    sample (this corpus IS the sample) and only the scoring pass touches
    the full data. Training-set accuracy vs the weak labels is pinned in
    tests/test_quality.py."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF

    d = Catalog(spark, sf_dir).documents
    # NULL text = empty token list, weak label 0.0 (low quality): MLlib's
    # HashingTF throws on a NULL array and LR on a NULL label, so one
    # NULL-text row would otherwise fail the whole fit; the nullif keeps
    # the empty-array ratio from tripping the ANSI zero divide.
    toks = F.coalesce(
        F.split("text", " "), F.expr("cast(array() as array<string>)")
    )
    sw = F.array(*[F.lit(w) for w in ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")])
    ratio = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast(
        "double"
    ) / F.nullif(F.size(toks).cast("double"), F.lit(0.0))
    base = d.select(
        "doc_id",
        "lang",
        toks.alias("toks"),
        F.coalesce((ratio >= 0.05).cast("double"), F.lit(0.0)).alias("label"),
    )
    tf = HashingTF(inputCol="toks", outputCol="features", numFeatures=256)
    feats = tf.transform(base)
    if feats.isEmpty():
        # empty corpus (e.g. an empty day partition): nothing to fit —
        # LBFGS' summarizer rejects zero rows; the audit is simply empty
        return spark.createDataFrame([], "lang string, n_pass long, n_fail long")
    lr = LogisticRegression(maxIter=10, regParam=0.01, featuresCol="features", labelCol="label")
    model = lr.fit(feats)
    # Score via the coefficient vector as Catalyst literals rather than
    # model.transform: the transform UDF serializes the MODEL into the
    # task closure, and a fitted model's training summary pins the
    # SparkSession (whose ObservationManager is not serializable once any
    # Observation has registered — observed() pipelines trip it). The
    # margin sign IS the 0.5-probability decision, pure codegen.
    from pyspark.ml.functions import vector_to_array

    w = [float(x) for x in model.coefficients.toArray()]
    b = float(model.intercept)
    wlit = F.array(*[F.lit(x) for x in w])
    margin = F.lit(b) + F.expr(
        "aggregate(zip_with(fx, wx, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    )
    scored = feats.withColumn("fx", vector_to_array("features")).withColumn("wx", wlit)
    passed = margin > 0.0
    return scored.groupBy("lang").agg(
        F.count(F.when(passed, 1)).alias("n_pass"),
        F.count(F.when(~passed, 1)).alias("n_fail"),
    )


@query(
    "data_quality_audit",
    oracle="""
    SELECT 'orders_rowcount' AS check_name, COUNT(*)::DOUBLE AS value FROM orders
    UNION ALL
    SELECT 'orderkey_nulls', COUNT(*) FILTER (WHERE o_orderkey IS NULL)::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'orderkey_dups',
           (COUNT(*) - COUNT(DISTINCT o_orderkey))::DOUBLE FROM orders
    UNION ALL
    SELECT 'totalprice_nonpositive',
           COUNT(*) FILTER (WHERE o_totalprice <= 0)::DOUBLE FROM orders
    UNION ALL
    SELECT 'orderdate_out_of_range',
           COUNT(*) FILTER (WHERE o_orderdate < DATE '1995-01-01'
                               OR o_orderdate > DATE '2001-12-31')::DOUBLE
    FROM orders
    UNION ALL
    SELECT 'orphan_custkeys', COUNT(*)::DOUBLE
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    """,
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite audit over orders (the Deequ/Great-Expectations
    shape): row count, key null/duplicate counts, domain checks, and a
    cross-table referential-integrity probe (orders whose customer does
    not exist). ALL SIX checks run in ONE pass over the fact: the
    key-only dimension side is broadcast-left-joined ahead of a single
    conditional aggregate (count_if per check, map-side partial), so the
    RI probe rides the same scan as the column checks instead of a
    second one. Output is the narrow (check_name, value) frame a quality
    dashboard ingests."""
    c = Catalog(spark, sf_dir)
    o = c.orders.join(
        F.broadcast(
            c.customer.select(F.col("c_custkey").alias("_ck"))
        ),
        F.col("o_custkey") == F.col("_ck"),
        "left",
    )
    col_checks = o.agg(
        F.count("*").cast("double").alias("orders_rowcount"),
        F.count_if(F.col("o_orderkey").isNull()).cast("double").alias("orderkey_nulls"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("double")
        .alias("orderkey_dups"),
        F.count_if(F.col("o_totalprice") <= 0).cast("double").alias(
            "totalprice_nonpositive"
        ),
        F.count_if(
            (F.col("o_orderdate") < F.lit("1995-01-01"))
            | (F.col("o_orderdate") > F.lit("2001-12-31"))
        )
        .cast("double")
        .alias("orderdate_out_of_range"),
        F.count_if(F.col("_ck").isNull()).cast("double").alias("orphan_custkeys"),
    )
    return col_checks.select(
        F.expr(
            "explode(map("
            "'orders_rowcount', orders_rowcount,"
            "'orderkey_nulls', orderkey_nulls,"
            "'orderkey_dups', orderkey_dups,"
            "'totalprice_nonpositive', totalprice_nonpositive,"
            "'orderdate_out_of_range', orderdate_out_of_range,"
            "'orphan_custkeys', orphan_custkeys))"
        ).alias("check_name", "value")
    )
