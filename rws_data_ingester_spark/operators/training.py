"""End-to-end training-data curation pipeline — the whole §2.10 [EXT]
surface composed into one funnel, the way a corpus team actually runs
it. Stages: exact dedup → near-dup cluster removal → quality gate →
contamination screen → per-language contribution cap → sequence packing.

Output is the funnel summary (one row per stage with surviving counts)
plus final packing stats — the numbers a pipeline owner monitors.

Scale design:
- Every stage is one of the already-scale-audited operators (hash-key
  dedup shuffle, LSH banding + connected components, map-side quality
  predicates, broadcast benchmark grams, WindowGroupLimit cap,
  range-partitioned greedy packing).
- Stage survival is computed ONCE as a cascade of boolean flags on a
  narrow per-doc frame (id, tokens, lang, flags — never the body): each
  stage contributes an id-set joined back on ``doc_id``, so consecutive
  joins reuse one exchange. A naive funnel that unions one aggregate per
  stage re-evaluates every upstream stage per branch — the 4-gram
  contamination explode would run 3x and the dedup semi-joins 6x.
- The flag frame is ``localCheckpoint``-ed (lazy) before fan-out to its
  two consumers (the funnel aggregate and the packing stage); on a real
  cluster this is ``checkpoint`` to durable storage. It holds ~4 small
  columns per surviving doc — trivial next to the corpus itself.
- All six funnel rows come from ONE conditional aggregation over the
  flag frame (sum(when(flag, ...))), unpivoted to rows — a single pass
  instead of six.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql import types as T

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.session import local_frame
from rws_data_ingester_spark.operators.cluster import connected_components
from rws_data_ingester_spark.operators.dedup import (
    lsh_star_edges,
    minhash_signature,
)
from rws_data_ingester_spark.operators.packing import pack_sequences
from rws_data_ingester_spark.plans.registry import query

# Phase-1 shard count for the per-language contribution cap: a hot
# language's stage-4 survivors spread over this many tasks before the
# exact per-lang rank. Deterministic (xxhash64 of doc_id, guide §2.5),
# so task retries reproduce the same split.
_CAP_SHARDS = 64

# Driver-side bound on the lang-cap id collect: 100 ids per language, so
# this admits 1,000 languages. The collect fetches at most one row more
# and raises past it, as connected_components does at driver_max_edges.
_MAX_CAPPED_IDS = 100_000


@query("pipeline_training_data", oracle=None)  # minhash/packing inside → rows-only
def pipeline_training_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-stage curation funnel over `documents`, returning one row per
    stage: (stage_order, stage, n_docs surviving, n_tokens surviving) and
    a final `packed` row where n_docs = sequence count. Deterministic end
    to end (content-hash keepers, min-id cluster roots, md5-ranked caps,
    id-ordered packing) — a re-run reproduces the same corpus."""
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", "lang", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )

    # Stage id-sets -------------------------------------------------------
    # 1. exact dedup: keep min doc_id per content hash (bodies never shuffle).
    #    Carried as the DUPES complement (docs whose id is NOT their
    #    group's min — ``d ▷ keepers`` is exactly ``NOT (d ⋉ keepers)``
    #    because doc_id is unique and belongs to one hash group): dupes is
    #    the set every consumer actually tests membership against, and it
    #    scales with the DUPLICATES, not the corpus. r10 carried `keepers`
    #    (one id per distinct hash ≈ corpus-sized) through a checkpoint
    #    plus one corpus-sized broadcast build PER consumer (~0.4 s each
    #    at sf0.1, ×2 in the flag-frame block alone; broadcast reuse
    #    refuted — column pruning de-canonicalizes the subtrees). The
    #    groupBy(hash) partial aggregation is kept (skew-immune: a viral
    #    doc's copies partial-aggregate map-side); only the attach side
    #    shrinks. The anti-join below runs ONCE, inside the CC edge
    #    materialization, and its small result is the checkpointed state.
    keepers = d.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    dupes = (
        d.select("doc_id")
        .join(keepers, "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    s1 = d.join(dupes, "doc_id", "left_anti")

    # 2. near-dup removal: MinHash → LSH star edges (linear in bucket
    #    size) → connected components over the EDGE-TOUCHING ids only.
    #    The funnel never needs the full per-vertex labeling — only which
    #    docs to DROP: the non-roots (id != component), a subset of the
    #    edge endpoints, i.e. bounded by the candidate set, not the
    #    corpus. The previous form passed vertices=s1 and derived
    #    roots = comp.filter(id == component); comp then carried
    #    _with_isolated's corpus-wide distinct + anti-join + union, and
    #    `roots` has TWO consumers (the contamination explode and the
    #    flag join), so that lineage executed twice per run (r10
    #    measurement: 36 → 30 Spark jobs, identical funnel output).
    #    roots ≡ s1 ids minus nonroots, so s2 = s1 AND NOT nonroot.
    sigs = minhash_signature(s1.select("doc_id", "text"), "doc_id", "text")
    edges = lsh_star_edges(sigs, "doc_id")
    comp = connected_components(edges)
    nonroots = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    # nonroots ⊆ edge endpoints ⊆ s1 ids by construction, so the
    # near-dup flag implies the exact-dedup flag.

    # 3. quality gate: enough tokens, reasonable mean token length —
    #    pure map-side predicate, evaluated inline on the base scan.
    q_pred = (F.col("n_tokens") >= 10) & (
        (F.length("text") / F.col("n_tokens")).between(2.0, 12.0)
    )

    # 4. contamination screen: drop docs sharing any 4-gram with the
    #    benchmark set (docs 0-9), benchmark grams broadcast. The explode
    #    runs over quality-gate survivors only — and exactly ONCE.
    s3_docs = (
        d.filter(q_pred)
        .join(dupes, "doc_id", "left_anti")
        .join(nonroots, "doc_id", "left_anti")
    )
    # The token array is bound ONCE via the single-element-wrapper trick
    # (transform over array(split(...)) — same as text_contamination): a
    # bare split() referenced inside the per-position lambda is
    # re-evaluated PER GRAM, O(tokens²) per document — one 50k-token
    # document spent ~100 s re-splitting itself (found by the
    # multi-MB-document probe; thread dump showed StringSplit inside
    # ConcatWs.eval).
    # Each 4-gram is carried as ONE xxhash64 long of its 4 tokens, never
    # as an assembled string: the screen only tests gram EQUALITY, and
    # tokens come from split(' ') so they cannot contain the separator —
    # 4-token-tuple equality is exactly string-gram equality, and Spark's
    # multi-arg xxhash64 seed-chains per field (no concatenation
    # ambiguity), so hash equality ⟺ gram equality up to 2⁻⁶⁴ collisions
    # (which could only ADD a dirty doc; row-identity verified on every
    # driver scale — deterministic data + deterministic hash, so the
    # driver rerun reproduces the check exactly). The long form skips
    # the per-gram concat allocation, broadcasts a long set instead of
    # strings (LongHashedRelation probe), and anything that shuffles
    # carries 8-byte keys — measured 0.50 s → 0.40 s on the corpus-wide
    # pass at sf0.1, identical dirty ids.
    # Built as ONE SQL parse (the r10 minhash_signature trick, extended
    # here in r11): the python-lambda form of this expression costs
    # ~110 ms of py4j/analysis PER fn() CALL at construction time — real
    # bench seconds, since the bench times fn()+count(). Expression tree
    # is identical to the lambda form (verified row-identical).
    grams = s3_docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), t -> CASE WHEN size(t) >= 4"
                " THEN transform(sequence(1, size(t) - 3),"
                " i -> xxhash64(element_at(t, i), element_at(t, i + 1),"
                " element_at(t, i + 2), element_at(t, i + 3)))"
                " ELSE CAST(array() AS array<bigint>) END)[0]"
            )
        ).alias("gram"),
    )
    bench = grams.filter(F.col("doc_id") < 10).select("gram").distinct()
    dirty = (
        grams.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )

    # Flag cascade --------------------------------------------------------
    # One narrow frame, one row per raw doc; every stage id-set joins on
    # doc_id so the exchange is reused across the join chain. Bodies are
    # dropped before the first join. Kept as THREE separate left joins
    # on purpose: merging them into one union-tagged marks table was
    # measured in r11 at +6% wall — the three broadcast builds execute
    # concurrently on broadcast threads, and the merged form serialized
    # them behind one union+aggregate exchange.
    # The cascade is ONE select, not a withColumn chain: every
    # withColumn is a full eager analysis pass over this plan — which
    # contains the whole grams/dirty subtree — so the r10 five-step
    # chain re-analyzed that tree five times per fn() call (~0.1 s of
    # driver time). The flags inline their predecessors; the optimizer's
    # projection collapse produced the same physical expressions either
    # way.
    _s1 = F.col("_dup").isNull()
    _s2 = _s1 & F.col("_nr").isNull()
    _s3 = _s2 & F.col("_q")
    _s4 = _s3 & (F.col("doc_id") >= 10) & ~F.coalesce("_dirty", F.lit(False))
    ann = (
        d.select("doc_id", "n_tokens", "lang", q_pred.alias("_q"))
        .join(dupes.withColumn("_dup", F.lit(True)), "doc_id", "left")
        .join(nonroots.withColumn("_nr", F.lit(True)), "doc_id", "left")
        .join(dirty.withColumn("_dirty", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "lang",
            _s1.alias("s1"),
            _s2.alias("s2"),
            _s3.alias("s3"),
            _s4.alias("s4"),
        )
        .localCheckpoint(eager=False)
    )

    # 5. per-language contribution cap (deterministic md5 rank) over the
    #    stage-4 survivors. Two-phase, skew-safe (guide §2.5 two-level
    #    aggregation): rank within (lang, shard) first — `lang` is
    #    low-cardinality, so a one-phase window puts a hot language's
    #    entire survivor set on ONE task at 100 TB; the deterministic
    #    xxhash64 shard spreads it over _CAP_SHARDS tasks — keep each
    #    shard's top-`cap`, then exact-rank the ≤ cap×_CAP_SHARDS
    #    finalists per lang. Exact: a global top-100-by-md5 member is
    #    top-≤100 within its own shard, so phase 1 never drops one.
    #    The capped ids (≤ 100 per language BY CONSTRUCTION — the same
    #    bounded row set the r10 plan built a broadcast from) come back
    #    to the driver once and re-plan as a LocalRelation, so both
    #    consumers of the s5 flag (funnel aggregate, packing) attach it
    #    map-side from plan-embedded rows: no second corpus-frame
    #    localCheckpoint (r10's ann5), no broadcast-build job per
    #    consumer. Same gate-bounded-collect class as the CC probe: at
    #    most _MAX_CAPPED_IDS + 1 rows reach the driver.
    rank_key = F.md5(F.col("doc_id").cast("string"))
    w_shard = Window.partitionBy(
        "lang", F.pmod(F.xxhash64("doc_id"), F.lit(_CAP_SHARDS))
    ).orderBy(rank_key)
    w = Window.partitionBy("lang").orderBy(rank_key)
    capped_ids = [
        r[0]
        for r in (
            ann.filter("s4")
            .select("doc_id", "lang", F.row_number().over(w_shard).alias("rn1"))
            .filter(F.col("rn1") <= 100)
            .select("doc_id", F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 100)
            .select("doc_id")
            .limit(_MAX_CAPPED_IDS + 1)
            .collect()
        )
    ]
    if len(capped_ids) > _MAX_CAPPED_IDS:
        raise RuntimeError(
            f"lang cap keeps more than {_MAX_CAPPED_IDS} doc ids (100 per"
            " language): too many languages for the driver-side id list"
        )
    capped = local_frame(
        spark,
        [(i,) for i in capped_ids],
        T.StructType([T.StructField("doc_id", ann.schema["doc_id"].dataType)]),
    )
    ann5 = ann.join(capped.withColumn("_k5", F.lit(True)), "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "lang",
        "s1",
        "s2",
        "s3",
        "s4",
        (F.col("s4") & F.coalesce("_k5", F.lit(False))).alias("s5"),
    )

    # Funnel: ONE conditional aggregation, unpivoted to stage rows. The
    # whole aggregate→struct-array is ONE SQL parse: the column-object
    # form (12 aggregate columns + 6 struct literals) cost ~270 ms of
    # construction-time py4j/analysis per fn() call vs ~85 ms for the
    # single parse — same schema, same rows (verified both).
    def surv_sql(i: int, name: str, flag: str | None) -> str:
        if flag is None:
            n_rows = "cast(count(*) as bigint)"
            n_tok = "cast(coalesce(sum(n_tokens), 0) as bigint)"
        else:
            n_rows = f"cast(sum(cast({flag} as bigint)) as bigint)"
            n_tok = (
                f"cast(coalesce(sum(CASE WHEN {flag} THEN n_tokens END), 0)"
                " as bigint)"
            )
        return (
            f"named_struct('stage_order', {i}, 'stage', '{name}',"
            f" 'n_rows', {n_rows}, 'n_tokens', {n_tok})"
        )

    stages = ["raw", "exact_dedup", "near_dedup", "quality_gate",
              "decontaminated", "lang_capped"]
    agg_sql = "array(" + ", ".join(
        surv_sql(i, name, None if i == 0 else f"s{i}")
        for i, name in enumerate(stages)
    ) + ")"
    funnel = (
        ann5.agg(F.expr(agg_sql).alias("rows"))
        .select(F.explode("rows").alias("row"))
        .select("row.*")
    )

    # 6. pack into 256-token sequences (second consumer of the flag frame)
    packed = pack_sequences(ann5.filter("s5").select("doc_id", "n_tokens"), budget=256)

    return funnel.unionAll(
        packed.agg(
            F.lit(6).alias("stage_order"),
            F.lit("packed").alias("stage"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("total_tokens").cast("long").alias("n_tokens"),
        )
    ).orderBy("stage_order")
