"""Near-duplicate cluster resolution — the completion step of the
MinHash/LSH dedup path (SURVEY.md §2.10-6 [EXT]).

LSH banding emits candidate *pairs*; a production training-data pipeline
needs *clusters* (duplicate groups are transitive: A~B and B~C must drop
together even if A,C never share a band) and a canonical-keep removal.
That resolution is connected components over the candidate-pair graph.

The reference (rotterdam_swimming_advice.py) has no dedup surface; this
module is part of the [EXT] LLM-training-data mandate.

Scale design:
- At or under ``driver_max_edges`` candidate edges the components are
  resolved by a driver-side union-find over the collected pairs; the
  candidate graph is the compressed form of the dedup problem, orders
  smaller than the corpus.
- Above the gate, the alternating large-star/small-star rounds of
  Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC
  2014): O(log n) rounds on any graph shape, so an adversarially deep
  near-dup chain (doc A ~ B ~ C ~ ... with no shared band between the
  ends) converges where min-label propagation needs diameter rounds.
  Each round is two window-min passes over the canonical edge list.
- Per-round state covers EDGE-TOUCHING vertices only; isolated vertices
  (the overwhelming majority of a corpus) are attached as
  self-components by a single anti-join at the end. Per-round shuffle
  volume therefore scales with the candidate set, not the corpus.
- CC input is ``lsh_star_edges`` (member → bucket-min), not the clique
  pairs: same components (equivalence-tested), but edge count is linear
  instead of quadratic in bucket size — one hot 10k-member bucket
  (boilerplate/templated spam) is 10k edges, not 50M.
- Lineage is cut per round with ``localCheckpoint`` (on a real cluster,
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` to durable
  storage); without it the iterative plan grows unboundedly and the
  optimizer re-derives every prior round each action.
- The per-round convergence check is a driver-side ``sum`` over the
  checkpointed labels — inherent to any iterative fixpoint (GraphX/MLlib
  do the same); it moves one number per round, never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.operators.dedup import (
    lsh_star_edges,
    minhash_signature,
)
from rws_data_ingester_spark.plans.registry import query
from rws_data_ingester_spark.session import local_frame


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge list
    with columns ``(id_a, id_b)`` → ``(id, component)`` where
    ``component`` is the minimum node id reachable from ``id``.

    **EAGER**: calling this function executes Spark jobs immediately — the
    edge lineage is materialized once (``localCheckpoint``) and probed to
    pick a strategy, and the distributed rounds' convergence probes are
    actions. Callers that only want to inspect a plan or schema without
    paying the (possibly corpus-wide) edge computation should not call
    this until they intend to run it.

    ``vertices`` (single-column ``id`` DataFrame) optionally adds
    isolated nodes, which come back as their own component. Raises
    ``RuntimeError`` if the distributed fixpoint is not reached within
    ``max_iter`` star rounds (O(log n) rounds suffice on any graph).

    Edges with a NULL endpoint are DROPPED up front (an edge to nothing
    is not an edge): filtering before the strategy gate makes the two
    paths below agree on dirty input. A node that only appeared in null
    edges comes back as its own component iff it is in ``vertices``,
    same as any isolated node.

    Adaptive strategy, the broadcast-join-threshold analog: the edge
    list is checkpointed once (a single execution of the corpus-wide
    MinHash→LSH lineage); at or under ``driver_max_edges`` the
    components are resolved by a driver-side union-find over the
    collected pairs (≈3 MB at the 200k default) instead of paying rounds
    of join+agg+checkpoint jobs whose fixed overhead dwarfs the data at
    that size (measured ~2 s → ~0.3 s on the sf0.1 funnel). Above the
    threshold — the 100 TB regime, where a boilerplate-heavy corpus can
    emit billions of candidate edges — the distributed large-star /
    small-star rounds run (``_star_components``). Both paths produce the
    identical min-id labeling (equivalence pinned in
    tests/test_cluster_mixing.py on random graphs, the corpus LSH edges,
    a deep chain, and null-endpoint edges)."""
    half = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    _require_matching_endpoint_types(half)
    half = half.na.drop().localCheckpoint(eager=True)
    # Strategy probe and driver-path input in ONE bounded job: a
    # limit(gate+1) collect over the checkpointed edges both decides the
    # path (len > gate ⇒ distributed) and, at or under the gate, already
    # holds every edge the union-find needs. Driver transfer stays
    # bounded by the gate (+1 row) on any input size.
    probe = half.limit(driver_max_edges + 1).collect()
    if len(probe) <= driver_max_edges:
        return _with_isolated(_driver_components(half, probe), vertices)
    return _with_isolated(_star_components(half, max_iter), vertices)


def _canon(a: F.Column, b: F.Column) -> list[F.Column]:
    return [F.least(a, b).alias("id_a"), F.greatest(a, b).alias("id_b")]


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions of every canonical edge, as ``(u, v)``."""
    return edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).union(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )


def _labels(edges: DataFrame) -> DataFrame:
    """``(id, component)`` with component = min(Γ(id) ∪ {id})."""
    return (
        _sym(edges)
        .groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(F.col("u").alias("id"), F.least("u", "_mv").alias("component"))
    )


def _star(edges: DataFrame, moves) -> DataFrame:
    """One star step: with m = min(Γ(u) ∪ {u}), every neighbor v of u with
    ``moves(u, v)`` re-attaches to m, and u itself attaches to m. m comes
    from a window over u, so the step is one shuffle on u. The output may
    repeat edges (at most two rows per directed edge, so it stays linear
    in the input); the caller dedups once per round."""
    sym = _sym(edges).withColumn(
        "m", F.least("u", F.min("v").over(W.partitionBy("u")))
    )
    return (
        sym.filter(moves(F.col("u"), F.col("v")))
        .select(*_canon(F.col("v"), F.col("m")))
        .union(sym.select(*_canon(F.col("u"), F.col("m"))))
    )


def _star_components(half: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al., SOCC
    2014) over the checkpointed ``(src, dst)`` edges → the min-id
    labeling of every edge-touching vertex.

    large-star(u): every neighbor v > u re-attaches to m = min(Γ(u) ∪ {u});
    small-star(u): every neighbor v < u attaches to m. Both also keep
    (u, m), so self-loops survive (a vertex seen only in a self-loop
    keeps its own label, as in the union-find) and each vertex's label
    can only decrease from round to round while the vertex set stays
    fixed. sum(component) over the labels is therefore stationary exactly
    at the fixpoint: one aggregate per round instead of a join-and-compare
    shuffle. The sum runs in decimal(38,0), so 64-bit ids cannot overflow
    it; ids must be integral on this branch, and any other id type is a
    ``TypeError`` here, before the first round (a string id would
    otherwise die mid-round casting to the decimal).

    The checkpoints are lazy: the sum's job stores the blocks it computes,
    with no separate count job per checkpoint."""
    from pyspark.sql import types as T

    id_type = half.schema["src"].dataType
    if not (
        isinstance(id_type, T.IntegralType)
        or (isinstance(id_type, T.DecimalType) and id_type.scale == 0)
    ):
        raise TypeError(
            f"connected_components above driver_max_edges needs integral ids,"
            f" got {id_type}; map the ids to longs first"
        )
    cur = (
        half.select(*_canon(F.col("src"), F.col("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels, prev_sum = _checkpointed_labels(cur)
    for _ in range(max_iter):
        large = _star(cur, lambda u, v: v > u)
        cur = (
            _star(large, lambda u, v: v < u)
            .distinct()
            .localCheckpoint(eager=False)
        )
        labels, cur_sum = _checkpointed_labels(cur)
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def _checkpointed_labels(edges: DataFrame):
    labels = _labels(edges).localCheckpoint(eager=False)
    total = labels.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
    return labels, total


def union_find_labels(pairs) -> dict:
    """Union-find with path compression over an iterable of (a, b) pairs
    → {id: component} for every edge-touching id. Union-by-min-root
    keeps each tree's root equal to the minimum id of its set, so
    ``find(x)`` IS the min reachable id — the exact labeling the
    distributed star rounds produce (property-tested against
    a BFS reference in tests/test_cluster_mixing.py)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    return {x: find(x) for x in list(parent)}


def _require_matching_endpoint_types(half: DataFrame) -> None:
    """Reject mixed src/dst endpoint types BEFORE any size-gated
    strategy pick (round-6 ADVICE): the driver union-find's output
    schema is typed from one side, so a component value drawn from the
    other side could fail createDataFrame verification where the
    distributed union path would silently coerce — the same
    gate-dependent-divergence class as the null-edge fix. A real
    ``TypeError`` (not ``assert``, which ``python -O`` strips) raised
    before the gate makes both paths reject identically."""
    src_type = half.schema[half.columns[0]].dataType
    dst_type = half.schema[half.columns[1]].dataType
    if src_type != dst_type:
        raise TypeError(
            f"edge endpoint types must match: id_a={src_type}, id_b={dst_type}"
        )


def _driver_components(half: DataFrame, rows: list) -> DataFrame:
    """Union-find over an already-collected (small-by-gate) edge list →
    the same ``(id, component)`` labeling as the distributed star rounds.
    ``half`` supplies only the schema and session; the caller's strategy
    probe already paid the collect.

    NULL-endpoint edges were already dropped — and mixed endpoint types
    rejected — by ``connected_components`` before the strategy gate
    (shared contract with the distributed path).

    The labels go back to Spark through the Arrow path (a pandas frame),
    which plans as a true ``LocalRelation`` — every consumer join builds
    its broadcast straight from plan-embedded rows. The previous
    list-of-tuples ``createDataFrame`` planned as a Python-backed
    ``LogicalRDD``, so EVERY consumption of the result (the funnel
    consumes it twice) spawned a Python-worker scan job: measured
    0.52 s → 0.13 s per consuming join at sf0.1, identical rows. Size is
    bounded by the driver gate (≤ 2·driver_max_edges label rows). Falls
    back to the tuple path if pandas/Arrow is unavailable or rejects the
    id type — output is identical either way, only the plan node
    differs."""
    from pyspark.sql import types as T

    src_type = half.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("id", src_type), T.StructField("component", src_type)]
    )
    labels = union_find_labels((row[0], row[1]) for row in rows)
    return local_frame(half.sparkSession, labels.items(), schema)


def _with_isolated(labels: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Union the labels with self-components for vertices that touch no
    edge (one anti-join at the end instead of dragging the whole corpus
    through every distributed round).

    The anti-join side must be the CHECKPOINTED (or driver-local)
    ``labels`` — whose id set equals the edge-endpoint set by
    construction — not a frame whose lineage reaches back through the
    whole edge pipeline (MinHash → LSH for the dedup queries): that would
    re-execute the corpus-wide signature computation once per consumption
    of the result, and a nondeterministic edge input could even disagree
    with the rounds actually performed."""
    if vertices is None:
        return labels
    isolated = (
        vertices.toDF("id")
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
    )
    return labels.union(
        isolated.select("id", F.col("id").alias("component"))
    )


@query("dedup_clusters", oracle=None)  # minhash-dependent candidate set → rows-only
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document with its near-duplicate cluster id (min doc_id in
    the component; singletons map to themselves) and the cluster size.
    Pipeline: MinHash signatures → LSH band candidates → connected
    components → join back to the full corpus."""
    d = Catalog(spark, sf_dir).documents
    sigs = minhash_signature(d.select("doc_id", "text"), "doc_id", "text")
    edges = lsh_star_edges(sigs, "doc_id")
    comp = connected_components(edges, vertices=d.select("doc_id"))
    # Cluster size via a window count over the component partition, not
    # groupBy + self-join: the join form consumed `comp` twice — and
    # comp's lineage includes _with_isolated's corpus-wide anti-join, so
    # every consumption re-ran it — plus a second exchange for the join.
    # One consumption, one exchange, identical rows (r10 audit).
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(W.partitionBy("component")).alias("cluster_size"),
    )


@query("pipeline_near_dedup_remove", oracle=None)  # same rows-only reason
def pipeline_near_dedup_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-keep near-dup removal: keep only each cluster's root
    (min doc_id), report per-source kept/dropped counts. The removal
    join carries doc ids only — at 100 TB the document bodies never
    shuffle; the final semi-join re-attaches them by id."""
    d = Catalog(spark, sf_dir).documents
    sigs = minhash_signature(d.select("doc_id", "text"), "doc_id", "text")
    edges = lsh_star_edges(sigs, "doc_id")
    # The removal decision only needs which docs are NOT their cluster's
    # root — the non-roots, a subset of the edge endpoints (bounded by
    # the candidate set, never the corpus), so CC runs over edge-touching
    # ids only: no _with_isolated corpus pass at all. Kept/dropped then
    # falls out of ONE scan of d with a single conditional aggregation,
    # where the old form scanned d three times (total agg, semi-join,
    # kept agg) and joined the two aggregates back together (r10 audit:
    # identical 20 output rows, fewer exchanges).
    comp = connected_components(edges)
    nonroots = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id"), F.lit(True).alias("_nr")
    )
    flagged = d.select("doc_id", "source").join(nonroots, "doc_id", "left")
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count_if(F.col("_nr").isNull()).alias("n_kept"),
            F.count_if(F.col("_nr").isNotNull()).alias("n_dropped"),
        )
        .orderBy("source")
    )
