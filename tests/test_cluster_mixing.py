"""Tests for cluster.py (connected components, near-dup removal) and
mixing.py (deterministic sampling, mixing, PII, contamination)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rws_data_ingester_spark.operators.cluster import connected_components
from rws_data_ingester_spark.plans.registry import REGISTRY
from tests.conftest import SF_DIR


def _components_of(spark, edges, vertices=None):
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    vdf = (
        spark.createDataFrame([(v,) for v in vertices], ["id"])
        if vertices is not None
        else None
    )
    rows = connected_components(edf, vertices=vdf).collect()
    return {r["id"]: r["component"] for r in rows}


def test_cc_chain_multi_hop(spark):
    # Path 1-2-3-4-5-6: needs >1 propagation round to reach the far end.
    comp = _components_of(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    assert comp == {i: 1 for i in range(1, 7)}


def test_cc_disjoint_and_singletons(spark):
    comp = _components_of(
        spark,
        [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)],  # dup edge too
        vertices=[10, 11, 12, 20, 21, 30, 31, 99],
    )
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20
    assert comp[30] == comp[31] == 30
    assert comp[99] == 99  # isolated vertex is its own component


def test_cc_result_does_not_reexecute_edge_pipeline(spark):
    """Consuming the connected_components result must NOT re-run the edge
    source: for the dedup queries that lineage is the corpus-wide
    MinHash → LSH computation. An accumulator-probed edge source pins
    that the final isolated-vertex anti-join reads the CHECKPOINTED
    labels, not a pre-checkpoint frame whose lineage reaches the edges."""
    acc = spark.sparkContext.accumulator(0)

    def probe(x):
        acc.add(1)
        return True

    probe_udf = F.udf(probe, "boolean")
    edf = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    ).where(probe_udf("id_a"))
    vdf = spark.createDataFrame([(v,) for v in [1, 2, 3, 10, 11, 99]], ["id"])
    # driver_max_edges=-1 forces the DISTRIBUTED propagation: that is the
    # path whose isolated-vertex anti-join historically re-executed the
    # edge lineage (the round-4 bug this test pins); the round-5 driver
    # fast path cannot re-execute by construction (labels are a collected
    # local relation), so letting it run here would blind the pin.
    out = connected_components(edf, vertices=vdf, driver_max_edges=-1)
    built = acc.value  # edge evaluations spent building/converging
    assert built > 0
    comp = {r["id"]: r["component"] for r in out.collect()}
    comp2 = {r["id"]: r["component"] for r in out.collect()}
    assert acc.value == built, (
        f"edge source re-executed on consumption: {acc.value} != {built}"
    )
    assert comp == comp2
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_star_edges_linear_in_bucket_size(spark):
    """A k-member bucket must emit O(k) star edges (member → bucket min),
    not the O(k²) clique pairs — the hot-bucket scale guarantee. With n
    identical texts every band collides, so: star = n-1 edges, clique =
    n(n-1)/2 pairs, and CC over either yields one component."""
    from rws_data_ingester_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signature,
    )

    n = 12
    df = spark.createDataFrame(
        [(i, "the same boilerplate text repeated verbatim") for i in range(n)],
        ["doc_id", "text"],
    )
    sigs = minhash_signature(df, "doc_id", "text")
    star = lsh_star_edges(sigs, "doc_id").collect()
    assert len(star) == n - 1
    assert {(r["id_a"], r["id_b"]) for r in star} == {(i, 0) for i in range(1, n)}
    assert lsh_candidate_pairs(sigs, "doc_id").count() == n * (n - 1) // 2
    comp = _components_of(
        spark, [(r["id_a"], r["id_b"]) for r in star], vertices=list(range(n))
    )
    assert set(comp.values()) == {0}


def test_cc_matches_union_find(spark):
    """dedup_clusters output == a driver-side union-find over the same
    candidate pairs."""
    pairs = REGISTRY["dedup_minhash_candidates"].fn(spark, SF_DIR).collect()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs:
        union(r["id_a"], r["id_b"])

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in REGISTRY["dedup_clusters"].fn(spark, SF_DIR).collect()
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for d in docs.select("doc_id").collect():
        expected = find(d["doc_id"]) if d["doc_id"] in parent else d["doc_id"]
        assert got[d["doc_id"]] == expected


def test_near_dedup_remove_counts(spark):
    """kept + dropped == total per source, and kept == number of cluster
    roots in that source."""
    out = {
        r["source"]: (r["n_total"], r["n_kept"], r["n_dropped"])
        for r in REGISTRY["pipeline_near_dedup_remove"].fn(spark, SF_DIR).collect()
    }
    clusters = REGISTRY["dedup_clusters"].fn(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    roots = (
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .count()
    )
    root_counts = {r["source"]: r["count"] for r in roots.collect()}
    for src, (total, kept, dropped) in out.items():
        assert total == kept + dropped
        assert kept == root_counts.get(src, 0)


def test_sample_deterministic_stable(spark):
    """Same rows on every invocation (no RNG), and the kept fraction is
    in the loose band the 26/256 threshold implies."""
    a = REGISTRY["sample_deterministic"].fn(spark, SF_DIR)
    b = REGISTRY["sample_deterministic"].fn(spark, SF_DIR)
    ra = sorted(r["doc_id"] for r in a.collect())
    assert ra == sorted(r["doc_id"] for r in b.collect())
    total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert 0.0 <= len(ra) / total <= 0.35  # tiny corpus → loose band


def test_pii_redact_clean(spark):
    """No email/phone/IP survives redaction, and counts are ≥1 each
    (every row had PII injected)."""
    import re

    rows = REGISTRY["text_pii_redact"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_emails"] >= 1 and r["n_phones"] >= 1 and r["n_ips"] >= 1
        assert not re.search(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", r["redacted"])
        assert not re.search(r"\d+\.\d+\.\d+\.\d+", r["redacted"])
        assert not re.search(r"\d{3}-\d{4}", r["redacted"])
        assert "<EMAIL>" in r["redacted"]


def test_contamination_self_overlap(spark):
    """A benchmark doc's own grams always collide: screening the
    benchmark docs against themselves yields full-coverage hits."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in REGISTRY["text_contamination"].fn(spark, SF_DIR).collect()
    }
    # contaminated docs must be non-benchmark and have positive counts
    assert all(doc_id >= 10 and n > 0 for doc_id, n in hits.items())


def test_stratified_cap_plan_and_counts(spark):
    """WindowGroupLimit in the plan (rank filter pushed into the window)
    and no language exceeds the cap."""
    df = REGISTRY["sample_stratified_capped"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    per_lang = {r["lang"]: r["n"] for r in df.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert per_lang and all(n <= 30 for n in per_lang.values())


def test_vocab_oov_bounds(spark):
    """OOV rate in [0,1], n_oov <= n_tokens, vocab join broadcast."""
    df = REGISTRY["text_vocab_oov"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for r in df.collect():
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0


# --------------------------------------------------------------------------
# Distributed CC: large-star / small-star rounds (O(log n) rounds)
# --------------------------------------------------------------------------
def test_star_cc_beats_propagation_on_deep_chain(spark):
    """A 150-node chain has diameter 149: min-label propagation would
    need ~149 rounds; the distributed star rounds finish within 10
    (~log2(150) halvings plus the stability-detection round) — the
    O(log n) claim, demonstrated rather than asserted.
    driver_max_edges=-1 forces the distributed branch: the driver
    union-find would otherwise resolve this tiny chain directly."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(149)], "id_a long, id_b long"
    )
    out = connected_components(chain, max_iter=10, driver_max_edges=-1).collect()
    assert len(out) == 150
    assert {r["component"] for r in out} == {0}


def test_star_cc_equals_propagation_on_corpus_lsh_edges(spark):
    """The driver union-find and the distributed star rounds must produce
    identical clusters on the REAL near-dup graph (MinHash/LSH star edges
    of the fixture corpus)."""
    from rws_data_ingester_spark.catalog import Catalog
    from rws_data_ingester_spark.operators.dedup import (
        lsh_star_edges,
        minhash_signature,
    )

    d = Catalog(spark, SF_DIR).documents
    sigs = minhash_signature(d.select("doc_id", "text"), "doc_id", "text")
    edges = lsh_star_edges(sigs, "doc_id")
    verts = d.select("doc_id")
    fast = connected_components(edges, vertices=verts).collect()
    dist = connected_components(edges, vertices=verts, driver_max_edges=-1).collect()
    assert len(fast) == len(dist)
    assert {r["id"]: r["component"] for r in fast} == {
        r["id"]: r["component"] for r in dist
    }


def test_cc_driver_path_equals_distributed_path(spark):
    """The size-gated driver union-find (edges <= driver_max_edges, the
    broadcast-threshold analog added in round 5) must produce the
    identical (id, component) labeling as the distributed star
    rounds — pinned on random graphs, a duplicate-edge/self-dup mix,
    and a chain. driver_max_edges=-1 forces the distributed path on the
    same input."""
    import random

    cases = [
        [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)],
        [(i, i + 1) for i in range(1, 12)],  # chain
    ]
    for seed in (7, 42, 99):
        rng = random.Random(seed)
        cases.append(
            [(rng.randrange(60), rng.randrange(60)) for _ in range(40)]
        )
    for edges in cases:
        pairs = [(a, b) for a, b in edges if a != b]
        edf = spark.createDataFrame(pairs, "id_a long, id_b long")
        verts = spark.createDataFrame([(i,) for i in range(62)], "id long")
        fast = {
            r["id"]: r["component"]
            for r in connected_components(edf, vertices=verts).collect()
        }
        dist = {
            r["id"]: r["component"]
            for r in connected_components(
                edf, vertices=verts, driver_max_edges=-1
            ).collect()
        }
        assert fast == dist


def test_cc_null_endpoint_edges_dropped_identically_on_both_paths(spark):
    """NULL-endpoint edges are dropped up front (round-6 fix: previously
    the driver union-find crashed on the null compare while the
    distributed propagation half-kept the edge, so the labeling depended
    on the size gate). Both paths must agree: the null edges contribute
    nothing, and a node seen only in null edges is isolated."""
    rows = [(1, 2), (2, None), (None, 3), (None, None), (4, 5)]
    edf = spark.createDataFrame(rows, "id_a long, id_b long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 9)], "id long")
    expected = {1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 9: 9}
    for gate in (200_000, -1):
        comp = {
            r["id"]: r["component"]
            for r in connected_components(
                edf, vertices=verts, driver_max_edges=gate
            ).collect()
        }
        assert comp == expected, (gate, comp)


def test_cc_mixed_endpoint_types_rejected_identically_on_both_paths(spark):
    """Mixed src/dst endpoint types raise TypeError BEFORE the
    driver_max_edges gate (round-6 ADVICE): previously the check was an
    ``assert`` (stripped under ``python -O``) inside the driver path
    only, so a mixed-type edge list raised on one side of the gate and
    silently coerced on the other — the same gate-dependent-divergence
    class as the null-edge fix. Both gate settings must reject with the
    same error type."""
    import pytest

    edf = spark.createDataFrame(
        [(1, "2"), (2, "3")], "id_a long, id_b string"
    )
    for gate in (200_000, -1):
        with pytest.raises(TypeError, match="endpoint types must match"):
            connected_components(edf, driver_max_edges=gate)


def test_cc_distributed_path_rejects_non_integral_ids_up_front(spark):
    """The star rounds' convergence sum casts ids to decimal(38,0), so a
    string id used to die mid-round with CAST_INVALID_INPUT. Selecting
    the distributed path for non-integral ids is a TypeError naming the
    id type, before any round; the driver path still takes any type."""
    import pytest

    edf = spark.createDataFrame([("a", "b"), ("b", "c")], "id_a string, id_b string")
    with pytest.raises(TypeError, match="StringType"):
        connected_components(edf, driver_max_edges=-1)
    comp = {r["id"]: r["component"] for r in connected_components(edf).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a"}


def test_cc_empty_edges_both_paths(spark):
    """Zero candidate pairs: every vertex is its own component, on both
    the driver and the distributed path."""
    edf = spark.createDataFrame([], "id_a long, id_b long")
    verts = spark.createDataFrame([(i,) for i in (3, 5, 9)], "id long")
    for gate in (200_000, -1):
        comp = {
            r["id"]: r["component"]
            for r in connected_components(
                edf, vertices=verts, driver_max_edges=gate
            ).collect()
        }
        assert comp == {3: 3, 5: 5, 9: 9}


def test_driver_union_find_matches_bfs_reference():
    """Property test for the pure-Python half of the round-5 fast path —
    the REAL `union_find_labels` used by `_driver_components`, not a
    copy: union-by-min-root labels == BFS components (min member as
    label) over many random graph shapes — sizes, densities, id ranges,
    self-loops, duplicate and reversed edges. No Spark needed: this
    exercises the algorithm at breadths the DataFrame equivalence tests
    can't afford."""
    import random
    from collections import defaultdict, deque

    from rws_data_ingester_spark.operators.cluster import union_find_labels

    def bfs_components(edges):
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        label, seen = {}, set()
        for start in adj:
            if start in seen:
                continue
            comp, q = [], deque([start])
            seen.add(start)
            while q:
                x = q.popleft()
                comp.append(x)
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        q.append(y)
            m = min(comp)
            for x in comp:
                label[x] = m
        return label

    rng = random.Random(20260815)
    for trial in range(200):
        n = rng.randrange(2, 300)
        m = rng.randrange(0, 2 * n)
        lo = rng.choice([0, 1, 10**9, -50])
        edges = [
            (lo + rng.randrange(n), lo + rng.randrange(n)) for _ in range(m)
        ]
        if trial % 3 == 0:
            edges += [(a, b) for b, a in edges[: m // 2]]  # reversed dups
        assert union_find_labels(edges) == bfs_components(edges), f"trial {trial}"


def test_driver_cc_labels_plan_as_local_relation(spark):
    """The driver-path CC labels must plan as a LocalRelation (Arrow
    createDataFrame), not a Python-RDD-backed LogicalRDD: a LogicalRDD
    spawns a Python-worker scan job on EVERY consumption of the result
    (the training funnel consumes it twice per run — r10 measurement:
    0.52 s → 0.13 s per consuming join). Guards the optimization from
    silently regressing to the tuple-list path."""
    edf = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    labels = connected_components(edf)  # 3 edges → driver path
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan
    assert "LogicalRDD" not in plan, plan
    assert {r["id"]: r["component"] for r in labels.collect()} == {
        1: 1, 2: 1, 3: 1, 7: 7, 8: 7,
    }


def test_gram_hash_equivalence_with_string_grams(spark):
    """The contamination screens carry 4-grams as xxhash64(t0,t1,t2,t3)
    longs instead of assembled strings. Pin the two properties that make
    hash equality ⟺ string-gram equality: (1) multi-arg xxhash64 is
    seed-chained per field, so token-boundary reshuffles that would
    collide under naive byte concatenation hash differently; (2) on a
    corpus with shared grams, duplicate docs, empty tokens (double
    spaces) and short docs, the induced per-doc distinct-gram sets and
    cross-doc matches are identical between the two forms."""
    row = spark.range(1)
    chained = row.select(
        F.xxhash64(F.lit("ab"), F.lit("c")).alias("x"),
        F.xxhash64(F.lit("a"), F.lit("bc")).alias("y"),
    ).first()
    assert chained["x"] != chained["y"]

    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on a rug"),
            (2, "the cat sat on the mat"),  # exact dup of 0
            (3, "too short"),
            (4, "a  b c d e"),  # double space → empty token
            (5, ""),
        ],
        "doc_id long, text string",
    )
    toks = F.split("text", " ")

    def grams(per_pos):
        return docs.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.array(toks),
                    lambda t: F.when(
                        F.size(t) >= 4,
                        F.transform(
                            F.sequence(F.lit(1), F.size(t) - 3), per_pos(t)
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )[0]
            ).alias("gram"),
        )

    hashed = grams(
        lambda t: lambda i: F.xxhash64(
            F.element_at(t, i), F.element_at(t, i + 1),
            F.element_at(t, i + 2), F.element_at(t, i + 3),
        ).cast("string")
    ).collect()
    strings = grams(
        lambda t: lambda i: F.concat(
            F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1),
            F.lit(" "), F.element_at(t, i + 2), F.lit(" "),
            F.element_at(t, i + 3),
        )
    ).collect()

    by_doc_h: dict = {}
    by_doc_s: dict = {}
    for r in hashed:
        by_doc_h.setdefault(r["doc_id"], []).append(r["gram"])
    for r in strings:
        by_doc_s.setdefault(r["doc_id"], []).append(r["gram"])
    assert set(by_doc_h) == set(by_doc_s)
    # same gram multiplicity per doc, and the hash→string map is a
    # bijection on the observed grams (no collisions, no splits)
    h2s: dict = {}
    for doc_id in by_doc_s:
        hs, ss = by_doc_h[doc_id], by_doc_s[doc_id]
        assert len(hs) == len(ss)
        for h, s in zip(hs, ss):
            assert h2s.setdefault(h, s) == s
    assert len(set(h2s.values())) == len(h2s)
    # cross-doc equality structure carries over: dup docs share all
    # grams, near-dup shares some, short/empty docs emit none
    assert sorted(by_doc_h[0]) == sorted(by_doc_h[2])
    assert set(by_doc_h[0]) & set(by_doc_h[1])
    assert 3 not in by_doc_h and 5 not in by_doc_h
