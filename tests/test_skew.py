"""Skew-stress pins (VERDICT r8, task 2): volume scaling was proven to
~sf10 in round 8, but the clone fixtures are uniform by construction —
these tests pin the structural claims that make the engine survive a
ZIPFIAN distribution, on a planted hot key at fixture scale. The
measured (sf1) numbers live in SKEW_r09.json / SCALE.md §Skew; what the
suite pins is the SHAPE: star edges stay linear in the hot bucket where
clique pairs go quadratic, the salted join stays row-identical under a
planted hot key, and the skew fixture generator preserves every
invariant the measurements rely on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, rows_to_multiset


def _planted_sigs(spark, n_hot: int, n_cold: int):
    """Signature frame shaped like minhash_signature's output: one hot
    bucket of n_hot identical signatures + n_cold all-distinct rows."""
    rows = []
    for i in range(n_hot):
        rows.append((i, *[777] * 16))
    for j in range(n_cold):
        # distinct per-row signature values far from the hot 777s
        rows.append((n_hot + j, *[10_000 + 16 * j + h for h in range(16)]))
    cols = ["doc_id"] + [f"mh_{k}" for k in range(16)]
    return spark.createDataFrame(rows, cols)


def test_star_edges_linear_where_clique_pairs_quadratic(spark):
    """The 100 TB dedup claim in one test: a hot LSH bucket of k members
    must cost O(k) on the connected-components path. Star edges over a
    200-member planted bucket: exactly 199 (every member → bucket-min,
    distinct across bands collapses identical roots). Clique pairs over
    the same bucket: 19900 — quadratic, fine for per-pair scoring,
    banned as CC input."""
    from rws_data_ingester_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_star_edges,
    )

    sigs = _planted_sigs(spark, n_hot=200, n_cold=50)
    star = lsh_star_edges(sigs, "doc_id").collect()
    assert len(star) == 199
    assert {r["id_b"] for r in star} == {0}  # every edge points at the root
    assert {r["id_a"] for r in star} == set(range(1, 200))
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    assert pairs.count() == 200 * 199 // 2


def test_cc_over_hot_bucket_star_edges_yields_one_component(spark):
    """CC over the linear star edges must still resolve the hot bucket to
    ONE duplicate cluster (the whole point of feeding CC stars instead of
    cliques): 300 hot members + 40 isolated docs → one 300-component and
    40 singletons."""
    from rws_data_ingester_spark.operators.cluster import connected_components
    from rws_data_ingester_spark.operators.dedup import lsh_star_edges

    sigs = _planted_sigs(spark, n_hot=300, n_cold=40)
    edges = lsh_star_edges(sigs, "doc_id")
    comp = connected_components(edges, vertices=sigs.select("doc_id"))
    sizes = sorted(
        r["n"] for r in comp.groupBy("component").agg(F.count("*").alias("n")).collect()
    )
    assert sizes == [1] * 40 + [300]


@pytest.fixture(scope="module")
def skew_pair(spark, tmp_path_factory):
    """uniform/skewed twin warehouses from the sf0.01 fixtures — the same
    generator the sf1 measurements use, at test scale."""
    from scripts.make_skew_fixtures import build_skew_pair

    out = str(tmp_path_factory.mktemp("skew") / "pair")
    manifest = build_skew_pair(spark, "/root/testdata/sf0.01", out)
    return out, manifest


def test_skew_fixture_preserves_row_counts_schemas_and_contracts(spark, skew_pair):
    import os

    from rws_data_ingester_spark.catalog import TABLES, load_table

    out, manifest = skew_pair
    for name in TABLES:
        uni = load_table(spark, f"{out}/uniform", name)
        skw = load_table(spark, f"{out}/skewed", name)
        assert uni.count() == skw.count() == manifest["rows"][name], name
        assert uni.schema == skw.schema, name
        # same writer, same fan-out: layout is not a confound
        n_uni = len([f for f in os.listdir(f"{out}/uniform/{name}.parquet") if f.endswith(".parquet")])
        n_skw = len([f for f in os.listdir(f"{out}/skewed/{name}.parquet") if f.endswith(".parquet")])
        assert n_uni == n_skw, name
    # documents contract: length(text) == n_chars survives the boilerplate
    d = load_table(spark, f"{out}/skewed", "documents")
    assert d.filter(F.length("text") != F.col("n_chars")).count() == 0
    # planted fractions land where designed
    ev = load_table(spark, f"{out}/skewed", "events")
    hot_ev = ev.filter(F.col("user_id") == manifest["hot_user"]).count()
    assert hot_ev >= manifest["rows"]["events"] * 0.095  # ≥ the 10% remap
    o = load_table(spark, f"{out}/skewed", "orders")
    hot_o = o.filter(F.col("o_custkey") == manifest["hot_cust"]).count()
    assert hot_o >= manifest["rows"]["orders"] * 0.095
    # FK integrity: the hot custkey exists, no orphaned orders
    c = load_table(spark, f"{out}/skewed", "customer")
    assert o.join(c, o.o_custkey == c.c_custkey, "left_anti").count() == 0


def test_skewed_documents_form_one_hot_lsh_bucket_with_linear_star_edges(
    spark, skew_pair
):
    """End-to-end on the generator's actual output: the boilerplate
    cluster (5% of docs) must land in a hot LSH bucket, and the star-edge
    count over the WHOLE corpus must stay ~linear in the hot cluster size
    (each hot doc emits at most one edge per band to a bucket root) while
    the clique pairs go quadratic in it."""
    from rws_data_ingester_spark.catalog import load_table
    from rws_data_ingester_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_star_edges,
        minhash_signature,
    )

    out, manifest = skew_pair
    d = load_table(spark, f"{out}/skewed", "documents")
    n_hot = d.filter(F.col("doc_id") % 20 == 0).count()
    assert n_hot >= 20  # 5% of the sf0.01 corpus
    sigs = minhash_signature(d, "doc_id", "text").cache()
    try:
        star = lsh_star_edges(sigs, "doc_id").count()
        pairs = lsh_candidate_pairs(sigs, "doc_id").count()
    finally:
        sigs.unpersist()
    # ≥80% of hot docs agree with the template on every band (the
    # varying token loses the min race for a seed ~3% of the time), so
    # the bucket really is hot...
    assert pairs >= (0.8 * n_hot) * (0.8 * n_hot - 1) / 2
    # ...and stars stay linear: ≤ bands(4) edges per doc, plus whatever
    # incidental near-dup edges the base corpus contributes (measured 0
    # on the uniform twin at this SF)
    assert star <= 4 * n_hot + 50
    assert star >= 0.8 * n_hot


def test_salted_join_row_identical_under_planted_skew(spark, skew_pair):
    """The salted join's contract — result identity with the plain join —
    must hold exactly on a skewed key distribution (10% of orders on one
    custkey), not just on uniform fixtures where every salt shard gets
    one row."""
    from rws_data_ingester_spark.catalog import load_table
    from rws_data_ingester_spark.operators.scale import salted_join

    out, _ = skew_pair
    o = load_table(spark, f"{out}/skewed", "orders")
    c = load_table(spark, f"{out}/skewed", "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cols = ["o_orderkey", "c_custkey", "c_mktsegment"]
    salted = salted_join(o, c, "o_custkey", "c_custkey", n_salts=8).select(cols)
    plain = o.join(c, o.o_custkey == c.c_custkey).select(cols)
    assert rows_to_multiset(cols, salted.collect()) == rows_to_multiset(
        cols, plain.collect()
    )


def test_skew_artifact_pins_linear_edges_and_flat_ratios():
    """CI pin for the committed round-9 skew evidence (SKEW_r09.json,
    the round-9 analog of the scaling-artifact pin): the star-edge
    ledger must stay linear in the hot cluster, the clique pairs
    quadratic (the contrast that justifies the CC input choice), and
    the skew-designed paths (star-edge CC, window top-k, salted join)
    must read flat — if a future round regenerates the artifact and a
    path regresses into a hot-key blow-up, the suite fails until the
    plan is fixed. No Spark: reads the committed artifact only. (The
    round-10 instrument writes a different section layout; its pins
    live in test_skew_r10_artifact_pins below.)"""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    best = repo / "SKEW_r09.json"
    assert best.exists(), "SKEW_r09.json artifact missing"
    data = json.loads(best.read_text())

    s = data["structure"]
    assert s["n_hot_docs"] >= 0.04 * s["n_docs"]  # the cluster is really hot
    assert s["hot_lsh_bucket"] >= 0.8 * s["n_hot_docs"]
    assert s["star_edges"] <= 4 * s["n_hot_docs"] + 0.01 * s["n_docs"]
    assert s["clique_pairs"] > 10 * s["star_edges"]

    q = data["queries"]
    # the paths DESIGNED for skew must stay flat (generous band: the box
    # wanders, but a hot-key blow-up reads as integer multiples)
    for name in ("dedup_clusters", "window_topk_per_group"):
        assert q[name]["ratio"] <= 1.5, (name, q[name])
    # each salt form is pinned to ITS contract. The BLANKET salt is
    # skew-oblivious by construction (ratio ~1 at every intensity). The
    # ADAPTIVE salt only spreads the hot key — it accepts a bounded
    # residual ratio in exchange for no blanket replication premium —
    # so its pins are (a) a bounded ratio and (b) dominance over the
    # blanket form on BOTH sides where the two were measured together.
    sf10 = data.get("sf10_joins", {}).get("queries", {})
    for rows in (q, sf10):
        for name, row in rows.items():
            if name.startswith("join_salted_adaptive"):
                assert row["ratio"] <= 1.6, (name, row)
            elif name.startswith("join_salted"):
                assert row["ratio"] <= 1.3, (name, row)
    for suffix in ("nobhj", "noaqeskew"):
        adaptive = sf10.get(f"join_salted_adaptive_{suffix}")
        blanket = sf10.get(f"join_salted_skew_{suffix}")
        if adaptive and blanket:
            assert adaptive["uniform_sec"] < blanket["uniform_sec"], suffix
            assert adaptive["skewed_sec"] < blanket["skewed_sec"], suffix
    # the quadratic-by-design pair query is EXPECTED to move under a hot
    # bucket — its presence in the artifact is the documented contrast,
    # not a regression (no flat assertion)
    assert "dedup_minhash_candidates" in q


def test_skew_r10_artifact_pins_sf10_guard_and_sharding():
    """CI pin for the round-10 skew evidence (SKEW_r10.json): the sf10
    mega-bucket star-edge ledger stays linear, the hot-bucket guard
    actually FIRED on the default clique path, the star-routed pair
    count stays bounded, the skew-designed tiers read flat, and the
    sharded sessionization's structural claim (max sort partition = one
    user-day, not the whole hot user) holds in the recorded numbers.
    No Spark: reads the committed artifact only."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    path = repo / "SKEW_r10.json"
    assert path.exists(), "SKEW_r10.json artifact missing"
    data = json.loads(path.read_text())

    s = data["sf10_dedup_structure"]
    assert s["n_hot_docs"] >= 0.04 * s["n_docs"]
    assert s["hot_lsh_bucket"] >= 0.8 * s["n_hot_docs"]
    # the guard threshold sits well under the planted bucket — the pin
    # is meaningful only if the bucket really exceeded it
    assert s["hot_lsh_bucket"] > 10_000
    assert s["star_edges"] <= 4 * s["n_hot_docs"] + 0.01 * s["n_docs"]
    assert s["star_routed_pairs"] <= s["star_edges"] + 0.01 * s["n_docs"]
    assert s["clique_pairs_avoided_lower_bound"] > 100 * s["star_routed_pairs"]

    g = data["guard_fail_fast"]
    assert g["fired"] is True
    assert "max_bucket_size" in (g["message"] or "")

    q = data["queries"]
    # skew-designed paths stay flat (generous band; a hot-key blow-up
    # reads as integer multiples)
    for name in (
        "dedup_clusters_sf10",
        "dedup_minhash_star_routed_sf10",
        "session_window_sharded_sf1",
        "stream_stateful_running_totals_sf1",
        "stream_session_windows_sf1",
    ):
        assert q[name]["ratio"] <= 1.5, (name, q[name])

    ss = data["sessionization_structure"]
    assert ss["islands_max_sort_partition_rows"] == ss["hot_user_rows"]
    assert ss["sharded_max_sort_partition_rows"] <= ss["hot_user_rows"] / 5
    assert ss["hot_user_days"] > 1


def test_detect_hot_keys_finds_planted_head(spark, skew_pair):
    """Sampled Zipf-head detection: the planted hot custkey (10% of
    orders) must surface; no uniform key may (at sf0.01 the next-biggest
    custkey owns <0.1%)."""
    from rws_data_ingester_spark.catalog import load_table
    from rws_data_ingester_spark.operators.scale import detect_hot_keys

    out, manifest = skew_pair
    o = load_table(spark, f"{out}/skewed", "orders")
    hot = detect_hot_keys(o, "o_custkey", sample_fraction=0.5, hot_share=0.05)
    assert hot == [manifest["hot_cust"]]
    o_uni = load_table(spark, f"{out}/uniform", "orders")
    assert detect_hot_keys(o_uni, "o_custkey", sample_fraction=0.5, hot_share=0.05) == []


def test_salted_join_adaptive_row_identical_on_skewed_and_uniform(spark, skew_pair):
    """The adaptive form's contract: row-identity with the plain join on
    BOTH distributions — on the skewed side the hot key goes through the
    salted path, on the uniform side the whole join is the cold (plain)
    path; the union must never lose, duplicate, or cross-match a row."""
    from rws_data_ingester_spark.catalog import load_table
    from rws_data_ingester_spark.operators.scale import salted_join_adaptive

    out, _ = skew_pair
    cols = ["o_orderkey", "c_custkey", "c_mktsegment"]
    for side in ("skewed", "uniform"):
        o = load_table(spark, f"{out}/{side}", "orders")
        c = load_table(spark, f"{out}/{side}", "customer").select(
            "c_custkey", "c_mktsegment"
        )
        adaptive = salted_join_adaptive(
            o, c, "o_custkey", "c_custkey", sample_fraction=0.5
        ).select(cols)
        plain = o.join(c, o.o_custkey == c.c_custkey).select(cols)
        assert rows_to_multiset(cols, adaptive.collect()) == rows_to_multiset(
            cols, plain.collect()
        ), side


def test_salted_join_adaptive_null_keys_match_plain_join(spark):
    """NULL join keys must behave exactly like the plain inner join
    (dropped): NULL never enters the hot list and the cold half's
    filter must route NULLs there, not silently drop the rows before
    the join decides."""
    from rws_data_ingester_spark.operators.scale import salted_join_adaptive

    big = spark.createDataFrame(
        [(i, 7 if i % 3 else None) for i in range(300)], "rid long, k long"
    )
    small = spark.createDataFrame([(7, "hot"), (8, "cold")], "k2 long, v string")
    cols = ["rid", "k2", "v"]
    adaptive = salted_join_adaptive(
        big, small, "k", "k2", hot_keys=[7]
    ).select(cols)
    plain = big.join(small, big.k == small.k2).select(cols)
    assert rows_to_multiset(cols, adaptive.collect()) == rows_to_multiset(
        cols, plain.collect()
    )


def test_salted_join_adaptive_scans_big_side_once(spark):
    """Plan pin for the single-pass claim: the first (rejected) adaptive
    form split the big side into hot/cold joins and scanned the fact
    table twice — 9.2 s vs 3.7 s unsalted at the sf10 measurement. The
    committed form must show exactly ONE scan of each input and no
    Union in the physical plan."""
    from rws_data_ingester_spark.operators.scale import salted_join_adaptive

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    plan = (
        salted_join_adaptive(o, c, "o_custkey", "c_custkey", hot_keys=[1])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("orders.parquet") == 1, plan[:1500]
    assert plan.count("customer.parquet") == 1
    assert "Union" not in plan


def test_detect_hot_keys_degenerate_inputs(spark):
    """Empty frame → no hot keys (and no ZeroDivision inside the share
    math); all-NULL keys → no hot keys (NULL is never a salt target —
    the plain join drops it anyway)."""
    from rws_data_ingester_spark.operators.scale import detect_hot_keys

    empty = spark.createDataFrame([], "k long")
    assert detect_hot_keys(empty, "k", sample_fraction=1.0) == []
    nulls = spark.createDataFrame([(None,)] * 50, "k long")
    assert detect_hot_keys(nulls, "k", sample_fraction=1.0, hot_share=0.05) == []


# --------------------------------------------------------------------------
# Hot-bucket guard on the clique-pair path (r9 VERDICT watch item #1)
# --------------------------------------------------------------------------
def test_lsh_hot_bucket_guard_error_mode_fails_fast(spark):
    """A planted 20k-member mega-bucket must FAIL the default clique-pair
    path before any quadratic output exists (unguarded it would emit
    ~2x10^8 pairs here, ~5x10^11 at a 100 TB boilerplate bucket), while
    buckets under the threshold are untouched."""
    from rws_data_ingester_spark.operators.dedup import lsh_candidate_pairs

    sigs = _planted_sigs(spark, n_hot=20_000, n_cold=50)
    with pytest.raises(Exception, match="max_bucket_size"):
        lsh_candidate_pairs(sigs, "doc_id").count()
    ok = lsh_candidate_pairs(_planted_sigs(spark, n_hot=200, n_cold=10), "doc_id")
    assert ok.count() == 200 * 199 // 2


# --------------------------------------------------------------------------
# Time-sharded sessionization (r9 VERDICT watch item #3)
# --------------------------------------------------------------------------
def _session_rows(spark, fn, sf_dir):
    df = fn(spark, sf_dir)
    return sorted(map(tuple, df.collect()))


def test_sharded_sessionization_equals_islands_on_fixture(spark):
    """The (user, day)-sharded formulation must agree EXACTLY with the
    plain islands form — same rows, not just same oracle hash."""
    from rws_data_ingester_spark.operators.temporal import (
        session_window_islands,
        session_window_sharded,
    )

    a = _session_rows(spark, session_window_islands, SF_DIR)
    b = _session_rows(spark, session_window_sharded, SF_DIR)
    assert a == b


def test_sharded_sessionization_equals_islands_under_hot_user(spark, skew_pair):
    """Equivalence must survive the planted hot user (10% of events): the
    sharded form splits that user's history across days and re-merges
    boundary sessions; any merge-rule slip shows up here as a row diff.
    Also pins the scale premise: the hot user's event stream spans many
    days, so the (user_id, day) shuffle key actually spreads it."""
    from rws_data_ingester_spark.catalog import load_table
    from rws_data_ingester_spark.operators.temporal import (
        session_window_islands,
        session_window_sharded,
    )

    out, manifest = skew_pair
    skewed = f"{out}/skewed"
    a = _session_rows(spark, session_window_islands, skewed)
    b = _session_rows(spark, session_window_sharded, skewed)
    assert a == b
    ev = load_table(spark, skewed, "events").filter(F.col("ts").isNotNull())
    hot = ev.filter(F.col("user_id") == manifest["hot_user"])
    per_day = (
        hot.groupBy(F.to_date("ts").alias("d"))
        .count()
        .agg(F.count("*").alias("n_days"), F.max("count").alias("max_day"))
        .first()
    )
    assert per_day["n_days"] > 1
    # the largest single (user, day) phase-1 group is a small fraction of
    # the hot user's stream — the shard key genuinely spreads the skew
    assert per_day["max_day"] < hot.count() * 0.5


def test_sharded_sessionization_merges_midnight_chain(spark):
    """Synthetic boundary torture: one user with a session chain that
    crosses two consecutive midnights (events every 20 min from 23:00 to
    01:00 twice) plus an isolated event — the sharded form must rebuild
    the chain into ONE session identical to the islands form."""
    import datetime as dt

    from rws_data_ingester_spark.operators import temporal as Tm

    base = dt.datetime(2024, 3, 1, 23, 0, 0)
    rows, eid = [], 0
    t = base
    while t < dt.datetime(2024, 3, 3, 1, 0, 0):
        rows.append((7, eid, t, "click", 1.0))
        eid += 1
        t += dt.timedelta(minutes=20)
    rows.append((7, eid, dt.datetime(2024, 3, 5, 12, 0, 0), "click", 2.0))
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string, value double"
    )

    class _Cat:
        def __init__(self, events):
            self.events = events

    saved = Tm.Catalog
    try:
        Tm.Catalog = lambda spark, sf_dir: _Cat(ev)
        a = _session_rows(spark, Tm.session_window_islands, "unused")
        b = _session_rows(spark, Tm.session_window_sharded, "unused")
    finally:
        Tm.Catalog = saved
    assert a == b
    assert len(a) == 2  # one 2-midnight chain + one singleton


def test_session_islands_dispatches_to_sharded_above_size_gate(spark, monkeypatch):
    """r10 VERDICT item 4: session_window_islands is size-gated — above
    temporal._SESSION_SHARD_MIN_BYTES it must return the row-identical
    (user_id, day)-sharded plan (phase-1 shuffle key includes the day),
    below it the plain one-shuffle islands plan (the sharded form
    measured +72% at sf0.1, pure overhead without a hot user)."""
    from rws_data_ingester_spark.operators import temporal
    from rws_data_ingester_spark.operators.temporal import (
        session_window_islands,
        session_window_sharded,
    )

    monkeypatch.setattr(temporal, "_SESSION_SHARD_MIN_BYTES", 0)
    gated = session_window_islands(spark, SF_DIR)
    assert "_day" in gated._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, gated.collect())) == sorted(
        map(tuple, session_window_sharded(spark, SF_DIR).collect())
    )

    monkeypatch.setattr(temporal, "_SESSION_SHARD_MIN_BYTES", 1 << 60)
    plain = session_window_islands(spark, SF_DIR)
    assert "_day" not in plain._jdf.queryExecution().analyzed().toString()
