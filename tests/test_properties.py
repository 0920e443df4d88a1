"""Hypothesis property tests for the hand-built operator machinery —
the pieces whose correctness is an algorithm, not a single query result:
salted joins, MinHash shingling/signatures, and gap-based sessionization.

Examples are kept small (Spark job per example); the properties, not the
data volume, are the point.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rws_data_ingester_spark.operators.dedup import minhash_signature, shingles
from rws_data_ingester_spark.operators.scale import salted_join

from tests.conftest import rows_to_multiset

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    keys=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=40),
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_join_equals_plain_join(spark, keys, n_salts):
    """For any key distribution (including one key holding every row —
    the case salting exists for), salted_join is row-identical to the
    plain join."""
    big = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "row_id long, k long"
    )
    small = spark.createDataFrame([(k, f"v{k}") for k in range(4)], "sk long, v string")
    plain = big.join(small, big.k == small.sk).select("row_id", "v")
    salted = salted_join(big, small, "k", "sk", n_salts=n_salts).select("row_id", "v")
    as_ms = lambda df: rows_to_multiset(  # noqa: E731
        df.columns, [tuple(r) for r in df.collect()]
    )
    assert as_ms(plain) == as_ms(salted)


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=12
    )
)
def test_shingle_count_bound_and_determinism(spark, words):
    """Distinct k-shingles of an n-token doc number at most max(1, n-k+1),
    and shingling is deterministic across evaluations."""
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    out = df.select(F.size(shingles("text", 3)).alias("n")).collect()
    n_tokens = len(words)
    assert 1 <= out[0]["n"] <= max(1, n_tokens - 3 + 1)
    again = df.select(F.size(shingles("text", 3)).alias("n")).collect()
    assert again[0]["n"] == out[0]["n"]


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=3, max_size=20), min_size=2, max_size=6
    )
)
def test_identical_docs_get_identical_minhash_signatures(spark, texts):
    """MinHash is a pure function of the text: duplicated docs must carry
    byte-identical signatures (the property LSH banding depends on)."""
    rows = [(i, t) for i, t in enumerate(texts)] + [
        (100 + i, t) for i, t in enumerate(texts)  # exact duplicate of each
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["doc_id"]: tuple(r)[1:] for r in minhash_signature(df, "doc_id", "text").collect()}
    for i in range(len(texts)):
        assert sigs[i] == sigs[100 + i]


@settings(**_SETTINGS)
@given(
    gaps=st.lists(st.integers(min_value=1, max_value=120), min_size=1, max_size=25),
    threshold=st.integers(min_value=10, max_value=60),
)
def test_session_islands_respect_gap_threshold(spark, gaps, threshold):
    """Gaps-and-islands sessionization invariant: the number of sessions
    equals 1 + count(gaps >= threshold), for any gap sequence."""
    ts, t = [], 0
    for g in gaps:
        t += g
        ts.append(t)
    df = spark.createDataFrame([(i, x) for i, x in enumerate(ts)], "event_id long, t long")
    from pyspark.sql import Window as W

    w = W.partitionBy().orderBy("t", "event_id")
    sessions = (
        df.withColumn("prev", F.lag("t").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev").isNull() | ((F.col("t") - F.col("prev")) >= threshold), 1
            ).otherwise(0),
        )
        .agg(F.sum("new_session").alias("n_sessions"))
        .collect()[0]["n_sessions"]
    )
    expected = 1 + sum(1 for g in gaps[1:] if g >= threshold)
    assert sessions == expected


def test_zorder_key_is_injective_over_the_full_bucket_grid(spark):
    """The interleave must be a bijection [0,256)² → [0,65536): any
    collision would merge unrelated regions of the curve and silently
    weaken skipping. Checked exhaustively (65 536 pairs) and for range:
    the key must stay within 16 bits."""
    from rws_data_ingester_spark.operators.layout import zorder_key

    grid = (
        spark.range(256)
        .withColumnRenamed("id", "b1")
        .crossJoin(spark.range(256).withColumnRenamed("id", "b2"))
        .select(zorder_key(F.col("b1").cast("int"), F.col("b2").cast("int")).alias("z"))
    )
    stats = grid.agg(
        F.count_distinct("z").alias("n"),
        F.min("z").alias("lo"),
        F.max("z").alias("hi"),
    ).collect()[0]
    assert stats["n"] == 65536
    assert stats["lo"] == 0 and stats["hi"] == 65535


def test_grouped_map_zscore_constant_group_cross_engine(spark, tmp_path):
    """A nation whose customers all hold the same balance has
    STDDEV_SAMP = 0: numpy's divide gives NaN, DuckDB's IEEE divide
    inf/NaN — both sides must instead agree on NULL (nullif guard;
    latent-data regression, same class as the zscore ADVICE item)."""
    import duckdb

    from rws_data_ingester_spark.plans import REGISTRY

    rows = [
        # nation 1: constant balances (sd = 0)
        (1, 1, 100.0), (2, 1, 100.0), (3, 1, 100.0),
        # nation 2: singleton group (sd undefined)
        (4, 2, 55.5),
        # nation 3: ordinary varying balances
        (5, 3, 10.0), (6, 3, 20.0), (7, 3, 60.0),
    ]
    spark.createDataFrame(
        rows, "c_custkey long, c_nationkey long, c_acctbal double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/customer.parquet")

    out = {r["c_custkey"]: r["bal_z"]
           for r in REGISTRY["grouped_map_zscore"].fn(spark, str(tmp_path)).collect()}
    assert all(out[k] is None for k in (1, 2, 3, 4)), out
    assert out[6] is not None

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{tmp_path}/customer.parquet/*.parquet')"
    )
    drows = con.execute(REGISTRY["grouped_map_zscore"].oracle).fetchall()
    dz = {r[0]: r[2] for r in drows}
    assert all(dz[k] is None for k in (1, 2, 3, 4)), dz
    for k in out:
        if out[k] is None:
            assert dz[k] is None, (k, dz[k])
        else:
            assert abs(out[k] - dz[k]) < 1e-6, (k, out[k], dz[k])
