"""Run every rows-only registered query (no DuckDB oracle — the LSH /
IVF / PQ / minhash scale tiers, multimodal decodes, streaming-stateful
jobs, sampling, HTTP-offline) against ONE combined adversarial warehouse
assembled from the four differential suites' fixture tables: TPC-H with
ties/NULL-FKs/negative money, the boundary-timestamp event log, the
empty/unicode/malformed document corpus, and the zero/NaN/NULL/huge
vector table.

The oracle-paired surface is differential-tested in the sibling suites;
this closes the gap for the queries the driver only checks rows-only:
they must EXECUTE (no ANSI arithmetic errors, no numpy shape crashes on
degenerate vectors, no codec failures on odd row shapes) and be
deterministic run-to-run on hostile inputs — exactly the rows the driver
records as "ran clean".
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rws_data_ingester_spark.plans import REGISTRY
from tests.test_differential_docs import ADVERSARIAL_DOCS
from tests.test_differential_embeddings import ADVERSARIAL_EMBEDDINGS
from tests.test_differential_events import ADVERSARIAL_EVENTS
from tests.test_differential_tpch import (
    CUSTOMER,
    LINEITEM,
    NATION,
    ORDERS,
    PART,
    REGION,
    SUPPLIER,
)

# simsearch_topk_exact_np shares simsearch_topk_exact's oracle but stays
# on this list: its numpy scorer must also run clean, and identically run
# to run, on the combined warehouse's degenerate vectors.
ROWS_ONLY = sorted(
    {n for n, q in REGISTRY.items() if q.oracle is None} | {"simsearch_topk_exact_np"}
)


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adversarial_all")
    plain = {
        "region": (REGION, "r_regionkey int, r_name string"),
        "nation": (NATION, "n_nationkey int, n_name string, n_regionkey int"),
        "customer": (
            CUSTOMER,
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ),
        "supplier": (
            SUPPLIER,
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        ),
        "part": (
            PART,
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        ),
        "embeddings": (
            ADVERSARIAL_EMBEDDINGS,
            "vec_id long, embedding array<float>, label int",
        ),
    }
    for t, (rows, schema) in plain.items():
        spark.createDataFrame(rows, schema).repartition(2).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")

    spark.createDataFrame(
        [
            (i, text, lang, source, len(text) if text is not None else None)
            for i, (text, lang, source) in enumerate(ADVERSARIAL_DOCS)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spark.createDataFrame(
        ADVERSARIAL_EVENTS,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/events.parquet")

    spark.createDataFrame(
        ORDERS,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate_s string, o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate_s").cast("timestamp").alias("o_orderdate"),
        "o_orderpriority",
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/orders.parquet")

    spark.createDataFrame(
        LINEITEM,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate_s string",
    ).select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.col("l_shipdate_s").cast("timestamp").alias("l_shipdate"),
    ).repartition(2).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    return str(d)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_survives_adversarial_inputs(spark, adversarial_dir, name):
    df = REGISTRY[name].fn(spark, adversarial_dir)
    rows = df.collect()
    assert df.columns, f"{name}: no columns"
    assert rows is not None
    rows2 = REGISTRY[name].fn(spark, adversarial_dir).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2)), f"{name}: nondeterministic"
