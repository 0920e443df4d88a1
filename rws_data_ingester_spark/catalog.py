"""Fixture-table catalog: parquet tables under a scale-factor directory.

The synthetic star schema (region nation customer supplier part orders
lineitem) plus events/documents/embeddings — see /root/repo/FIXTURES.md.
Reads are plain ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning, and partition pruning for free; at 100 TB the same call
works over a partitioned directory tree (dt=.../ partitioning) unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any realistic scale factor —
# a 100 TB fact table still joins against ~KB-MB dims; broadcasting them
# removes the shuffle on the fact side entirely.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

# DataFrame HANDLE cache, one dict per session held ON the session object
# under this attribute: {absolute path: DataFrame}. Without it every
# query's fresh Catalog ran a one-task parquet footer-inference job plus a
# DataFrameReader chain and a relation resolution (file listing) per table
# — ~40-50 ms per table per query invocation, ~0.3 s of a 6-table
# composite's construction at sf0.1 (r11). A DataFrame is an immutable
# logical-plan HANDLE, not data: serving the same handle is exactly what
# ``spark.table`` does against a catalog's cached relation, every
# downstream operator builds a new plan on top of it, and every action
# still reads the parquet files — no rows, no results, nothing keyed on
# fixture CONTENT is stored. Lifetime: the handles reference their
# session, so the dict lives on the session itself; the session→dict→
# handle→session cycle is freed with the session (a WeakKeyDictionary
# keyed on the session never evicts, because its values keep the key
# alive). Staleness caveat: rewriting files under the SAME path
# mid-session serves a handle whose resolved file list may predate the
# rewrite (fixture dirs are static within a session; tests use fresh tmp
# dirs).
_HANDLES_ATTR = "_rws_table_handles"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # These confs are runtime-settable, so set them here — not only in the
    # session factory — because callers (the driver's verify harness in
    # particular) may hand us a vanilla SparkSession without our session.py
    # defaults. nanosAsLong: tolerates an events.parquet generation that
    # stores ts as INT64 TIMESTAMP(NANOS), which Spark has no native type
    # for. UTC: timestamp rendering must match the DuckDB oracle (naive-UTC).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ANSI on is the semantics every oracle pair was proven under (error
    # on overflow/bad cast, with try_* where degradation is intended). A
    # cluster provisioned with ansi.enabled=false would silently flip
    # CAST/arithmetic failures to NULLs and drift from the oracle, so pin
    # it per-load like the TZ, not only in the session factory.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    handles = vars(spark).setdefault(_HANDLES_ATTR, {})
    df = handles.get(path)
    if df is None:
        df = spark.read.parquet(path)
        if name == "events":
            df = normalize_event_ts(df)
        handles[path] = df
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to plain TimestampType whatever the fixture's
    parquet generation stored. Seen in the wild across driver rounds:
    INT64 TIMESTAMP(NANOS) (arrives as epoch-nanos LongType under
    ``nanosAsLong``) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (arrives as TIMESTAMP_NTZ, which Spark won't cast to numerics and
    several operators need to). With the session TZ pinned to UTC above,
    NTZ→TIMESTAMP is the identity on the rendered wall-clock value, so
    both engines (Spark here, DuckDB reading the same file naively) see
    identical timestamps."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dtype = df.schema["ts"].dataType
    if isinstance(dtype, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


class Catalog:
    """Lazy table registry over one scale-factor directory.

    ``Catalog(spark, sf_dir).lineitem`` → DataFrame. Also registers temp
    views on demand so operators can be written in SQL when clearer.
    """

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self.spark, self.sf_dir, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Register canonical-named SESSION temp views (``orders``, …).

        Session-global state: this clobbers any existing temp view of the
        same name and races across concurrent Catalogs on different
        sf_dirs, so internal queries pass statement-scoped DataFrame args
        to ``spark.sql`` instead (``spark.sql("... FROM {orders}",
        orders=cat.orders)``). Only the verbatim-SQL passthrough surface
        (sql_passthrough_segment_revenue, join_lateral_topn — where the
        user's untouched ANSI string must run against canonical table
        names on both engines) uses this deliberately."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)
