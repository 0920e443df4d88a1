"""Session-semantics contract: the engine's results must not depend on
the CALLER's session configuration. The driver's verify harness hands
queries a vanilla SparkSession; a production notebook could hand one with
ansi=false (legacy NULL-on-error casts) or a non-UTC session timezone.
`catalog.load_table` re-pins both per load — these tests pin that the
re-pin actually happens and that it makes query results invariant to the
caller's starting confs.
"""

from __future__ import annotations

from rws_data_ingester_spark.catalog import load_table
from rws_data_ingester_spark.plans import REGISTRY
from tests.conftest import SF_DIR, rows_to_multiset

HOSTILE_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "Asia/Kathmandu",  # +05:45 — catches any half-hour rounding too
}

PINNED = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def _with_hostile_confs(spark, fn):
    saved = {k: spark.conf.get(k) for k in HOSTILE_CONFS}
    try:
        for k, v in HOSTILE_CONFS.items():
            spark.conf.set(k, v)
        return fn()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_load_table_repins_semantics_confs(spark):
    def probe():
        load_table(spark, SF_DIR, "nation")
        return {k: spark.conf.get(k) for k in PINNED}

    assert _with_hostile_confs(spark, probe) == PINNED


def test_query_results_invariant_to_caller_session_confs(spark):
    # One timestamp-rendering query (TZ-sensitive if unpinned) and one
    # cast/arithmetic-heavy query (ansi-sensitive if unpinned).
    for name in ("tumbling_window_hourly", "q1_pricing_summary"):
        fn = REGISTRY[name].fn

        def canon():
            df = fn(spark, SF_DIR)
            return rows_to_multiset(df.columns, [tuple(r) for r in df.collect()], sig=6)

        base = canon()
        hostile = _with_hostile_confs(spark, canon)
        assert hostile == base, f"{name}: result depends on caller session confs"


def test_load_table_serves_cached_handle_per_session(spark):
    """r11 regression pin: within one session, repeated loads of the same
    path serve the SAME DataFrame handle (a plan handle, never rows —
    each action still scans the parquet files), so per-query catalog
    construction stops paying a reader round-trip chain + relation
    re-resolution per table (−11..18% end-to-end on the multi-table
    TPC-H composites, cleared-vs-warm A/B at sf0.1). Conf re-pinning
    (tests above) must still fire on every load, cache hit or not."""
    import rws_data_ingester_spark.catalog as cat

    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    assert a is b, "same session + same path must serve the cached handle"
    # the cache lives on the session object and holds plan handles
    # only — clearing it must be invisible to results
    vars(spark)[cat._HANDLES_ATTR].clear()
    c = load_table(spark, SF_DIR, "nation")
    assert c is not a
    cols = a.columns
    assert rows_to_multiset(cols, [tuple(r) for r in a.collect()]) == rows_to_multiset(
        cols, [tuple(r) for r in c.collect()]
    )


def test_table_handle_cache_is_freed_with_its_session(spark):
    """The handle cache must not outlive its session. Each cached
    DataFrame references the session that made it, so a cache keyed on
    the session in a module-level WeakKeyDictionary never evicted: the
    value kept its own key alive. Sessions that load a table and are then
    dropped must be garbage-collectable."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    refs = []
    for _ in range(5):
        s = spark.newSession()
        assert load_table(s, SF_DIR, "nation") is load_table(s, SF_DIR, "nation")
        refs.append(weakref.ref(s))
    del s
    # Every SparkSession() binds RDD.toDF to itself, which would keep the
    # newest session alive; hand that binding back to the shared session.
    _monkey_patch_RDD(spark)
    gc.collect()
    alive = sum(r() is not None for r in refs)
    assert alive == 0, f"{alive} of 5 dropped sessions still alive"


def test_modal_dim_cache_is_freed_with_its_session(spark):
    """modal_dim's per-corpus cache lives on the session, like the table
    handles: a second call on the same session is a hit (no new entry),
    and sessions that computed a modal dimension and are then dropped
    must be garbage-collectable."""
    import gc
    import weakref

    from pyspark.sql.session import _monkey_patch_RDD

    from rws_data_ingester_spark.operators.similarity import _MODAL_DIMS_ATTR, modal_dim

    refs = []
    for _ in range(5):
        s = spark.newSession()
        e = load_table(s, SF_DIR, "embeddings")
        assert modal_dim(e) == modal_dim(e) == 64
        assert vars(s)[_MODAL_DIMS_ATTR] == {e.semanticHash(): 64}
        refs.append(weakref.ref(s))
    del s, e
    # see test_table_handle_cache_is_freed_with_its_session
    _monkey_patch_RDD(spark)
    gc.collect()
    alive = sum(r() is not None for r in refs)
    assert alive == 0, f"{alive} of 5 dropped sessions still alive"
