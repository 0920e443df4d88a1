"""Event-time / temporal operators — the batch formulations of the
streaming surface (SURVEY.md §2.9), oracle-checkable against DuckDB.

The genuinely streaming implementations (readStream + watermark +
availableNow replay, mirroring the reference's cron micro-batch refresh,
cronjob.sh:1-3 / generate.sh:11-17) live in
``rws_data_ingester_spark.streaming.jobs``; the tests assert
batch↔stream equivalence between the two. Here every op is expressed so
that the SAME result is produced by the streaming job on a full replay.

Scale notes: tumbling/sliding windows are plain hash aggs on a derived
key (bounded state in streaming via watermark); sessionization is one
shuffle on user_id + a per-partition sort — linear, no cross-user state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rws_data_ingester_spark.catalog import Catalog
from rws_data_ingester_spark.functions.rounding import pround
from rws_data_ingester_spark.functions.timefmt import ts_str
from rws_data_ingester_spark.plans.registry import query


@query(
    "tumbling_window_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def tumbling_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window tumbling buckets are epoch-aligned, so window.start for a
    1-hour tumble == date_trunc('hour') — the oracle relies on that."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), pround(F.sum("value"), 4).alias("total_value"))
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "sliding_window_counts",
    oracle="""
    -- Each event belongs to exactly 4 sliding windows (1h length, 15m
    -- slide, epoch-aligned): starts floor15(ts) - k*15m for k in 0..3.
    WITH expanded AS (
      SELECT to_timestamp(floor(epoch(ts) / 900) * 900) - (g.k * INTERVAL 15 MINUTE)
               AS window_start,
             value
      FROM events CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS k) g
      WHERE ts IS NOT NULL
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM expanded GROUP BY 1
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), pround(F.sum("value"), 4).alias("total_value"))
        .select(ts_str(F.col("w.start")).alias("window_start"), "n_events", "total_value")
    )


_SESSION_ORACLE = """
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM sessions GROUP BY user_id, session_id
"""


def _events_input_bytes(sf_dir: str) -> int:
    """Driver-side size of the events input (file or directory tree of
    parquet parts) — a metadata stat, no Spark job. Unreadable/exotic
    paths report "huge" so the dispatch below fails toward the
    skew-safe sharded plan, never toward the single-hot-task one."""
    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, files in os.walk(path)
                for f in files
            )
    except OSError:
        pass
    return 1 << 62


# Input size at which session_window_islands dispatches to the
# (user_id, day)-sharded formulation. The r11 interleaved A/B measured
# the sharded form +72% at sf0.1 (0.529 → 0.911 s median of 9): its
# lineage cut + boundary-merge phase is pure overhead on a corpus with
# no dominating user, so it must not be the unconditional plan. Above
# this size the exposure flips: the plain form's one shuffle key is
# bare user_id, so a single hot user (SKEW fixtures plant one with 10%
# of events) lands on ONE task whose sort is that user's whole history,
# while the sharded form bounds every phase-1 task to one user-day and
# its constant overhead amortizes to noise. 4 GiB keeps every local
# fixture (sf0.1 events ≈ tens of MB) on the measured plain plan; both
# paths are row-identical (equivalence-tested) and share one oracle.
_SESSION_SHARD_MIN_BYTES = 4 * 1024**3


@query("session_window_islands", oracle=_SESSION_ORACLE)
def session_window_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the gaps-and-islands formulation: flag rows whose
    gap from the previous event EXCEEDS 30 min, running-sum the flags into
    a session id, then aggregate. One shuffle on user_id; linear per user.

    Size-gated dispatch (r10 VERDICT item 4): above
    ``_SESSION_SHARD_MIN_BYTES`` (4 GiB) of events
    input this returns the row-identical (user_id, day)-sharded
    formulation instead, which bounds the per-task sort to one user-day
    — see ``session_window_sharded`` and the threshold comment above.

    Boundary contract: a gap of EXACTLY 30 minutes stays in the same
    session (strict >) — that is Spark's native session_window semantic
    (an event at prev_ts + gap is adjacent to the closing window and
    merges), and the islands form, the native form, their shared oracle,
    and the streaming twin all state it identically so the four agree on
    boundary-aligned logs (caught by the adversarial events fuzz; the
    fixtures' microsecond timestamps never land on the boundary).

    NULL event time is excluded — Spark's native session_window/window
    drop such rows, so every formulation (and the oracle) states the
    same: a row with no timestamp belongs to no time window."""
    if _events_input_bytes(sf_dir) >= _SESSION_SHARD_MIN_BYTES:
        return session_window_sharded(spark, sf_dir)
    ev = Catalog(spark, sf_dir).events.filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w.rowsBetween(W.unboundedPreceding, 0)
    # cast("double") keeps sub-second precision (epoch seconds + fraction);
    # cast("long") would truncate and disagree with the oracle's exact
    # interval comparison near the 30-minute boundary.
    # lag(ts) is bound ONCE — WindowExec doesn't dedup identical window
    # expressions, so referencing F.lag(...).over(w) twice in the flag
    # would compute and buffer two copies (test_plan_hygiene sweep).
    gap_flag = F.when(
        F.col("_prev_ts").isNull()
        | (F.col("ts").cast("double") - F.col("_prev_ts").cast("double") > 1800.0),
        1,
    ).otherwise(0)
    sessions = (
        ev.withColumn("_prev_ts", F.lag("ts").over(w))
        .withColumn("new_session", gap_flag)
        .withColumn("session_id", F.sum("new_session").over(w_run))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            ts_str(F.min("ts")).alias("session_start"),
            ts_str(F.timestamp_add("MINUTE", F.lit(30), F.max("ts"))).alias("session_end"),
            F.count("*").alias("n_events"),
            pround(F.sum("value"), 4).alias("total_value"),
        )
        .drop("session_id")
    )


@query("session_window_native", oracle=_SESSION_ORACLE)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics through Spark's built-in session_window (merging
    session aggregation) — equivalence with the islands oracle proves the
    two formulations agree, which SURVEY §4.3(4) calls out as a risk."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), pround(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            ts_str(F.col("w.start")).alias("session_start"),
            ts_str(F.col("w.end")).alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@query("session_window_sharded", oracle=_SESSION_ORACLE)
def session_window_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same session semantics, TIME-SHARDED (r9 VERDICT watch item #3):
    sessionize per (user_id, calendar day), then merge the sessions that
    cross a day boundary. Result is row-identical to the plain islands
    form (same oracle; equivalence-tested in tests/test_temporal_extra).

    Why: the plain form's one shuffle key is user_id, so a single user
    owning terabytes of events (SKEW_r09's hot user holds 10%) lands on
    ONE task whose sort is that user's whole history. Sharding by
    (user_id, day) bounds every phase-1 task to one user-day; the hot
    user spreads across as many tasks as days in the corpus. Phase 2
    re-shuffles only the boundary-candidate SESSIONS — sessions whose
    first event is within the gap of their day's start or last event
    within the gap of its end — which is orders of magnitude smaller
    than the event stream (session rows, not events; and only the
    near-midnight slice of those). Sessions can only merge across a
    boundary if BOTH are candidates (a cross-shard gap ≤ 30 min forces
    each side within 30 min of the boundary), and same-shard candidates
    re-separate because phase 2 re-checks the exact gap — so routing
    non-candidates around the merge loses nothing.

    Correctness of the decomposition: the islands split is determined
    purely by the sorted per-user gap sequence, so splitting at day
    boundaries and re-merging consecutive session intervals with the
    SAME strict >30 min rule on (next.start − prev.end) reproduces the
    exact session partition — a chain spanning N days is rebuilt by the
    running-sum islands over its N parts. Aggregates compose (min start,
    max end, summed counts/values); rounding happens once, at the end."""
    gap = 1800.0
    ev = Catalog(spark, sf_dir).events.filter(F.col("ts").isNotNull())
    day = F.to_date("ts")
    w1 = W.partitionBy("user_id", "_day").orderBy("ts", "event_id")
    w1_run = w1.rowsBetween(W.unboundedPreceding, 0)
    flag1 = F.when(
        F.col("_prev_ts").isNull()
        | (F.col("ts").cast("double") - F.col("_prev_ts").cast("double") > gap),
        1,
    ).otherwise(0)
    shard_sessions = (
        ev.withColumn("_day", day)
        .withColumn("_prev_ts", F.lag("ts").over(w1))
        .withColumn("_new", flag1)
        .withColumn("_sid", F.sum("_new").over(w1_run))
        .groupBy("user_id", "_day", "_sid")
        .agg(
            F.min("ts").alias("_start"),
            F.max("ts").alias("_end"),
            F.count("*").alias("_n"),
            F.sum("value").alias("_val"),
        )
        # lineage cut before the passthrough/candidate fan-out: without
        # it each branch re-derives ALL of phase 1 — two full scans and
        # two (user, day) shuffles of the EVENT stream (seen in the
        # plan: duplicated Exchange hashpartitioning(user_id, _day)),
        # the same double-scan anti-pattern the adaptive salted join's
        # first cut was rejected for. Materialized state is session
        # rows (5 narrow columns), orders below the corpus; on a real
        # cluster this is checkpoint() to durable storage.
        .localCheckpoint(eager=False)
    )
    day_start = F.col("_day").cast("timestamp").cast("double")
    near_boundary = (
        (F.col("_start").cast("double") - day_start <= gap)
        | (day_start + 86400.0 - F.col("_end").cast("double") <= gap)
    )
    flagged = shard_sessions.withColumn("_cand", near_boundary)
    passthrough = flagged.filter(~F.col("_cand"))
    cand = flagged.filter(F.col("_cand"))
    w2 = W.partitionBy("user_id").orderBy("_start")
    w2_run = w2.rowsBetween(W.unboundedPreceding, 0)
    flag2 = F.when(
        F.col("_prev_end").isNull()
        | (F.col("_start").cast("double") - F.col("_prev_end").cast("double") > gap),
        1,
    ).otherwise(0)
    merged = (
        cand.withColumn("_prev_end", F.lag("_end").over(w2))
        .withColumn("_new", flag2)
        .withColumn("_mid", F.sum("_new").over(w2_run))
        .groupBy("user_id", "_mid")
        .agg(
            F.min("_start").alias("_start"),
            F.max("_end").alias("_end"),
            F.sum("_n").alias("_n"),
            F.sum("_val").alias("_val"),
        )
    )
    cols = ["user_id", "_start", "_end", "_n", "_val"]
    out = passthrough.select(cols).unionByName(merged.select(cols))
    return out.select(
        "user_id",
        ts_str(F.col("_start")).alias("session_start"),
        ts_str(F.timestamp_add("MINUTE", F.lit(30), F.col("_end"))).alias(
            "session_end"
        ),
        F.col("_n").alias("n_events"),
        pround(F.col("_val"), 4).alias("total_value"),
    )


@query(
    "dedup_first_event",
    oracle="""
    SELECT user_id, event_type,
           event_id::BIGINT AS first_event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of streaming dropDuplicates: keep the earliest row per
    key. min_by over a (ts, event_id) struct avoids a window sort —
    single hash agg, scale-friendly — AND makes the keep choice
    deterministic under timestamp ties (struct ordering is
    lexicographic): ties are real at corpus scale, and a tie broken
    arbitrarily is retry-unstable. The oracle states the same contract
    as a ROW_NUMBER window (DuckDB's min_by lacks composite ordering
    keys). NULL timestamps sort LAST (a clock-less row is never "the
    first event"): Spark's struct-min would put struct(NULL, id) ahead
    of every real row — the opposite of the oracle's default NULLS LAST
    — so the ordering key is the NULL-free triple (ts IS NULL,
    coalesce(ts, epoch), event_id). The streaming variant lives in
    streaming.jobs."""
    ev = Catalog(spark, sf_dir).events
    order_key = F.struct(
        F.col("ts").isNull().alias("ts_is_null"),
        F.coalesce("ts", F.to_timestamp(F.lit("1970-01-01"))).alias("ts"),
        F.col("event_id").alias("event_id"),
    )
    return ev.groupBy("user_id", "event_type").agg(
        F.min_by("event_id", order_key).alias("first_event_id"),
        ts_str(F.min("ts")).alias("first_ts"),
    )


@query(
    "watermark_cutoff",
    oracle="""
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
    FROM events
    WHERE ts >= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
    """,
)
def watermark_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalence of a 1-day watermark: rows newer than max(ts)-1d.
    The scalar max is computed once and broadcast into the filter."""
    ev = Catalog(spark, sf_dir).events
    cutoff = ev.agg(F.timestamp_add("DAY", F.lit(-1), F.max("ts")).alias("cutoff"))
    return (
        ev.join(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("cutoff"))
        .select("event_id", ts_str("ts").alias("ts"))
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
           ROUND(e.value, 4) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-static enrichment join (streaming variant
    in streaming.jobs broadcasts the static dim into every micro-batch)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.events.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cat.customer), F.col("user_id") == F.col("c_custkey"))
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment"),
            pround("value", 4).alias("value"),
        )
    )


@query(
    "funnel_signup_click_purchase",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'signup')   AS t_signup,
             MIN(ts) FILTER (WHERE event_type = 'click')    AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) FILTER (WHERE t_signup IS NOT NULL)::BIGINT AS n_signup,
           COUNT(*) FILTER (WHERE t_signup IS NOT NULL AND t_click > t_signup)::BIGINT
             AS n_clicked_after,
           COUNT(*) FILTER (WHERE t_signup IS NOT NULL AND t_click > t_signup
                              AND t_purchase > t_click)::BIGINT AS n_purchased_after
    FROM firsts
    """,
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase): first-occurrence times
    per user from ONE conditional-min aggregation pass, then ordering
    checks as projections. No self-joins, no windows — the funnel over
    10^12 events is a single groupBy(user_id)."""
    ev = Catalog(spark, sf_dir).events
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    signed = F.col("t_signup").isNotNull()
    clicked = signed & (F.col("t_click") > F.col("t_signup"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    return firsts.agg(
        F.count(F.when(signed, 1)).alias("n_signup"),
        F.count(F.when(clicked, 1)).alias("n_clicked_after"),
        F.count(F.when(purchased, 1)).alias("n_purchased_after"),
    )


@query(
    "rollup_time_hierarchy",
    oracle="""
    -- Cascade, not three fact scans: day/week re-aggregate the hourly
    -- partials (unrounded), mirroring the Spark plan, so both engines
    -- sum the same partial sets.
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type,
             COUNT(*)::BIGINT AS n, SUM(value) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS grain_start,
           event_type, n AS n_events, ROUND(v, 4) AS total_value
    FROM hourly
    UNION ALL
    SELECT 'day', strftime(date_trunc('day', h), '%Y-%m-%d %H:%M:%S'),
           event_type, SUM(n)::BIGINT, ROUND(SUM(v), 4)
    FROM hourly GROUP BY 2, 3
    UNION ALL
    SELECT 'week', strftime(date_trunc('week', h), '%Y-%m-%d %H:%M:%S'),
           event_type, SUM(n)::BIGINT, ROUND(SUM(v), 4)
    FROM hourly GROUP BY 2, 3
    """,
)
def rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup cascade: aggregate the fact ONCE at the
    finest grain (hour), materialize that small frame, then re-aggregate
    it to day and week. The fact is scanned a single time; the coarser
    grains read the 3 orders-of-magnitude-smaller hourly rollup — the
    continuous-aggregate design every time-series store uses, expressed
    as plain DataFrame ops. localCheckpoint pins the hourly frame so the
    three union branches don't each recompute the fact agg (at 100 TB
    the hourly rollup would be a stored table maintained incrementally —
    see streaming/jobs.scheduled_refresh for that loop)."""
    ev = Catalog(spark, sf_dir).events
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .localCheckpoint(eager=True)
    )

    def grain(name: str, trunc: str | None) -> DataFrame:
        if trunc is None:
            g = hourly.select(F.col("h").alias("g"), "event_type", "n", "v")
        else:
            g = (
                hourly.groupBy(F.date_trunc(trunc, "h").alias("g"), "event_type")
                .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
            )
        return g.select(
            F.lit(name).alias("grain"),
            ts_str(F.col("g")).alias("grain_start"),
            "event_type",
            F.col("n").alias("n_events"),
            pround("v", 4).alias("total_value"),
        )

    return grain("hour", None).unionByName(grain("day", "day")).unionByName(
        grain("week", "week")
    )
