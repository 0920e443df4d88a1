"""Batch↔stream equivalence tests (SURVEY.md §5.2): each §2.9 streaming
operator replayed with trigger(availableNow=True) must produce the same
result multiset as its batch formulation in operators.temporal.
"""

from __future__ import annotations

from rws_data_ingester_spark.plans import REGISTRY
from rws_data_ingester_spark.streaming import jobs

from tests.conftest import SF_DIR, rows_to_multiset


def _multiset(df):
    return rows_to_multiset(df.columns, [tuple(r) for r in df.collect()])


def test_stream_tumbling_matches_batch(spark):
    stream_out = jobs.run_to_memory(jobs.tumbling_counts_stream(spark, SF_DIR))
    batch_out = REGISTRY["tumbling_window_hourly"].fn(spark, SF_DIR)
    assert _multiset(stream_out) == _multiset(batch_out)


def test_stream_sliding_matches_batch(spark):
    stream_out = jobs.run_to_memory(jobs.sliding_counts_stream(spark, SF_DIR))
    batch_out = REGISTRY["sliding_window_counts"].fn(spark, SF_DIR)
    assert _multiset(stream_out) == _multiset(batch_out)


def test_stream_session_matches_batch(spark):
    stream_out = jobs.run_to_memory(jobs.session_windows_stream(spark, SF_DIR))
    batch_out = REGISTRY["session_window_islands"].fn(spark, SF_DIR)
    assert _multiset(stream_out) == _multiset(batch_out)


def test_stream_dedup_keeps_unique_events(spark):
    out = jobs.run_to_memory(jobs.stream_dedup(spark, SF_DIR), output_mode="append")
    n_unique = (
        spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id").distinct().count()
    )
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_stream_static_join_matches_batch(spark):
    stream_out = jobs.run_to_memory(
        jobs.stream_static_enrich(spark, SF_DIR), output_mode="append"
    )
    batch_out = REGISTRY["stream_static_join"].fn(spark, SF_DIR)
    assert _multiset(stream_out) == _multiset(batch_out)


def test_stateful_running_totals(spark):
    """applyInPandasWithState totals must equal the batch groupBy."""
    from pyspark.sql import functions as F

    out = jobs.run_to_memory(
        jobs.stateful_running_totals(spark, SF_DIR), output_mode="update"
    )
    # update mode emits one row per key per batch; last row per key is final
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    assert _multiset(final) == _multiset(batch)


def test_stateful_totals_count_late_events_across_batches(spark, tmp_path):
    """Pins the documented contract of stateful_running_totals: there is
    deliberately NO watermark, so an event arriving in a later micro-batch
    with an event time far BEHIND the previous batch still counts toward
    the totals. (An earlier form carried a withWatermark node whose
    late-row filter was silently disabled by the downstream projection —
    this test makes the all-events-count semantics explicit and would
    catch a future regression that starts dropping late rows.)"""
    import os
    import time

    from pyspark.sql import functions as F

    d = tmp_path / "late_events"
    ev_dir = str(d / "events.parquet")
    schema = "event_id long, ts_s string, user_id long, event_type string, value double, props string"

    def write_file(rows, name):
        pdf = spark.createDataFrame(rows, schema).select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).toPandas()
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(ev_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf), f"{ev_dir}/{name}")

    # batch 1: recent event (advances any event-time clock to June)
    write_file([(0, "2024-06-01 00:00:00", 1, "click", 10.0, "{}")], "part-0001.parquet")
    # batch 2: five months LATE relative to batch 1
    write_file([(1, "2024-01-01 00:00:00", 1, "click", 5.0, "{}")], "part-0002.parquet")
    now = time.time()
    os.utime(f"{ev_dir}/part-0001.parquet", (now - 60, now - 60))
    os.utime(f"{ev_dir}/part-0002.parquet", (now, now))

    out = jobs.run_to_memory(
        jobs.stateful_running_totals(spark, str(d), max_files_per_trigger=1),
        output_mode="update",
    )
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )
    rows = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    assert rows == {1: (2, 15.0)}, rows
    # the replay really was multi-batch: update mode emits one row per
    # key per batch, so user 1 must appear twice in the raw output
    assert out.filter(F.col("user_id") == 1).count() == 2


def test_scheduled_refresh_overwrites_idempotently(spark, tmp_path):
    """The cron-analog: two availableNow passes over the same input must
    leave the same sink contents (idempotent overwrite, reference :295)."""
    out = str(tmp_path / "refresh_out")
    jobs.scheduled_refresh(spark, SF_DIR, out)
    first = _multiset(spark.read.parquet(out))
    jobs.scheduled_refresh(spark, SF_DIR, out)
    second = _multiset(spark.read.parquet(out))
    assert first == second
    batch = REGISTRY["tumbling_window_hourly"].fn(spark, SF_DIR)
    assert first == _multiset(batch)


def test_rate_source_drives_streaming_agg(spark):
    """The rate source (SURVEY §2.1 [EXT]) drives a windowed count with no
    fixture dependency — the generic load-generator for streaming ops."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 100).load()
        .withColumn("bucket", F.col("value") % 4)
        .groupBy("bucket")
        .count()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_counts")
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM rate_counts").collect()
            if len(rows) == 4 and all(r["count"] > 0 for r in rows):
                break
            time.sleep(1)
        else:
            raise AssertionError(f"rate stream never produced 4 buckets: {rows}")
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark):
    """Stream-stream interval join (availableNow replay) must equal the
    batch interval join over the same events."""
    from rws_data_ingester_spark.catalog import Catalog
    from pyspark.sql import functions as F

    streamed = jobs.run_to_memory(
        jobs.stream_stream_click_purchase(spark, SF_DIR), "append"
    )
    ev = Catalog(spark, SF_DIR).events
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )
    assert _multiset(streamed) == _multiset(batch)


def test_parquet_sink_recovery_is_exactly_once(spark):
    """Two-wave replay through one checkpoint: after wave A the sink holds
    only wave A; after the restart with wave B landed, the sink holds every
    event exactly once (restart did not re-process wave A's files)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from rws_data_ingester_spark.streaming.jobs import (
        events_schema,
        run_to_parquet,
    )

    base = tempfile.mkdtemp(prefix="rws_sink_recovery_t_")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = events_schema(SF_DIR)
    raw = spark.read.schema(schema).parquet(f"{SF_DIR}/events.parquet")
    n_total = raw.count()
    n_even = raw.filter(F.col("event_id") % 2 == 0).count()

    def replay_wave():
        stream = spark.readStream.schema(schema).format("parquet").load(src)
        run_to_parquet(stream, out, ckpt)

    raw.filter(F.col("event_id") % 2 == 0).write.parquet(src)
    replay_wave()
    assert spark.read.parquet(out).count() == n_even

    raw.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    replay_wave()
    sink = spark.read.parquet(out)
    assert sink.count() == n_total
    assert sink.select("event_id").distinct().count() == n_total


def test_normalize_event_ts_handles_all_known_parquet_generations(spark, tmp_path):
    """The driver regenerates the fixture tree between rounds and the
    events.ts physical type has already changed once (round 1: INT64
    TIMESTAMP(NANOS); round 2: TIMESTAMP(MICROS, isAdjustedToUTC=false)
    → TIMESTAMP_NTZ). Pin that every known generation normalizes to the
    same plain-TimestampType wall-clock values, and that the streaming
    schema probe classifies each correctly."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from rws_data_ingester_spark.catalog import normalize_event_ts
    from rws_data_ingester_spark.streaming.jobs import events_schema

    import pandas as pd

    base = pd.to_datetime(["2024-03-01T12:00:00.123456", "2024-03-02T00:30:15.000001"])
    us = pa.array(base, type=pa.timestamp("us"))
    cases = {
        "nanos": pa.table({"ts": us.cast(pa.timestamp("ns"))}),
        "micros_ntz": pa.table({"ts": us}),
        "micros_utc": pa.table({"ts": us.cast(pa.timestamp("us", tz="UTC"))}),
    }
    rendered = {}
    for name, tbl in cases.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, d / "events.parquet")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = normalize_event_ts(spark.read.parquet(str(d / "events.parquet")))
        assert isinstance(df.schema["ts"].dataType, TimestampType), name
        rendered[name] = sorted(
            r["s"] for r in df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")).collect()
        )
        # the streaming probe must pick a schema the file actually reads as
        ts_field = next(f for f in events_schema(str(d)).fields if f.name == "ts")
        expected = {"nanos": "LongType()", "micros_ntz": "TimestampNTZType()", "micros_utc": "TimestampType()"}
        assert repr(ts_field.dataType) == expected[name], (name, ts_field.dataType)
    assert rendered["nanos"] == rendered["micros_ntz"] == rendered["micros_utc"]


_RESTART_WAVE_SCRIPT = r"""
# Wave driver for test_parquet_sink_recovery_survives_driver_restart:
# runs ONE arrival wave of the checkpointed parquet-sink replay in its
# own python/JVM process, then dies via os._exit — no spark.stop(), no
# atexit hooks, no context cleanup — so the parent test proves the
# checkpoint survives a DRIVER death, not just an in-process re-run.
import os
import sys

sys.path.insert(0, sys.argv[4])
from pyspark.sql import functions as F

from rws_data_ingester_spark.session import get_spark
from rws_data_ingester_spark.streaming.jobs import events_schema, run_to_parquet

wave, base, sf_dir = int(sys.argv[1]), sys.argv[2], sys.argv[3]
src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))

spark = get_spark(
    app_name=f"sink_recovery_wave{wave}",
    master="local[2]",
    extra_conf={"spark.sql.shuffle.partitions": "2"},
)
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
schema = events_schema(sf_dir)
raw = spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))
mode = "overwrite" if wave == 1 else "append"
raw.filter(F.col("event_id") % 2 == wave % 2).write.mode(mode).parquet(src)
stream = spark.readStream.schema(schema).format("parquet").load(src)
run_to_parquet(stream, out, ckpt)
sys.stdout.flush()
os._exit(7)  # hard death: the JVM is killed, nothing gets to clean up
"""


def test_parquet_sink_recovery_survives_driver_restart(spark, tmp_path):
    """Cross-PROCESS exactly-once proof (VERDICT r7, task 4): the
    in-suite recovery test replays two waves against one checkpoint
    inside one session, but the claim that matters at 100 TB is
    surviving a DRIVER restart. Wave 1 streams into the checkpointed
    sink in a subprocess SparkSession that then dies via os._exit (no
    graceful stop); wave 2 lands its files and recovers the SAME
    checkpoint in a second fresh process, which also dies hard. The
    parent then verifies from its own session: every event exactly once,
    row-for-row equal to the batch table."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = str(tmp_path / "xproc")
    os.makedirs(base)
    script = str(tmp_path / "wave.py")
    with open(script, "w") as f:
        f.write(_RESTART_WAVE_SCRIPT)

    for wave in (1, 2):
        proc = subprocess.run(
            [sys.executable, script, str(wave), base, SF_DIR, repo],
            capture_output=True,
            text=True,
            timeout=300,
        )
        # exit code 7 is set AFTER run_to_parquet returns — it proves the
        # wave committed and the process then died the hard way
        assert proc.returncode == 7, (wave, proc.returncode, proc.stderr[-2000:])

    from rws_data_ingester_spark.streaming.jobs import events_schema

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = events_schema(SF_DIR)
    batch = spark.read.schema(schema).parquet(f"{SF_DIR}/events.parquet")
    sink = spark.read.parquet(os.path.join(base, "out"))
    n_total = batch.count()
    assert sink.count() == n_total  # no loss, no wave-A re-processing
    assert sink.select("event_id").distinct().count() == n_total
    # row-for-row: the recovered sink IS the batch table (anti-joins on
    # the full row are empty both ways; ts normalized the same way on
    # both sides by the shared schema)
    cols = [c for c in batch.columns if c != "props"]
    assert sink.select(cols).exceptAll(batch.select(cols)).count() == 0
    assert batch.select(cols).exceptAll(sink.select(cols)).count() == 0


_STATEFUL_RESTART_WAVE_SCRIPT = r"""
# Wave driver for test_stateful_state_recovery_survives_driver_restart:
# runs ONE arrival wave of the checkpointed applyInPandasWithState
# running-totals query in its own python/JVM process, appends the
# update-mode emissions to a parquet ledger via foreachBatch, then dies
# via os._exit — no spark.stop(), no cleanup — so the parent test proves
# the per-key GROUPED STATE (not just the source/sink logs) survives a
# driver death and seeds the next process's totals.
import os
import sys

sys.path.insert(0, sys.argv[4])
from pyspark.sql import functions as F

from rws_data_ingester_spark.session import get_spark
from rws_data_ingester_spark.streaming import jobs

wave, base, sf_dir = int(sys.argv[1]), sys.argv[2], sys.argv[3]
src_tbl = os.path.join(base, "events.parquet")
out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

spark = get_spark(
    app_name=f"stateful_recovery_wave{wave}",
    master="local[2]",
    extra_conf={"spark.sql.shuffle.partitions": "2"},
)
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
schema = jobs.events_schema(sf_dir)
raw = spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))
mode = "overwrite" if wave == 1 else "append"
raw.filter(F.col("event_id") % 2 == wave % 2).write.mode(mode).parquet(src_tbl)

totals = jobs.stateful_running_totals(spark, base)


def append_updates(batch_df, epoch_id):
    batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(out)


q = (
    totals.writeStream.outputMode("update")
    .foreachBatch(append_updates)
    .option("checkpointLocation", ckpt)
    .trigger(availableNow=True)
    .start()
)
q.awaitTermination()
sys.stdout.flush()
os._exit(7)  # hard death: the JVM is killed, nothing gets to clean up
"""


def test_stateful_state_recovery_survives_driver_restart(spark, tmp_path):
    """Cross-process recovery for CUSTOM PER-KEY STATE (VERDICT r8, task
    6 — the stronger exactly-once claim beyond the r8 parquet-sink
    proof, which only exercised the source/sink commit logs): wave 1
    streams half the events (event_id odd) through the checkpointed
    applyInPandasWithState running-totals query in a subprocess
    SparkSession that then dies via os._exit; wave 2 lands the other
    half and recovers the SAME checkpoint — including the HDFS-backed
    grouped state store — in a second fresh process, which also dies
    hard. The parent then asserts the final per-user totals equal the
    batch replay over ALL events: if the wave-1 state had been lost,
    every shared user's n_events would read only its wave-2 count; if
    wave-1 files were re-processed, it would read too high."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = str(tmp_path / "xproc_state")
    os.makedirs(base)
    script = str(tmp_path / "state_wave.py")
    with open(script, "w") as f:
        f.write(_STATEFUL_RESTART_WAVE_SCRIPT)

    for wave in (1, 2):
        proc = subprocess.run(
            [sys.executable, script, str(wave), base, SF_DIR, repo],
            capture_output=True,
            text=True,
            timeout=300,
        )
        # exit code 7 is set AFTER awaitTermination returns — the wave
        # committed its state + ledger, then the process died the hard way
        assert proc.returncode == 7, (wave, proc.returncode, proc.stderr[-2000:])

    ledger = spark.read.parquet(os.path.join(base, "out"))
    # update mode emits one row per key per micro-batch; n_events is
    # strictly increasing per user, so max(n_events) is the final state
    final = ledger.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = (
        spark.read.schema(jobs.events_schema(SF_DIR))
        .parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    joined = final.alias("s").join(batch.alias("b"), "user_id", "full_outer")
    # counts: exact (this is the recovery claim — lost state reads low,
    # re-processed files read high)
    assert joined.filter(
        F.col("s.n_events").isNull()
        | F.col("b.n_events").isNull()
        | (F.col("s.n_events") != F.col("b.n_events"))
    ).count() == 0
    # totals: float accumulation order differs across the two-wave state
    # path vs the one-shot batch sum, so compare within tolerance
    assert joined.filter(
        F.abs(F.col("s.total_value") - F.col("b.total_value")) > 1e-3
    ).count() == 0
