"""Structured Streaming operators (SURVEY.md §2.9).

The reference's streaming model is a cron-scheduled full refresh with an
overwrite sink (cronjob.sh:1-3 → generate.sh:11-17, overwrite at
src/rotterdam_swimming_advice.py:295). Its direct Spark analog is
``trigger(availableNow=True)`` + idempotent ``foreachBatch`` overwrite —
implemented here as ``scheduled_refresh``. On top of that, the [EXT]
streaming surface: watermarked tumbling/sliding/session windows,
streaming dedup, stream-static joins, and custom stateful processing via
``applyInPandasWithState`` grouped state.

Each op returns a *streaming* DataFrame built from a parquet replay of
the events table; ``run_to_memory`` drives it with availableNow to
completion so tests can assert batch↔stream equivalence against the
operators in ``operators.temporal``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rws_data_ingester_spark.catalog import normalize_event_ts
from rws_data_ingester_spark.functions.rounding import pround

def events_schema(sf_dir: str) -> T.StructType:
    """Explicit read schema for the events fixture (streaming reads never
    infer). The ts field's Spark type depends on which parquet generation
    the driver produced — INT64 TIMESTAMP(NANOS) must be read as epoch-nanos
    long (``nanosAsLong``), TIMESTAMP(MICROS, isAdjustedToUTC=false) as
    TIMESTAMP_NTZ — so probe the footer once (driver-side metadata read,
    O(1) regardless of data size) instead of hardcoding either. The
    events table may be a single parquet file (driver fixtures) or a
    directory of part files (any Spark-written table) — probe one part
    file's footer in the directory case."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path}")
        path = os.path.join(path, parts[0])
    # Physical type first: legacy INT96 timestamps (Spark's own default
    # output type) surface through pyarrow as timestamp[ns] exactly like
    # INT64 TIMESTAMP(NANOS), but nanosAsLong does NOT apply to INT96 —
    # Spark always reads INT96 as TimestampType.
    pf = pq.ParquetFile(path)
    phys = pf.metadata.schema
    names = [phys.column(i).name for i in range(len(phys))]
    ts_arrow = pf.schema_arrow.field("ts").type
    if phys.column(names.index("ts")).physical_type == "INT96":
        ts_type: T.DataType = T.TimestampType()
    elif getattr(ts_arrow, "unit", None) == "ns":
        ts_type = T.LongType()
    elif getattr(ts_arrow, "tz", None) is None:
        ts_type = T.TimestampNTZType()
    else:
        ts_type = T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _stream_source_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory* of data files; the
    events table may be a single parquet file (driver fixtures) or a
    Spark-written directory of part files — the file source does NOT
    recurse into a symlinked subdirectory (it lists it as a zero-row
    "file"), so in the directory case each part file is symlinked flat.
    Exposed through a stable symlinked directory under /tmp (read-only
    fixture tree must not be touched)."""
    import hashlib

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = f"/tmp/rws_stream_events_{tag}"
    os.makedirs(d, exist_ok=True)
    if os.path.isdir(src):
        for part in sorted(os.listdir(src)):
            if not part.endswith(".parquet"):
                continue
            link = os.path.join(d, part)
            if not os.path.exists(link):
                os.symlink(os.path.join(src, part), link)
    else:
        link = os.path.join(d, "events.parquet")
        if not os.path.exists(link):
            os.symlink(src, link)
    return d


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Replay the events parquet as a file stream (schema-explicit —
    streaming reads never infer). ``max_files_per_trigger`` splits the
    replay into one micro-batch per N files — availableNow otherwise
    swallows the whole directory in a single batch, which can never
    exercise cross-batch state or lateness semantics in tests."""
    # Defensive: the caller's session may not carry our session.py defaults
    # (the driver's verify harness builds its own). Both are runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(events_schema(sf_dir)).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(_stream_source_dir(sf_dir))
    return normalize_event_ts(raw)


def _pin_stream_shuffle_partitions(spark: SparkSession) -> "contextlib.AbstractContextManager":
    """Stateful-streaming shuffles allocate one state store per shuffle
    partition, the count is frozen into the checkpoint at query start, and
    AQE never coalesces stateful stages — so a session left at the vanilla
    default (200) pays 200 state-store tasks per micro-batch regardless of
    data volume. Pin the conf to core count around ``.start()`` and restore
    the caller's value afterwards (the conf is only read at query start).
    On a real cluster the deployment would size this once per job to
    ~total-cores; here it protects against foreign sessions (the driver's)."""
    import contextlib

    @contextlib.contextmanager
    def _pinned():
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        parts = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return _pinned()


def run_to_memory(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming query to completion with availableNow (the
    reference's full-refresh semantics) into a memory sink; returns the
    final table as a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    spark = stream_df.sparkSession
    with _pin_stream_shuffle_partitions(spark):
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def tumbling_counts_stream(spark: SparkSession, sf_dir: str, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window agg: state is bounded by the watermark —
    windows older than max(event time) - watermark are finalized and
    dropped, which is what makes this run forever at scale."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), pround(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), pround(F.sum("value"), 4).alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def session_windows_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with session_window — merging session
    state per user, finalized past the watermark."""
    ev = events_stream(spark, sf_dir)
    return (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), pround(F.sum("value"), 4).alias("total_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on the event key within the watermark horizon
    (dropDuplicatesWithinWatermark bounds the dedup state — the unbounded
    variant would grow state forever at 100 TB/day)."""
    ev = events_stream(spark, sf_dir)
    return ev.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(["event_id"])


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: every micro-batch joins against the static
    customer dim (broadcast — the dim never reshuffles the stream)."""
    ev = events_stream(spark, sf_dir)
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .select(
            "event_id",
            "user_id",
            F.col("c_mktsegment").alias("segment"),
            pround("value", 4).alias("value"),
        )
    )


def stateful_running_totals(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Custom stateful per-key operator: running per-user totals kept in
    grouped state across micro-batches (applyInPandasWithState)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = events_stream(spark, sf_dir, max_files_per_trigger)

    def update(key, pdfs, state: GroupState):
        total, count = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf["value"].sum())
            count += len(pdf)
        state.update((total, count))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_value": [round(total, 4)], "n_events": [count]}
        )

    return (
        # Deliberately NO watermark and NO event-time column: running
        # totals over the COMPLETE history process every event regardless
        # of lateness, so a late-row drop filter would be wrong here, and
        # with NoTimeout state a watermark bounds nothing. (An earlier
        # form kept withWatermark upstream of this projection — but
        # FlatMapGroupsWithStateExec only builds its late-row filter when
        # the watermarked column survives into its child output, so that
        # watermark silently did nothing; stating "all events count" is
        # the honest contract, pinned by the multi-batch lateness test.)
        # Keeping `ts` out of the select also keeps pandas'
        # datetime64[ns] range out of the Arrow path: one corrupt
        # far-future clock (> 2262-04-11) would kill the whole query.
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, total_value double, n_events long",
            stateStructType="total double, count long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def scheduled_refresh(
    spark: SparkSession, sf_dir: str, out_path: str
) -> None:
    """The cron-refresh analog (reference cronjob.sh/generate.sh): one
    availableNow pass, idempotent overwrite sink via foreachBatch."""
    agg = tumbling_counts_stream(spark, sf_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(out_path)

    with _pin_stream_shuffle_partitions(spark):
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(write_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to any click by
    the same user in the preceding hour. Both sides are watermarked — the
    watermark bounds how long click state is buffered (2 h here), which is
    what keeps a joined pair of infinite streams in finite state."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        pround("purchase_value", 4).alias("purchase_value"),
    )


def run_to_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str) -> None:
    """Drive a streaming query to completion into Spark's transactional
    parquet file sink (append — the only mode the file sink supports).
    The checkpoint carries both the source's processed-file log and the
    sink's commit log, so a restarted query resumes from the last
    committed batch and never re-writes rows — the exactly-once story a
    100 TB ingest pipeline relies on."""
    with _pin_stream_shuffle_partitions(stream_df.sparkSession):
        q = (
            stream_df.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def parquet_sink_two_phase_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once file-sink recovery, end to end: the events table is
    split into two arrival waves (event_id parity); wave A streams into a
    checkpointed parquet sink, then wave B lands in the source directory
    and the SAME query restarts on the SAME checkpoint. The source log
    admits only the new files and the sink commit log fences the old
    batches, so the recovered sink holds every event exactly once —
    verified by the returned (n_rows, n_events) aggregate equaling the
    batch table, and duplicate-freedom asserted in tests."""
    import tempfile

    base = tempfile.mkdtemp(prefix="rws_sink_recovery_")
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = events_schema(sf_dir)
    raw = spark.read.schema(schema).parquet(os.path.join(sf_dir, "events.parquet"))

    def replay_wave() -> None:
        stream = normalize_event_ts(
            spark.readStream.schema(schema).format("parquet").load(src)
        )
        run_to_parquet(stream, out, ckpt)

    raw.filter(F.col("event_id") % 2 == 0).write.parquet(src)
    replay_wave()
    raw.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    replay_wave()

    return spark.read.parquet(out).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("event_id").alias("n_events"),
    )
