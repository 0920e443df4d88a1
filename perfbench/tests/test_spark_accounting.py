"""Job attribution and result checks against a live SparkSession."""

from __future__ import annotations

import copy

import layers


def _settled_total(spark, counter):
    layers.drain_listener_bus(spark)
    return counter()


def test_broadcast_and_subquery_jobs_are_charged_to_the_starting_group(bench):
    spark = bench.spark
    sc = spark.sparkContext
    counter = layers.job_counter(spark)
    big = spark.range(200_000).selectExpr("id % 50 AS k", "id AS v")
    small = spark.range(50).selectExpr("id AS k", "id * 2 AS w")
    df = big.join(small.hint("broadcast"), "k").where(
        "v > (SELECT avg(id) FROM range(1000))")
    group = "perfbench-test-exec"
    before = _settled_total(spark, counter)
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    submitted = _settled_total(spark, counter) - before
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "Subquery" in plan
    counted = layers.group_jobs(spark, [group])
    # the broadcast build and the scalar subquery run on other threads
    assert submitted >= 2
    assert counted["jobs"] == submitted


def test_stream_micro_batch_jobs_are_found_through_the_run_id(bench, tmp_path):
    spark = bench.spark
    sc = spark.sparkContext
    tracer = layers.Tracer()
    listener = layers.make_stream_listener(tracer)
    spark.streams.addListener(listener)
    src = tmp_path / "src"
    spark.range(100).write.parquet(str(src))
    counter = layers.job_counter(spark)
    group = "perfbench-test-construct"
    try:
        before = _settled_total(spark, counter)
        tracer.qid, tracer.phase = "0:stream", layers.CONSTRUCT
        sc.setJobGroup(group, group)
        q = (spark.readStream.schema("id long").parquet(str(src))
             .groupBy().count().writeStream.outputMode("complete")
             .format("memory").queryName("perfbench_test_stream")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        sc.setLocalProperty("spark.jobGroup.id", None)
        listener.wait_terminated()
        submitted = _settled_total(spark, counter) - before
        started, progress = listener.take()
    finally:
        spark.streams.removeListener(listener)
    assert list(started.values()) == [("0:stream", layers.CONSTRUCT)]
    run_id = next(iter(started))
    by_run = layers.group_jobs(spark, [run_id])
    assert by_run["jobs"] >= 1
    assert layers.group_jobs(spark, [group])["jobs"] + by_run["jobs"] == submitted
    assert sum(p["numInputRows"] for p in progress) == 100


def test_corrupted_golden_fingerprint_counts_as_failure(bench):
    q = "dedup_exact_hash"
    golden = bench.golden
    try:
        bench.queries = (q,)
        bench.attempted = bench.failed = 0
        bench.run_pass(-1, traced=False, check=True)
        assert (bench.attempted, bench.failed) == (1, 0)

        bench.golden = copy.deepcopy(golden)
        bench.golden[q]["hash"] = "0" * 16
        bench.run_pass(-1, traced=False, check=True)
        assert (bench.attempted, bench.failed) == (2, 1)
        assert bench.mismatches == [q]
    finally:
        bench.golden = golden
