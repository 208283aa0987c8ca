"""Structured Streaming surface: routed sink parity with batch, watermark agg."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def stream_input(spark, fixture_dir, tmp_path_factory):
    # stream source dir: split the fixture into several files so
    # maxFilesPerTrigger exercises multiple micro-batches
    src = tmp_path_factory.mktemp("stream_src")
    df = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    df.repartition(6).write.mode("overwrite").parquet(str(src))
    return str(src)


def test_streaming_routed_sink_matches_batch(spark, fixture_dir, stream_input, tmp_path):
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing
    from klog_spark.streaming import read_sequence_stream, start_routed_sink

    out = tmp_path / "routed"
    ckpt = tmp_path / "ckpt"
    q = start_routed_sink(read_sequence_stream(spark, stream_input), str(out), str(ckpt))
    q.awaitTermination(300)

    routed = spark.read.parquet(str(out))
    batch = apply_validity_routing(
        parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    )
    got = {r["record_class"]: r["n"] for r in routed.groupBy("record_class").agg(F.count("*").alias("n")).collect()}
    want = {r["record_class"]: r["n"] for r in batch.groupBy("record_class").agg(F.count("*").alias("n")).collect()}
    assert got == want

    # restart with no new files -> no duplicates (exactly-once resume)
    q2 = start_routed_sink(read_sequence_stream(spark, stream_input), str(out), str(ckpt))
    q2.awaitTermination(120)
    assert spark.read.parquet(str(out)).count() == sum(want.values())


def test_streaming_marker_counts(spark, fixture_dir, stream_input, tmp_path):
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.streaming import read_sequence_stream, start_marker_counts_sink

    q = start_marker_counts_sink(
        read_sequence_stream(spark, stream_input), str(tmp_path / "ckpt2"), query_name="mc_test"
    )
    q.awaitTermination(300)
    rows = spark.sql("select sum(num_committed) c, sum(num_aborted) a from mc_test").collect()[0]
    batch = parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    want = batch.filter(F.col("record_class") == "control_msg").agg(
        F.sum(F.when(F.col("commit"), 1).otherwise(0)).alias("c"),
        F.sum(F.when(~F.col("commit"), 1).otherwise(0)).alias("a"),
    ).collect()[0]
    assert rows["c"] == want["c"]
    assert rows["a"] == want["a"]


def test_stateful_session_marker_totals(spark, fixture_dir, stream_input, tmp_path):
    """applyInPandasWithState operator: final per-file totals must equal the
    batch groupBy, with state carried across multiple micro-batches."""
    from pyspark.sql import functions as F

    from klog_spark.operators.parse import parse_sequences
    from klog_spark.streaming import read_sequence_stream, session_marker_totals_stream

    q = (
        session_marker_totals_stream(read_sequence_stream(spark, stream_input, max_files_per_trigger=2))
        .writeStream.format("memory").queryName("smt_test").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    # 'update' mode emits one row per state change; the LAST row per file is
    # the final total
    got = {
        r["file"]: (r["num_committed"], r["num_aborted"])
        for r in spark.sql("select * from smt_test").collect()
    }  # memory sink appends in order; dict keeps the last per file
    batch = parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    want = {
        r["file"]: (r["c"], r["a"])
        for r in batch.filter(F.col("record_class") == "control_msg")
        .groupBy("file")
        .agg(F.sum(F.when(F.col("commit"), 1).otherwise(0)).alias("c"),
             F.sum(F.when(~F.col("commit"), 1).otherwise(0)).alias("a"))
        .collect()
    }
    assert got == want


def test_stateful_latest_group_offsets_matches_batch(spark, fixture_dir, stream_input, tmp_path):
    """Streaming compaction of offset commits: the final state per
    (group, topic, partition) must equal the batch latest_group_offsets,
    with micro-batches delivering files in arbitrary order (the state's
    (file, line_no) ordering key absorbs late arrivals)."""
    from klog_spark.operators.group_offsets import latest_group_offsets
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.streaming import latest_group_offsets_stream, read_sequence_stream

    q = (
        latest_group_offsets_stream(read_sequence_stream(spark, stream_input, max_files_per_trigger=2))
        .writeStream.format("memory").queryName("lgo_test").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    # take the newest emission per key by the carried (file, line_no) order
    final = {}
    for r in spark.sql("select * from lgo_test").collect():
        key = (r["group_id"], r["commit_topic"], r["commit_partition"])
        cand = (r["file"], r["line_no"], r["committed_offset"], r["is_deletion"])
        if key not in final or (cand[0], cand[1]) > (final[key][0], final[key][1]):
            final[key] = cand
    got = {k: v[2] for k, v in final.items() if not v[3]}

    batch = parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    want = {
        (r["group_id"], r["commit_topic"], r["commit_partition"]): r["committed_offset"]
        for r in latest_group_offsets(batch).collect()
    }
    assert got == want and got


def test_streaming_sink_file_count_tracks_write_tasks(spark, stream_input, tmp_path):
    """VERDICT r3 #5: the streaming routed sink must use the same weighted
    (record_class, bucket) pre-shuffle as the batch write, so one micro-batch
    emits ~write_tasks files — NOT tasks x sinks small files."""
    from klog_spark.operators.route import CLASS_WEIGHTS, SINKS
    from klog_spark.streaming import read_sequence_stream, start_routed_sink

    write_tasks = 8
    out, ckpt = tmp_path / "routed_wt", tmp_path / "ckpt_wt"
    # one micro-batch: max_files_per_trigger above the source file count
    q = start_routed_sink(
        read_sequence_stream(spark, stream_input, max_files_per_trigger=64),
        str(out), str(ckpt), write_tasks=write_tasks, pre_shuffle=True,
    )
    q.awaitTermination(300)

    files = [p for p in out.rglob("*.parquet") if p.is_file()]
    class_dirs = [d for d in out.glob("record_class=*") if d.is_dir()]
    assert class_dirs, "partitioned sink directories missing"
    # weighted buckets: class c contributes max(1, round(w_c * write_tasks))
    # distinct shuffle keys, so the ceiling is the sum over classes present
    buckets = {c: max(1, round(CLASS_WEIGHTS.get(c, 0.02) * write_tasks)) for c in SINKS}
    ceiling = sum(buckets[d.name.split("=", 1)[1]] for d in class_dirs)
    assert len(files) <= ceiling, (len(files), ceiling)
    # and nowhere near the unshuffled tasks x sinks blow-up
    parallelism = spark.sparkContext.defaultParallelism
    assert len(files) < parallelism * len(class_dirs) / 2
    # each class directory stays within its bucket allocation
    for d in class_dirs:
        n = len(list(d.glob("*.parquet")))
        assert n <= buckets[d.name.split("=", 1)[1]], (d.name, n)


def test_group_lag_stream_matches_batch(spark, fixture_dir, stream_input, tmp_path):
    """Stream-static lag: the final emission per group-partition must equal
    the batch group_lag, across multiple out-of-order micro-batches."""
    from klog_spark.operators.group_offsets import group_lag
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing
    from klog_spark.streaming import group_lag_stream, read_sequence_stream

    batch_parsed = apply_validity_routing(
        parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    )
    log_end = (
        batch_parsed.filter((F.col("record_class") == "batch") & (F.col("segment_type") == "data"))
        .groupBy("topic", "partition")
        .agg((F.max("last_offset") + F.lit(1)).alias("log_end_offset"))
    )
    q = (
        group_lag_stream(read_sequence_stream(spark, stream_input, max_files_per_trigger=2), log_end)
        .writeStream.format("memory").queryName("gls_test").outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_lag"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    # compact the emissions per key by the carried segment order, drop keys
    # whose newest update is a tombstone — the documented consumer contract
    final = {}
    for r in spark.sql("select * from gls_test").collect():
        key = (r["group_id"], r["commit_topic"], r["commit_partition"])
        cand = (r["file"], r["line_no"], r["is_deletion"], r["lag"])
        if key not in final or (cand[0], cand[1]) > (final[key][0], final[key][1]):
            final[key] = cand
    got = {k: v[3] for k, v in final.items() if not v[2]}
    want = {
        (r["group_id"], r["commit_topic"], r["commit_partition"]): r["lag"]
        for r in group_lag(batch_parsed).collect()
    }
    assert got == want and got
