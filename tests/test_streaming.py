"""The streaming routed sink: parity with the batch route, exactly-once
resume and the pre-shuffle's file count."""

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
