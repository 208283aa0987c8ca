"""Structured Streaming variant of the pipeline.

The reference is strictly batch (files in, stdout out — SURVEY.md §2.8);
this module is the engine's forward-looking streaming surface: the same
tokenized-sequence schema consumed as a file stream, the same vectorized
parse (mapInArrow is stateless, so it composes with streaming), routed to
per-class parquet sinks with exactly-once file-source checkpointing, plus a
watermarked event-time aggregate (committed/aborted markers per time
window) — the streaming analogue of txn-stat's A1 tallies.

Window-based sessionization (A5-A7) is NOT offered on streams: klog's
open/empty-transaction semantics are inherently order-of-arrival and the
batch pipeline (checkpoint.run_incremental) is the correct way to get them
incrementally; pretending otherwise would silently change results.

The same boundary applies to READ_COMMITTED group offsets
(group_offsets.read_committed_group_offsets): visibility of a
transactional commit depends on its parent batch line and a later control
marker — cross-line, cross-file context that a row-sharded stream cannot
attribute exactly (micro-batches split dump files across arbitrary row
boundaries). ``latest_group_offsets_stream`` below is therefore
explicitly the READ_UNCOMMITTED view; for exact read-committed results
incrementally, run checkpoint.run_incremental (whole-file granules,
per-file lineage) and query the staged table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.parse import parse_sequences
from .operators.route import apply_validity_routing
from .schemas import INPUT_SCHEMA


def read_sequence_stream(spark: SparkSession, input_dir: str,
                         max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def routed_stream(stream: DataFrame) -> DataFrame:
    """Vectorized parse + validity routing on a stream (stateless)."""
    return apply_validity_routing(parse_sequences(stream))


def start_routed_sink(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                      trigger_available_now: bool = True,
                      write_tasks: int | None = None,
                      pre_shuffle: bool | None = None):
    """Write the routed stream to per-class partition directories with
    exactly-once checkpointing (the streaming face of route.write_routed).

    The stream goes through the SAME weighted (record_class, bucket)
    pre-shuffle as the batch write (route.prepare_routed_write — a stateless
    shuffle, so it composes with streaming): without it every micro-batch
    task keeps one open parquet writer per sink class and the sink
    reintroduces tasks x sinks small files at scale (VERDICT r3 #5). File
    count is ~write_tasks per micro-batch."""
    from .operators.route import prepare_routed_write

    writer = (
        prepare_routed_write(routed_stream(stream), write_tasks, pre_shuffle)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("record_class")
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def marker_counts_stream(stream: DataFrame, window: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Watermarked event-time tally of COMMIT/ABORT markers (A1 as a
    streaming aggregate): control-message rows, event time = the message
    CreateTime, late data bounded by the watermark."""
    parsed = routed_stream(stream)
    ctl = parsed.filter(F.col("record_class") == "control_msg").withColumn(
        "event_time", F.timestamp_millis(F.col("msg_create_time_ms"))
    )
    return (
        ctl.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"))
        .agg(
            F.sum(F.when(F.col("commit"), 1).otherwise(0)).alias("num_committed"),
            F.sum(F.when(~F.col("commit"), 1).otherwise(0)).alias("num_aborted"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "num_committed", "num_aborted",
        )
    )


def start_marker_counts_sink(stream: DataFrame, checkpoint_dir: str,
                             query_name: str = "klog_marker_counts"):
    """Run the marker tally into an in-memory sink (tests / dashboards)."""
    return (
        marker_counts_stream(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_marker_totals_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    COMMIT/ABORT totals per dump file, carried across micro-batches.

    Marker tallies are commutative, so incremental streaming state is exact
    (unlike the order-dependent open/empty-txn fold, which stays batch-only).
    State per file: two counters; each micro-batch emits the updated totals.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ctl = routed_stream(stream).filter(F.col("record_class") == "control_msg").select(
        "file", "commit"
    )

    out_schema = StructType(
        [
            StructField("file", StringType()),
            StructField("num_committed", LongType()),
            StructField("num_aborted", LongType()),
        ]
    )
    state_schema = StructType([StructField("c", LongType()), StructField("a", LongType())])

    def update(key, pdfs, state: GroupState):
        c, a = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            commits = pdf["commit"].fillna(False).astype(bool)
            c += int(commits.sum())
            a += int((~commits).sum())
        state.update((c, a))
        yield pd.DataFrame({"file": [key[0]], "num_committed": [c], "num_aborted": [a]})

    return ctl.groupBy("file").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def latest_group_offsets_stream(stream: DataFrame) -> DataFrame:
    """Stateful streaming compaction of __consumer_offsets commits — the
    live lag-monitor feed (batch twin: operators/group_offsets.py).

    State per (group, topic, partition) is the newest offset-commit seen so
    far, where "newest" is the segment order key (file, line_no) carried IN
    the state: a micro-batch that happens to deliver older files late can
    never overwrite newer state, so the stream converges to exactly the
    batch compaction result regardless of file arrival order. Tombstones
    update state like any record (``is_deletion`` true) — downstream drops
    them, mirroring Kafka's compaction. State per key is one tiny tuple; key
    cardinality = live group-partitions, not commit volume.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType, IntegerType, LongType, StringType, StructField, StructType,
    )

    oc = routed_stream(stream).filter(F.col("record_class") == "offset_commit").select(
        "group_id", "commit_topic", "commit_partition",
        "file", "line_no", "committed_offset", "is_deletion",
    )
    out_schema = StructType(
        [
            StructField("group_id", StringType()),
            StructField("commit_topic", StringType()),
            StructField("commit_partition", IntegerType()),
            StructField("file", StringType()),
            StructField("line_no", IntegerType()),
            StructField("committed_offset", LongType()),
            StructField("is_deletion", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("file", StringType()),
            StructField("line_no", IntegerType()),
            StructField("committed_offset", LongType()),
            StructField("is_deletion", BooleanType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        cur = state.get if state.exists else None
        for pdf in pdfs:
            if not len(pdf):
                continue
            last = pdf.sort_values(["file", "line_no"]).iloc[-1]
            cand = (
                str(last["file"]), int(last["line_no"]),
                None if pd.isna(last["committed_offset"]) else int(last["committed_offset"]),
                bool(last["is_deletion"]),
            )
            if cur is None or (cand[0], cand[1]) > (cur[0], cur[1]):
                cur = cand
        state.update(cur)
        yield pd.DataFrame(
            {
                "group_id": [key[0]],
                "commit_topic": [key[1]],
                "commit_partition": [key[2]],
                "file": [cur[0]],
                "line_no": [cur[1]],
                "committed_offset": [cur[2]],
                "is_deletion": [cur[3]],
            }
        )

    return oc.groupBy("group_id", "commit_topic", "commit_partition").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def group_lag_stream(stream: DataFrame, log_end: DataFrame) -> DataFrame:
    """Live consumer-lag monitor: the stateful offset compaction
    (latest_group_offsets_stream) stream-static joined against a log-end
    table — every micro-batch emits refreshed lag for the group-partitions
    it touched. ``log_end`` is the tiny (topic, partition, log_end_offset)
    dimension (from the batch pipeline or a metadata service); Spark
    broadcasts it into each micro-batch.

    Tombstone updates ARE emitted (``is_deletion`` true, null lag): a
    monitor that never hears about deletions would keep showing the stale
    pre-tombstone lag forever. Consumers keep the newest row per key by
    the carried (file, line_no) order and drop deleted keys."""
    latest = latest_group_offsets_stream(stream)
    joined = latest.join(
        F.broadcast(log_end),
        (latest["commit_topic"] == log_end["topic"])
        & (latest["commit_partition"] == log_end["partition"]),
    )
    return joined.select(
        "group_id", "commit_topic", "commit_partition", "file", "line_no",
        "is_deletion", "committed_offset", "log_end_offset",
        F.when(
            ~F.col("is_deletion"), F.col("log_end_offset") - F.col("committed_offset")
        ).alias("lag"),
    )
