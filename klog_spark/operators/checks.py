"""Ordered stateful checks (W1-W8) as window functions.

The reference implements these as mutable per-stream map/assert stages that
*throw* (segment/reader/Assert*.java); at scale they become per-file /
per-session ``lag`` comparisons that *flag*. Two of the reference's checks
are dormant bugs (the `last*` state is never updated:
AssertBatchPositionMonotonic.java:23-34, AssertLeaderEpochMonotonic.java:23-34)
— we implement the documented intent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .aggregates import MSG_CLASSES, with_previous_batch

# validPrevious transition table (TransactionStateChange.java:82-127):
# state -> set of legal predecessors
VALID_PREVIOUS: dict[str, tuple[str, ...]] = {
    "Ongoing": ("Ongoing", "CompleteAbort", "CompleteCommit", "Empty"),
    "PrepareCommit": ("Ongoing",),
    "PrepareAbort": ("Ongoing",),
    "CompleteCommit": ("PrepareCommit",),
    "CompleteAbort": ("PrepareAbort",),
    "Empty": ("CompleteAbort", "CompleteCommit", "Empty"),
    "Dead": ("Empty", "CompleteAbort", "CompleteCommit"),
}


def _valid_batches(parsed: DataFrame) -> DataFrame:
    return parsed.filter((F.col("record_class") == "batch") & F.col("is_valid"))


def position_monotonic_violations(parsed: DataFrame) -> DataFrame:
    """W2: batch `position` must be strictly increasing within a dump file
    (AssertBatchPositionMonotonic's intent)."""
    b = with_previous_batch(_valid_batches(parsed), prev_position="position")
    return b.filter(
        F.col("prev_position").isNotNull() & (F.col("position") <= F.col("prev_position"))
    ).select("doc_id", "file", "line_no", "position", "prev_position")


def leader_epoch_monotonic_violations(parsed: DataFrame) -> DataFrame:
    """W3: partitionLeaderEpoch non-decreasing within a dump file
    (AssertLeaderEpochMonotonic's intent; the reference's `>=` would reject
    equal epochs — the realistic check is non-decreasing)."""
    b = with_previous_batch(_valid_batches(parsed), prev_le="partition_leader_epoch")
    return b.filter(
        F.col("prev_le").isNotNull() & (F.col("partition_leader_epoch") < F.col("prev_le"))
    ).select("doc_id", "file", "line_no", "partition_leader_epoch", "prev_le")


def state_machine_violations(parsed: DataFrame) -> DataFrame:
    """W4: txn-state transitions violating validPrevious, per
    (producerId, producerEpoch) session in stream order
    (AssertTransactionStateMachine.java:31-53)."""
    sc = parsed.filter(F.col("record_class") == "txn_state")
    w = Window.partitionBy("txn_producer_id", "txn_producer_epoch").orderBy("file", "line_no")
    sc = sc.withColumn("prev_state", F.lag("state").over(w))
    # one lookup: an unknown state finds no predecessor array, so the
    # condition is NULL and the row is never a violation
    valid_previous = F.create_map(*[
        x for state, preds in VALID_PREVIOUS.items() for x in (F.lit(state), F.array(*map(F.lit, preds)))
    ])
    cond = ~F.array_contains(valid_previous[F.col("state")], F.col("prev_state"))
    return sc.filter(F.col("prev_state").isNotNull() & cond).select(
        "doc_id", "file", "line_no", "transactional_id",
        F.col("txn_producer_id").alias("producer_id"),
        F.col("txn_producer_epoch").alias("producer_epoch"),
        "prev_state", "state",
    )


def batch_message_count_check(parsed: DataFrame) -> DataFrame:
    """Deep-iteration integrity: each batch header's `count` must equal the
    number of record lines grouped under it (the reference's stateful
    `expect` counter, SegmentDumpReader.java:182-203, which throws on
    mismatch). Flags batches whose message-line count differs, within files
    that have at least one message line (only deep-iteration dumps carry
    them).

    One per-file window gives each line its cursor (the doc_id of the
    latest batch line at or before it) and the file's has-message-lines
    flag; the group-by on (file, cursor) reuses the window's partitioning,
    and its aggregates are fixed-width, so it hash-aggregates unsorted."""
    is_batch = F.col("record_class") == "batch"
    lines = parsed.filter(F.col("record_class").isin("batch", *MSG_CLASSES)).select(
        "file", "line_no", "doc_id", "count", is_batch.alias("is_batch"))
    w = Window.partitionBy("file").orderBy("line_no")
    cursor = F.last(F.when(F.col("is_batch"), F.col("doc_id")), ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    deep = F.max(~F.col("is_batch")).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        lines.select("file", "line_no", "count", "is_batch",
                     cursor.alias("batch_doc_id"), deep.alias("deep"))
        .filter(F.col("batch_doc_id").isNotNull() & F.col("deep"))
        .groupBy("file", "batch_doc_id")
        .agg(
            F.max(F.when(F.col("is_batch"), F.col("line_no"))).alias("line_no"),
            F.max(F.when(F.col("is_batch"), F.col("count"))).alias("count"),
            F.count(F.when(~F.col("is_batch"), 1)).alias("n_messages"),
        )
        .filter(F.col("count") != F.col("n_messages"))
        .select("batch_doc_id", "file", "line_no", "count", "n_messages")
    )
