"""__consumer_offsets analytics — BEYOND the reference surface.

The reference classifies ``__consumer_offsets`` segments but leaves their
payloads undecoded (segment/reader/Segment.java:28 ``// TODO support this``).
This module implements what its README implies the type is for: decoded
offset-commit / group-metadata streams and the per-group consumer-lag
aggregate an operator actually wants from that data.

Scale notes: "latest commit" is one map-side-combinable ``max_by`` per
(group, topic, partition) — the shuffle carries one row per live group-
partition, not per commit. The log-end side is one tiny aggregate over the
batch sink (per topic-partition), broadcast into the join; nothing here is
driver-side or all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _compact_latest(oc: DataFrame) -> DataFrame:
    """Kafka compaction over offset-commit events: newest record per
    (group, topic, partition) in segment order (file name, then line) wins;
    a tombstone (`is_deletion`) deletes the key."""
    ordkey = F.struct(F.col("file"), F.col("line_no"))
    last = oc.groupBy("group_id", "commit_topic", "commit_partition").agg(
        F.max_by(
            F.struct("is_deletion", "committed_offset", "committed_leader_epoch",
                     "commit_timestamp_ms"),
            ordkey,
        ).alias("last")
    )
    return last.filter(~F.col("last.is_deletion")).select(
        "group_id",
        "commit_topic",
        "commit_partition",
        F.col("last.committed_offset").alias("committed_offset"),
        F.col("last.committed_leader_epoch").alias("committed_leader_epoch"),
        F.col("last.commit_timestamp_ms").alias("commit_timestamp_ms"),
    )


def latest_group_offsets(parsed: DataFrame) -> DataFrame:
    """Compacted latest commit per (group, topic, partition) —
    read_uncommitted isolation: every offset-commit record counts,
    transactional or not."""
    return _compact_latest(parsed.filter(F.col("record_class") == "offset_commit"))


def read_committed_group_offsets(parsed: DataFrame) -> DataFrame:
    """Compacted latest commit per (group, topic, partition) under
    READ_COMMITTED isolation — the consumer-visible truth when offsets are
    committed via ``sendOffsetsToTransaction``.

    An offset commit whose parent batch is transactional is visible only if
    the transaction COMMITTED: its marker is the nearest FOLLOWING
    control-message line from the same (producer, epoch) in the same
    coordinator partition, in (file, line_no) segment order. ABORT markers
    and markerless (still-open) transactions hide their commits.
    Non-transactional commits (parent pid == -1) are always visible. A
    producer has at most one open transaction at a time (Kafka invariant),
    so nearest-following-marker attribution is exact.

    Scale shape: two windows — parent-batch attribution runs per
    coordinator partition in segment order (the same bounded-by-segment key
    the klog cursor uses), marker attribution runs per
    (partition, producer, epoch) over only the transactional rows. No
    joins, no driver state; the compaction shuffle stays one row per live
    group-partition.

    Input contract: the POST-routing view (``Pipeline.parsed()``, unstaged
    or over staged sinks). A CRC-invalid batch is then class 'corrupt' and
    never acts as a parent — its messages attribute to the previous valid
    batch, mirroring klog's invalid-batch message-drop. (``routed_as_parsed`` restores such batches
    for the klog txn cursor; do not feed that restored view here.)
    """
    co = parsed.filter(
        (F.col("segment_type") == "consumer_offsets")
        & F.col("record_class").isin("batch", "offset_commit", "control_msg")
    )
    w_parent = Window.partitionBy("topic", "partition").orderBy("file", "line_no")
    parent = F.last(
        F.when(
            F.col("record_class") == "batch",
            F.struct("producer_id", "producer_epoch", "is_transactional"),
        ),
        ignorenulls=True,
    ).over(w_parent.rowsBetween(Window.unboundedPreceding, 0))
    ev = co.withColumn("_parent", parent)

    plain = ev.filter(
        (F.col("record_class") == "offset_commit")
        & ~F.coalesce(F.col("_parent.is_transactional"), F.lit(False))
    )

    txn_ev = ev.filter(F.col("_parent.is_transactional"))
    # DESC order turns "nearest following marker" into an incremental
    # running last() — no O(n^2) unbounded-following frame
    w_marker = Window.partitionBy(
        "topic", "partition", F.col("_parent.producer_id"), F.col("_parent.producer_epoch")
    ).orderBy(F.col("file").desc(), F.col("line_no").desc())
    next_marker = F.last(
        F.when(F.col("record_class") == "control_msg", F.col("commit")),
        ignorenulls=True,
    ).over(w_marker.rowsBetween(Window.unboundedPreceding, -1))
    committed_oc = (
        txn_ev.withColumn("_next_marker", next_marker)
        .filter((F.col("record_class") == "offset_commit") & F.col("_next_marker"))
        .drop("_next_marker")
    )

    return _compact_latest(plain.unionByName(committed_oc).drop("_parent"))


def group_lag(parsed: DataFrame) -> DataFrame:
    """Consumer lag per (group, topic, partition): log-end-offset of the
    dumped topic partition minus the group's latest committed offset.

    log-end = max(last_offset)+1 over the *valid* data-segment batches of
    that partition (post-routing `batch` class); commits against topics not
    present in the dump are dropped by the inner join.
    """
    latest = latest_group_offsets(parsed)
    log_end = (
        parsed.filter((F.col("record_class") == "batch") & (F.col("segment_type") == "data"))
        .groupBy("topic", "partition")
        .agg((F.max("last_offset") + F.lit(1)).alias("log_end_offset"))
    )
    joined = latest.join(
        F.broadcast(log_end),
        (latest["commit_topic"] == log_end["topic"])
        & (latest["commit_partition"] == log_end["partition"]),
    )
    return joined.select(
        "group_id",
        "commit_topic",
        "commit_partition",
        "committed_offset",
        "log_end_offset",
        (F.col("log_end_offset") - F.col("committed_offset")).alias("lag"),
    )


def latest_group_metadata(parsed: DataFrame) -> DataFrame:
    """Latest group-metadata record per group (compaction semantics);
    groups whose newest record is a tombstone are dropped."""
    gm = parsed.filter(F.col("record_class") == "group_metadata")
    ordkey = F.struct(F.col("file"), F.col("line_no"))
    last = gm.groupBy("group_id").agg(
        F.max_by(
            F.struct("is_deletion", "protocol_type", "generation", "protocol",
                     "leader", "num_members"),
            ordkey,
        ).alias("last")
    )
    return last.filter(~F.col("last.is_deletion")).select(
        "group_id",
        F.col("last.protocol_type").alias("protocol_type"),
        F.col("last.generation").alias("generation"),
        F.col("last.protocol").alias("protocol"),
        F.col("last.leader").alias("leader"),
        F.col("last.num_members").alias("num_members"),
    )


def offset_rewinds(parsed: DataFrame) -> DataFrame:
    """Committed-offset regressions per (group, topic, partition): commits
    whose offset is LOWER than the previous commit's, in segment order —
    the classic consumer-group incident signal (reset-to-earliest, zombie
    member, manual seek). Tombstones break the comparison chain: a
    recommit after deletion is a legitimate reset, not a rewind.

    One LAG window per group-partition key (bounded, high-cardinality);
    output is the anomaly rows only. Implementation: lag over ALL commit
    events INCLUDING tombstones — a commit whose immediately-previous event
    is a tombstone compares against NULL offset and never flags, which is
    exactly the chain reset.
    """
    oc = parsed.filter(F.col("record_class") == "offset_commit")
    w = Window.partitionBy("group_id", "commit_topic", "commit_partition").orderBy(
        "file", "line_no"
    )
    prev = oc.withColumn("prev_offset", F.lag("committed_offset").over(w))
    return (
        prev.filter(
            ~F.col("is_deletion")
            & F.col("prev_offset").isNotNull()
            & (F.col("committed_offset") < F.col("prev_offset"))
        )
        .select("group_id", "commit_topic", "commit_partition", "file", "line_no",
                "committed_offset", "prev_offset")
    )
