"""Distributed re-derivation of klog's transactional aggregates.

The reference computes these with a strictly sequential fold whose combiner
was never implemented (segment/reader/TransactionalInfoCollector.java:105-107
returns null — the aggregate cannot parallelize). Here the same semantics
are decomposed into shuffle-parallel primitives:

* the ``openTransactions`` hash-map sessionization (collector lines 62-77,
  89-101) becomes a window cumulative-sum: within a producer session
  ``(producer_id, producer_epoch)`` ordered by stream order
  ``(file, line_no)``, each event's transaction group is the number of
  control events *strictly before* it; the per-group rollup then yields
  committed/aborted sizes + durations, empty transactions (control closing
  a group with no data — EmptyTransaction.java:24-35) and open transactions
  (trailing group with no control),
* commit/abort tallies are counted per control *message* (collector :82-88),
* a control message is attributed to its enclosing batch with a
  last-non-null window over the file (klog's ``currentBatch`` cursor,
  collector :61),
* offset-gap detection (W8, the documented intent of
  AssertBatchesValid.java:23-26) is a per-file ``lag``.

All shuffles key on (producer_id, producer_epoch) or (file) — high
cardinality at scale; hot sessions are bounded by segment size and AQE
handles residual skew. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _countable_batch():
    """A data-segment batch that survives validity routing: CRC-valid and
    not a sessionless transactional batch (reference-fatal,
    SegmentDumpReader.checkBatch). Such rows remain *cursor* targets —
    klog's currentBatch points at every batch line — but never count as
    events, gaps, or first/last candidates."""
    fatal = F.col("is_transactional") & (
        (F.col("producer_id") == -1) | (F.col("producer_epoch") == -1)
    )
    return F.col("is_valid") & ~fatal


def attach_parent_batch(parsed: DataFrame, *fields: str) -> DataFrame:
    """Attach each record line's enclosing batch header (klog's currentBatch).

    Adds a ``parent`` struct column to every row, carrying ``fields`` of the
    most recent batch-header line within the same dump file. Name only the
    fields the caller reads: the struct is what the per-file window sorts.
    """
    w = Window.partitionBy("file").orderBy("line_no").rowsBetween(Window.unboundedPreceding, 0)
    parent = F.last(
        F.when(F.col("record_class") == "batch", F.struct(*fields)),
        ignorenulls=True,
    ).over(w)
    return parsed.withColumn("parent", parent)


def batch_selected(prefix: str, pid, producer_epoch, leader_epoch):
    """BatchPredicate conjunction (segment/cli/BatchPredicate.java:29-62)."""
    p = lambda c: F.col(prefix + c)  # noqa: E731
    cond = F.lit(True)
    if pid is not None:
        cond = cond & (p("producer_id") == F.lit(pid))
    if producer_epoch is not None:
        cond = cond & (p("producer_epoch") == F.lit(producer_epoch))
    if leader_epoch is not None:
        cond = cond & (p("partition_leader_epoch") == F.lit(leader_epoch))
    return cond


def with_previous_batch(batches: DataFrame, **prev: str) -> DataFrame:
    """Add ``<alias> = lag(<column>)`` over the previous row of the same dump
    file in line order — the "previous batch" of the per-file checks. Pass
    batch rows only: the sort then never touches record lines."""
    w = Window.partitionBy("file").orderBy("line_no")
    return batches.withColumns({alias: F.lag(c).over(w) for alias, c in prev.items()})


def _is_gap():
    """W8: a batch whose base offset does not follow the previous countable
    batch's last offset (``prev_last_offset``)."""
    return F.col("prev_last_offset").isNotNull() & (
        F.col("base_offset") != F.col("prev_last_offset") + 1
    )


def txn_groups(parsed: DataFrame, count_gaps: bool = False, pid: int | None = None,
               producer_epoch: int | None = None, leader_epoch: int | None = None) -> DataFrame:
    """The transactional fold (TransactionalInfoCollector.java:56-113): one
    row per (session, txn group); group id = #controls strictly before.

    Events are valid, selected transactional data batches (open/extend a
    txn) and control messages attributed to their enclosing batch (klog's
    currentBatch cursor, collector :61). Only batch-header and control lines
    of data segments enter the per-file window that attaches the cursor.

    ``count_gaps`` (``txn_stats`` and ``segment txn-stat``; the open and
    empty groups are the same either way) also keeps offset-gap batches — the
    previous-countable-batch lookup shares the cursor's window — and adds
    ``n_gaps``. Gap rows that are not events get a per-line ``_spread`` key
    so the ``producer_id = -1`` bulk never forms a hot session partition;
    ``_spread`` is both a window partition column and a group key, so the
    rollup reuses the window's Exchange.
    """
    rows = attach_parent_batch(parsed.filter(
        (F.col("segment_type") == "data") & F.col("record_class").isin("batch", "control_msg")
    ), "doc_id", "producer_id", "producer_epoch", "create_time_ms", "partition_leader_epoch",
        "is_valid")
    is_b = F.col("record_class") == "batch"
    # a transactional data batch without a real session (pid/epoch == -1) is
    # reference-fatal (SegmentDumpReader.checkBatch) — never an event, though
    # it remains a currentBatch cursor target like any other batch line
    is_data = (
        is_b & F.col("is_valid") & F.col("is_transactional") & ~F.col("is_control")
        & (F.col("producer_id") != -1) & (F.col("producer_epoch") != -1)
        & batch_selected("", pid, producer_epoch, leader_epoch)
    )
    is_ctl = (
        ~is_b & F.col("parent").isNotNull() & F.col("parent.is_valid")
        & batch_selected("parent.", pid, producer_epoch, leader_epoch)
    )
    keep, session, extra = is_data | is_ctl, ["producer_id", "producer_epoch"], []
    if count_gaps:
        prev_last = F.last(
            F.when(is_b & _countable_batch(), F.col("last_offset")), ignorenulls=True,
        ).over(Window.partitionBy("file").orderBy("line_no").rowsBetween(Window.unboundedPreceding, -1))
        rows = rows.withColumn("prev_last_offset", prev_last)
        is_gap = is_b & _countable_batch() & _is_gap()
        extra = [is_gap.cast("int").alias("is_gap"),
                 F.when(keep, F.lit(-1)).otherwise(F.col("line_no")).alias("_spread")]
        keep = keep | is_gap
        session.append("_spread")
    ev = rows.filter(keep).select(
        F.when(is_b, F.col("producer_id")).otherwise(F.col("parent.producer_id")).alias("producer_id"),
        F.when(is_b, F.col("producer_epoch")).otherwise(F.col("parent.producer_epoch")).alias("producer_epoch"),
        "file", "line_no",
        # duration uses the enclosing BATCH CreateTime on both sides
        F.when(is_b, F.col("create_time_ms")).otherwise(F.col("parent.create_time_ms")).alias("create_time_ms"),
        F.when(is_b, F.col("doc_id")).otherwise(F.col("parent.doc_id")).alias("doc_id"),
        is_data.alias("is_data"), is_ctl.alias("is_ctl"), F.col("commit"), *extra,
    )
    w = Window.partitionBy(*session).orderBy("file", "line_no")
    grp = F.coalesce(
        F.sum(F.col("is_ctl").cast("int")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    at = (F.struct(F.col("file"), F.col("line_no")).alias("k"), F.col("create_time_ms").alias("ct"),
          F.col("doc_id").alias("doc_id"))
    return ev.withColumn("txn_grp", grp).groupBy(*session, "txn_grp").agg(
        F.sum(F.col("is_data").cast("int")).alias("n_data_batches"),
        F.max(F.col("is_ctl")).alias("has_control"),
        F.min(F.when(F.col("is_data"), F.struct(*at))).alias("first_data"),
        F.max(F.when(F.col("is_ctl"), F.struct(*at, F.col("commit").alias("commit")))).alias("closing_ctl"),
        F.sum((F.col("is_ctl") & F.col("commit")).cast("int")).alias("n_commit"),
        F.sum((F.col("is_ctl") & ~F.col("commit")).cast("int")).alias("n_abort"),
        *([F.sum("is_gap").alias("n_gaps")] if count_gaps else []),
    )


def _empty():
    """A group closed by a control with no data (EmptyTransaction.java:24-35)."""
    return F.col("has_control") & (F.col("n_data_batches") == 0)


def _open():
    """A trailing group with data but no closing control (collector
    finisher :109-113). Gap-only groups carry neither."""
    return ~F.col("has_control") & (F.col("n_data_batches") > 0)


def empty_groups(g: DataFrame) -> DataFrame:
    """The empty transactions of a ``txn_groups`` result; ``closing_ctl.k``
    is the (file, line_no) of the control message that closed each one."""
    return g.filter(_empty())


def open_groups(g: DataFrame) -> DataFrame:
    """The open transactions of a ``txn_groups`` result; ``first_data.k`` is
    the (file, line_no) of each one's first data batch."""
    return g.filter(_open())


def txn_summary(g: DataFrame) -> DataFrame:
    """Single-row TransactionalInfo summary (TxnStat output,
    segment/cli/TxnStat.java:94-103) + offset-gap count (W8): the final
    aggregate over a ``txn_groups(..., count_gaps=True)`` result."""
    closed = F.col("has_control") & (F.col("n_data_batches") > 0)
    dur = (F.col("closing_ctl.ct") - F.col("first_data.ct")).cast("int")
    zero = F.lit(0).cast("long")
    return g.agg(
        # count-like outputs are 0 on an empty stream, never NULL (the
        # reference prints zeros; min/max/avg stay NULL when nothing closed)
        F.coalesce(F.sum("n_commit"), zero).alias("num_committed"),
        F.coalesce(F.sum("n_abort"), zero).alias("num_aborted"),
        F.coalesce(F.sum(F.when(closed, 1).otherwise(0)), zero).alias("txn_size_count"),
        F.sum(F.when(closed, F.col("n_data_batches"))).alias("txn_size_sum"),
        F.min(F.when(closed, F.col("n_data_batches"))).alias("txn_size_min"),
        F.max(F.when(closed, F.col("n_data_batches"))).alias("txn_size_max"),
        F.avg(F.when(closed, F.col("n_data_batches"))).alias("txn_size_avg"),
        F.coalesce(F.sum(F.when(closed, 1).otherwise(0)), zero).alias("txn_dur_count"),
        F.sum(F.when(closed, dur)).alias("txn_dur_sum"),
        F.min(F.when(closed, dur)).alias("txn_dur_min"),
        F.max(F.when(closed, dur)).alias("txn_dur_max"),
        F.avg(F.when(closed, dur)).alias("txn_dur_avg"),
        F.coalesce(F.sum(F.when(_empty(), 1).otherwise(0)), zero).alias("num_empty_txn"),
        F.coalesce(F.sum(F.when(_open(), 1).otherwise(0)), zero).alias("num_open_txn"),
        F.coalesce(F.sum("n_gaps"), zero).alias("num_offset_gaps"),
    )


def txn_stats(parsed: DataFrame, **filters) -> DataFrame:
    """``txn_summary`` over the gap-counting fold, so the Arrow parse and
    each Exchange run exactly once."""
    return txn_summary(txn_groups(parsed, count_gaps=True, **filters))


def open_txns(parsed: DataFrame, **filters) -> DataFrame:
    """Sessions whose trailing group has no closing control
    (collector finisher :109-113; printed TxnStat.java:101-103)."""
    return open_groups(txn_groups(parsed, **filters)).select(
        "producer_id", "producer_epoch",
        F.col("first_data.doc_id").alias("first_batch_doc_id"),
        F.col("n_data_batches").alias("n_data_batches"),
    )


def empty_txns(parsed: DataFrame, **filters) -> DataFrame:
    """Control batches that closed a transaction with no data
    (EmptyTransaction.java:24-35)."""
    return empty_groups(txn_groups(parsed, **filters)).select(
        "producer_id", "producer_epoch",
        F.col("closing_ctl.doc_id").alias("closing_batch_doc_id"),
        F.col("closing_ctl.commit").alias("commit"),
    )


def offset_gaps(parsed: DataFrame) -> DataFrame:
    """Valid data-segment batches whose base offset != previous last+1 within
    the same dump file (W8 — north rule's offset-gap detections)."""
    b = parsed.filter(
        (F.col("segment_type") == "data") & (F.col("record_class") == "batch") & _countable_batch()
    )
    return with_previous_batch(b, prev_last_offset="last_offset").filter(_is_gap()).select(
        "doc_id", "file", "line_no", "topic", "partition", "base_offset", "prev_last_offset"
    )


def file_health(raw: DataFrame, routed: DataFrame) -> DataFrame:
    """Per-dump-file health — the fleet dashboard an operator runs before
    anything else: line/batch/corrupt counts over the routed (sink) view,
    the exact corrupt rate, and the offset-gap count over the raw view."""
    base = routed.groupBy("file", "segment_type").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((F.col("record_class") == "batch").cast("int")).cast("long").alias("n_batches"),
        F.sum((F.col("record_class") == "corrupt").cast("int")).cast("long").alias("n_corrupt"),
    )
    gaps = offset_gaps(raw).groupBy("file").agg(F.count("*").cast("long").alias("n_offset_gaps"))
    return base.join(gaps, "file", "left").select(
        "file", "segment_type", "n_lines", "n_batches", "n_corrupt",
        (F.col("n_corrupt").cast("double") / F.col("n_lines")).alias("corrupt_rate"),
        F.coalesce("n_offset_gaps", F.lit(0)).cast("long").alias("n_offset_gaps"),
    )


def batches_per_epoch(parsed: DataFrame) -> DataFrame:
    """A9: per producer-session batch counts over valid data batches."""
    return (
        parsed.filter(
            (F.col("segment_type") == "data") & (F.col("record_class") == "batch")
            & _countable_batch() & (F.col("producer_id") != -1)
        )
        .groupBy("producer_id", "producer_epoch")
        .agg(F.count("*").alias("n_batches"))
    )


def first_last_batch(parsed: DataFrame) -> DataFrame:
    """A4: first and last valid data batch in stream order."""
    b = parsed.filter(
        (F.col("segment_type") == "data") & (F.col("record_class") == "batch") & _countable_batch()
    )
    key = F.struct(F.col("file"), F.col("line_no"))
    return b.agg(
        F.min_by(F.col("doc_id"), key).alias("first_batch_doc_id"),
        F.max_by(F.col("doc_id"), key).alias("last_batch_doc_id"),
    )


def topics_sanity(parsed: DataFrame) -> DataFrame:
    """A8: txn-stat requires all data dumps to come from one topic
    (TxnStat.java:78-81; note the reference's topicName() quirk keeps only
    the '-<partition>' suffix, SegmentDumpReader.java:343 — we expose both)."""
    return parsed.filter(F.col("segment_type") == "data").agg(
        F.countDistinct("topic").alias("n_topics"),
        F.countDistinct("partition").alias("n_partition_suffixes"),
    )


#: Every record-line class (the '| ...' lines klog's deep-iteration sniff
#: matches, SegmentDumpReader.java:136-163) — including the
#: __consumer_offsets classes this engine decodes beyond the reference.
MSG_CLASSES = ("data_msg", "control_msg", "txn_state", "txn_deletion",
               "offset_commit", "group_metadata")


def deep_iteration_files(parsed: DataFrame) -> DataFrame:
    """S4: per-file deep-iteration flag. klog sniffs lines 3-4 for a
    leading '| ' (SegmentDumpReader.java:136-163); at table scale the flag
    is simply 'does the file contain record lines'."""
    files = parsed.filter(F.col("record_class") != "header").select("file").distinct()
    deep = (
        parsed.filter(F.col("record_class").isin(*MSG_CLASSES))
        .select("file").distinct().withColumn("deep_iteration", F.lit(True))
    )
    return files.join(deep, "file", "left").fillna(False, ["deep_iteration"])
