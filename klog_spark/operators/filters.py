"""BatchPredicate / SnapshotPredicate filter surface + cat-style projections.

P1-P7 (segment/cli/BatchPredicate.java:29-62,
snapshot/cli/SnapshotPredicate.java:23-35) as plain pushdown-able filters,
and the `cat` display projections (segment/cli/Cat.OutputVisitor:92-162,
Batch.java:100-120) with epoch-millis rendered as UTC instants (F1).

Note the reference's dual filter shape: on DATA segments --pid compares the
*batch* field; on TRANSACTION_STATE it is an EXISTS over the nested
state-change messages (BatchPredicate.java:34). In the line-level model the
EXISTS becomes a direct filter on txn_state rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import batch_selected


def instant_string(ms_col: Column) -> Column:
    """Epoch-millis -> the exact string ``java.time.Instant.toString()``
    prints (Batch.java:113): UTC, 'Z' suffix, and NO fractional part when
    the millis are a whole second (``...T12:00:00Z``, never
    ``...T12:00:00.000Z``); otherwise a 3-digit millis group.

    Session-timezone-INDEPENDENT by construction: the millis are added to a
    TIMESTAMP_NTZ epoch (pure wall-clock arithmetic, no instant<->local
    conversion), so ``date_format`` renders the UTC calendar fields no
    matter what ``spark.sql.session.timeZone`` happens to be."""
    epoch_ntz = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    base = F.date_format(
        F.timestamp_add("MILLISECOND", ms_col, epoch_ntz), "yyyy-MM-dd'T'HH:mm:ss"
    )
    millis = F.pmod(ms_col, F.lit(1000))
    frac = F.when(millis == 0, F.lit("")).otherwise(
        F.concat(F.lit("."), F.lpad(millis.cast("string"), 3, "0"))
    )
    return F.concat(base, frac, F.lit("Z"))


def filter_batches(parsed: DataFrame, pid: int | None = None, producer_epoch: int | None = None,
                   leader_epoch: int | None = None) -> DataFrame:
    """P1/P3/P4/P6 over data-segment batches (conjunction; None = no-op)."""
    return parsed.filter((F.col("record_class") == "batch") & (F.col("segment_type") == "data")
                         & batch_selected("", pid, producer_epoch, leader_epoch))


def filter_txn_state(parsed: DataFrame, pid: int | None = None, producer_epoch: int | None = None,
                     transactional_id: str | None = None) -> DataFrame:
    """P2/P3/P5: the EXISTS-over-messages shape on __transaction_state rows.
    --transactional-id is only legal on TRANSACTION_STATE segments
    (Cat.java:78-80) — enforced by construction here."""
    df = parsed.filter(F.col("record_class").isin("txn_state", "txn_deletion"))
    if pid is not None:
        df = df.filter(F.col("txn_producer_id") == pid)
    if producer_epoch is not None:
        df = df.filter(F.col("txn_producer_epoch") == producer_epoch)
    if transactional_id is not None:
        df = df.filter(F.col("transactional_id") == transactional_id)
    return df


def filter_producer_states(parsed: DataFrame, pid: int | None = None,
                           producer_epoch: int | None = None) -> DataFrame:
    """P7 (SnapshotPredicate.java:23-35)."""
    df = parsed.filter(F.col("record_class") == "producer_state")
    if pid is not None:
        df = df.filter(F.col("producer_id") == pid)
    if producer_epoch is not None:
        df = df.filter(F.col("producer_epoch") == producer_epoch)
    return df


def cat_batches(parsed: DataFrame, **filters) -> DataFrame:
    """`klog segment cat` batch projection (P8/F1): display fields with the
    CreateTime rendered as a UTC instant string (Batch.java:113)."""
    return filter_batches(parsed, **filters).select(
        "doc_id", "file", "line_no", "base_offset", "last_offset", "count",
        "producer_id", "producer_epoch", "partition_leader_epoch",
        "is_transactional", "is_control", "position",
        instant_string(F.col("create_time_ms")).alias("create_time"),
        "size", "magic", "compress_codec", "crc", "is_valid",
    )


def cat_producer_states(parsed: DataFrame, **filters) -> DataFrame:
    """`klog snapshot cat` projection (snapshot/cli/Cat.OutputVisitor:71-99)."""
    return filter_producer_states(parsed, **filters).select(
        "doc_id", "file", "line_no", "producer_id", "producer_epoch",
        "coordinator_epoch", "current_txn_first_offset",
        instant_string(F.col("last_timestamp_ms")).alias("last_timestamp"),
        "first_sequence", "last_sequence", "last_offset", "offset_delta",
        instant_string(F.col("timestamp_ms")).alias("timestamp"),
    )
