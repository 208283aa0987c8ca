"""Fan-out routing: klog's visitor double-dispatch as ONE partitioned write.

klog dispatches each record to a per-class visitor method
(segment/model/SegmentVisitor.java:19-29, Batch.accept at
Batch.java:238-243). The scalable Spark form is not N filtered jobs over a
cached DataFrame — at 100 TB a cache doesn't fit and N passes re-run the
parse N times. Instead the parsed stream is written once, partitioned by
``record_class``: every sink becomes a partition directory, the parse UDF
runs exactly once, and downstream readers get partition pruning for free
(``WHERE record_class = 'batch'`` never touches other sinks' files).

Validity routing folded in before the write (the reference *throws*; we
re-route to corrupt with a reason): the ``REROUTES`` table below, which
``routed_as_parsed`` inverts to rebuild the raw view from the staging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    BATCH_COLS,
    CONTROL_MSG_COLS,
    CORRUPT_COLS,
    DATA_MSG_COLS,
    GROUP_METADATA_COLS,
    GROUP_OFFSET_COLS,
    PARSED_SCHEMA,
    PRODUCER_STATE_COLS,
    TXN_STATE_COLS,
)

SINKS = ("batch", "data_msg", "control_msg", "txn_state", "txn_deletion",
         "producer_state", "offset_commit", "group_metadata", "header", "corrupt")

SINK_PROJECTIONS = {
    "batch": BATCH_COLS,
    "data_msg": DATA_MSG_COLS,
    "control_msg": CONTROL_MSG_COLS,
    "txn_state": TXN_STATE_COLS,
    "txn_deletion": DATA_MSG_COLS + ["transactional_id", "is_deletion"],
    "producer_state": PRODUCER_STATE_COLS,
    "offset_commit": GROUP_OFFSET_COLS,
    "group_metadata": GROUP_METADATA_COLS,
    "corrupt": CORRUPT_COLS,
}


#: Validity routing, one entry per reason: the class a row is routed away
#: from (to ``corrupt``) and the condition on that class's rows. Order is
#: precedence. ``apply_validity_routing`` tags rows from this table and
#: ``routed_as_parsed`` inverts all of it.
REROUTES = {
    # CRC-invalid batches (AssertBatchesValid.java:27-37)
    "crc_invalid": ("batch", lambda: ~F.col("is_valid")),
    # __transaction_state batches must have pid == epoch == -1 and be
    # non-transactional (SegmentDumpReader.checkBatch:322-338 +
    # AssertBatchesTransactional, W5/W6)
    "txn_state_segment_invariant": (
        "batch",
        lambda: (F.col("segment_type") == "txn_state")
        & ((F.col("producer_id") != -1) | (F.col("producer_epoch") != -1) | F.col("is_transactional")),
    ),
    # DATA transactional batches must carry a real session (checkBatch)
    "transactional_batch_without_session": (
        "batch",
        lambda: (F.col("segment_type") == "data") & F.col("is_transactional")
        & ((F.col("producer_id") == -1) | (F.col("producer_epoch") == -1)),
    ),
    # snapshot pid/epoch == -1 (AssertTransactionalProducer:25-35)
    "non_transactional_producer_state": (
        "producer_state",
        lambda: (F.col("producer_id") == -1) & (F.col("producer_epoch") == -1),
    ),
}


def apply_validity_routing(parsed: DataFrame) -> DataFrame:
    """Re-route reference-fatal rows to the corrupt class with a reason."""
    reason = F.coalesce(*[F.when((F.col("record_class") == cls) & cond(), F.lit(name))
                          for name, (cls, cond) in REROUTES.items()])
    # materialize the reason before record_class is overwritten — both
    # replacement columns must see the ORIGINAL record_class
    tagged = parsed.withColumn("_route_reason", reason)
    return (
        tagged.withColumn(
            "record_class",
            F.when(F.col("_route_reason").isNotNull(), F.lit("corrupt")).otherwise(F.col("record_class")),
        )
        .withColumn("corrupt_reason", F.coalesce(F.col("corrupt_reason"), F.col("_route_reason")))
        .drop("_route_reason")
    )


#: Parallelism below which the pre-shuffle is a net loss: the full-row
#: shuffle costs more than the dynamic-partition write saves. Measured at
#: sf1 (BENCH/BASELINE.md write-path table): local[2] direct 52.9k rows/s vs
#: pre-shuffled 47.1k (-11%); by local[8] pre-shuffle wins 2.5x. On any real
#: cluster parallelism is far above this — the threshold only protects tiny
#: local runs from paying the scale plan's fixed cost.
PRE_SHUFFLE_MIN_PARALLELISM = 4

#: In single-JVM local mode the shuffle write/read runs through one
#: process's page cache and syscall path; past ~16 concurrent tasks it
#: serializes and the pre-shuffle costs more than the writer fan-out saves
#: (BENCH/BASELINE.md, round-3 write-path addendum, local[32], sf0.1:
#: direct best 4.9s vs pre-shuffled best 12.8s; at local[8] pre-shuffle
#: wins 2.5x). A real multi-executor cluster shuffles across JVMs/network
#: and never hits this ceiling, so the guard applies to local masters only.
PRE_SHUFFLE_LOCAL_MAX_PARALLELISM = 16

#: Rough structural shares of each sink class in a klog dump, used ONLY to
#: allocate pre-shuffle buckets proportionally (correctness never depends
#: on them). A flat buckets-per-class split starves the write of
#: parallelism: with one bucket per class the largest class (~40% of rows)
#: lands in a single task and the whole write waits on it (measured 0.38
#: scaling efficiency at 2 -> 8 cores). Weighted buckets put ~1/write_tasks
#: of the rows behind every shuffle key, so the write balances while total
#: file count stays ~write_tasks.
CLASS_WEIGHTS = {
    "batch": 0.33,
    "data_msg": 0.40,
    "control_msg": 0.05,
    "txn_state": 0.06,
    "txn_deletion": 0.01,
    "producer_state": 0.05,
    "offset_commit": 0.04,
    "group_metadata": 0.01,
    "header": 0.01,
    "corrupt": 0.04,
}


def resolve_pre_shuffle(spark, pre_shuffle: bool | None) -> tuple[bool, int]:
    """Adaptive pre-shuffle decision shared by the batch and streaming sinks:
    pre-shuffle when ``defaultParallelism >= PRE_SHUFFLE_MIN_PARALLELISM``,
    except in single-JVM local mode above
    ``PRE_SHUFFLE_LOCAL_MAX_PARALLELISM`` threads (see both constants'
    notes). Returns (decision, defaultParallelism)."""
    parallelism = spark.sparkContext.defaultParallelism
    if pre_shuffle is None:
        is_local = spark.sparkContext.master.startswith("local")
        pre_shuffle = parallelism >= PRE_SHUFFLE_MIN_PARALLELISM and not (
            is_local and parallelism > PRE_SHUFFLE_LOCAL_MAX_PARALLELISM
        )
    return pre_shuffle, parallelism


def prepare_routed_write(parsed: DataFrame, write_tasks: int | None = None,
                         pre_shuffle: bool | None = None) -> DataFrame:
    """Partition layout ahead of a per-class partitioned write — the shared
    core of the batch ``write_routed`` and the streaming ``start_routed_sink``.

    Pre-shuffled: (record_class, weighted bucket) keys, ~write_tasks files.
    Direct with explicit ``write_tasks``: a plain round-robin
    ``repartition(write_tasks)`` — it keeps upstream parse parallelism (a
    shuffle boundary, unlike coalesce) and caps the writer-task count, at the
    cost of up to write_tasks x classes-present files (ADVICE r3: the
    argument used to be silently ignored on this path).
    """
    ps, parallelism = resolve_pre_shuffle(parsed.sparkSession, pre_shuffle)
    if ps:
        # 3 tasks per core: one skewed (class, bucket) key then costs ~1/3
        # of a core-slot instead of stalling a whole level — the scheduler
        # load-balances the remainder. File count stays ~write_tasks.
        return pre_shuffle_for_write(parsed, write_tasks or 3 * parallelism)
    if write_tasks is not None:
        return parsed.repartition(write_tasks)
    return parsed


def write_routed(parsed: DataFrame, out_dir: str, mode: str = "overwrite",
                 write_tasks: int | None = None,
                 pre_shuffle: bool | None = None) -> None:
    """Single-pass fan-out write, one partition directory per sink class.

    Rows are pre-shuffled onto (record_class, bucket) so each write task
    emits files for ~one sink class. Without this, a dynamic-partition write
    keeps one open parquet writer PER SINK in every task — measured scaling
    efficiency 0.28 (2->8 cores, sf1) and a tasks x sinks file count (the
    classic small-files problem at 100 TB). With the pre-shuffle the write
    scales at 0.81 on the same input and the file count is ~write_tasks.

    ``pre_shuffle``: None (default) chooses adaptively (resolve_pre_shuffle).
    Pass True/False to pin the plan (scaling comparisons must pin it so both
    parallelism levels run the same plan).
    """
    df = prepare_routed_write(parsed, write_tasks, pre_shuffle)
    df.write.mode(mode).partitionBy("record_class").parquet(out_dir)


def pre_shuffle_for_write(parsed: DataFrame, write_tasks: int) -> DataFrame:
    """Repartition onto (record_class, weighted bucket) ahead of the
    partitioned sink write. Proportional bucket allocation: class c gets
    ~CLASS_WEIGHTS[c] * write_tasks buckets (floor 1), so every shuffle key
    carries ~1/write_tasks of the rows and no single class serializes the
    write, while total file count stays ~write_tasks."""
    buckets = {c: max(1, round(CLASS_WEIGHTS.get(c, 0.02) * write_tasks)) for c in SINKS}
    bucket_map = F.create_map(
        *[lit for c in SINKS for lit in (F.lit(c), F.lit(buckets[c]))]
    )
    return parsed.repartition(
        write_tasks,
        F.col("record_class"),
        F.pmod(F.xxhash64("doc_id"), bucket_map[F.col("record_class")]),
    )


def read_routed(spark, out_dir: str) -> DataFrame:
    """Read a routed staging table with its known schema, not inference:
    empty input stages no data files, only ``_SUCCESS``."""
    return spark.read.schema(PARSED_SCHEMA).parquet(out_dir)


def project_sink(routed: DataFrame, record_class: str) -> DataFrame:
    """One sink of a routed frame: its class's rows (partition-pruned over a
    staging read) in the klog per-class projection."""
    df = routed.filter(F.col("record_class") == record_class)
    cols = SINK_PROJECTIONS.get(record_class)
    return df.select(*cols) if cols else df


def sink_counts(parsed: DataFrame) -> DataFrame:
    """Rows per record class, in class order. At most one row per sink, so
    one partition sorts them: ``orderBy`` would start a range-sampling job."""
    return (parsed.groupBy("record_class").agg(F.count("*").alias("n_rows"))
            .coalesce(1).sortWithinPartitions("record_class"))


def routed_as_parsed(routed: DataFrame, classes: list[str] | None = None) -> DataFrame:
    """Reconstruct the pre-routing view the transactional aggregates and
    checks need from a routed staging table.

    Validity routing moves rows to the corrupt class but keeps their parsed
    fields. Every reason in ``REROUTES`` is inverted here: the row gets its
    original class back and a null ``corrupt_reason``. klog's currentBatch
    cursor must see rerouted batches (their control messages are then
    dropped, not re-attached to an earlier batch), so this is what makes
    "parse once -> query the staging" exact, not approximate.

    ``classes``: the raw record classes the caller will consume. The rewrite
    makes ``record_class`` a COMPUTED column, so a downstream filter on it
    can no longer prune staging partitions — pass the class list here and
    the filter lands on the stored partition column before the rewrite
    ('corrupt' is read only when a requested class can be restored from it).
    """
    rerouted = (F.col("record_class") == "corrupt") & F.col("corrupt_reason").isin(*REROUTES)
    origin = F.create_map(*[F.lit(x) for r, (cls, _) in REROUTES.items() for x in (r, cls)])
    raw_class = F.when(rerouted, origin[F.col("corrupt_reason")]).otherwise(F.col("record_class"))
    if classes is not None:
        restorable = any(cls in classes for cls, _ in REROUTES.values())
        stored = sorted({*classes, "corrupt"} if restorable else set(classes))
        routed = routed.filter(F.col("record_class").isin(*stored) & raw_class.isin(*classes))
    return routed.withColumns({
        "record_class": raw_class,
        "corrupt_reason": F.when(~rerouted, F.col("corrupt_reason")),
    })
