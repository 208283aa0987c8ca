"""klog-compatible CLI backed by the Spark engine.

The reference is a CLI (`klog segment cat|txn-stat`, `klog snapshot
cat|abort-cmd` — segment/cli/*.java, snapshot/cli/*.java); this module maps
those commands (plus the beyond-reference ``group`` analytics and the
``route`` fan-out) onto the distributed operators, so a klog user can point
the same commands at the same dump files and get the same output — computed
by Spark instead of a single-threaded visitor walk.

INPUT is either a directory/glob of `kafka-dump-log` text output
(``sources.dump_files.read_dump_files``) or a parquet path/directory of
tokenized sequences (the engine's native table). Results stream through
``toLocalIterator`` — the driver never holds a whole dump in memory.

Usage::

    python -m klog_spark segment cat DUMP_DIR [--pid N] [--producer-epoch N]
                                     [--leader-epoch N] [--no-color]
                                     [--filename] [--line-numbers]
    python -m klog_spark segment txn-stat DUMP_DIR
    python -m klog_spark snapshot cat DUMP_DIR [--pid N] [--producer-epoch N]
    python -m klog_spark snapshot abort-cmd DUMP_DIR --pid N --producer-epoch N
    python -m klog_spark group offsets|lag|metadata|rewinds DUMP_DIR
                                     [--read-committed]
    python -m klog_spark route DUMP_DIR --out OUT_DIR
    python -m klog_spark corpus stats DOCS_PARQUET
    python -m klog_spark corpus shard DOCS_PARQUET --out DIR [--n-shards N]
                                     [--seed S] [--hash-fn xxhash64|java32]
    python -m klog_spark corpus chunk DOCS_PARQUET --out DIR [--max-words N]
                                     [--overlap K]
    python -m klog_spark corpus curate DOCS_PARQUET --out DIR
    python -m klog_spark corpus score DOCS_PARQUET --out DIR
    python -m klog_spark corpus dedup-blocks DOCS_PARQUET --out DIR
                                     [--block-words N] [--hash-blocks]
    python -m klog_spark corpus badwords DOCS_PARQUET --out DIR
                                     --blocklist w1,w2 [--max-ppm N]
    python -m klog_spark corpus diff OLD_PARQUET --new NEW_PARQUET --out DIR
    python -m klog_spark corpus calibrate DOCS_PARQUET [--thresholds t1,t2]
    python -m klog_spark corpus dsir DOCS_PARQUET --target T_PARQUET --k N
                                     --out DIR

The ``corpus`` family is the training-data side of the engine (documents
parquet with ``doc_id``/``text``[/``source``] columns): per-source stats,
deterministic shuffle + shard manifest, context-window chunking, and the
composed quality→PII-scrub→dedup→span-excision curation pipeline.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _input_df(spark: SparkSession, path: str) -> DataFrame:
    """Dump-text directory/glob OR tokenized-sequence parquet -> input table."""
    from .sources.dump_files import read_dump_files

    if path.endswith(".parquet") or glob.glob(os.path.join(path, "*.parquet")):
        return spark.read.parquet(path)
    if os.path.isdir(path):
        path = os.path.join(path, "*.dump.txt")
    return read_dump_files(spark, path)


def _parsed(spark: SparkSession, path: str) -> DataFrame:
    from .operators.parse import parse_sequences

    return parse_sequences(_input_df(spark, path))


def _routed(spark: SparkSession, path: str) -> DataFrame:
    from .operators.route import apply_validity_routing

    return apply_validity_routing(_parsed(spark, path))


def _print_rows(df: DataFrame, col: str | None = None) -> int:
    n = 0
    for row in df.toLocalIterator():
        print(row[col] if col else " ".join(f"{k}={row[k]}" for k in row.asDict()))
        n += 1
    return n


def _apply_batch_predicate(parsed: DataFrame, pid: int | None = None,
                           producer_epoch: int | None = None,
                           leader_epoch: int | None = None,
                           transactional_id: str | None = None) -> DataFrame:
    """BatchPredicate.java:29-66 as a distributed batch-granular selection:
    a predicate selects whole BATCHES (header + all record lines). On DATA
    segments pid/epoch compare the batch header; on __transaction_state
    segments they are an EXISTS over the nested state-change messages
    (headers there carry producerId -1). Shared by ``segment cat`` and
    ``segment txn-stat`` exactly as the reference shares BatchPredicate
    between Cat.java:81 and TxnStat.java:85."""
    from pyspark.sql import Window

    from .operators.aggregates import attach_parent_batch

    df = attach_parent_batch(parsed).withColumn(
        "_batch_line",
        F.when(F.col("record_class") == "batch", F.col("line_no"))
        .otherwise(F.col("parent.line_no")),
    )
    w = Window.partitionBy("file", "_batch_line")
    is_batch = F.col("record_class") == "batch"
    is_txn_seg = F.col("segment_type") == "txn_state"

    def batch_has(row_hit):
        """True for every row of a batch where ANY row satisfies row_hit —
        the distributed form of Batch.messages().anyMatch."""
        return F.max(F.when(row_hit, 1).otherwise(0)).over(w) == 1

    # predicate over headers/records with no parent batch never selects.
    # Window expressions are illegal inside WHERE — build the selection
    # as a materialized column and filter on it.
    keep = F.col("_batch_line").isNotNull()
    if pid is not None:
        keep = keep & batch_has(
            F.when(is_txn_seg, (F.col("record_class") == "txn_state")
                   & (F.col("txn_producer_id") == pid))
            .otherwise(is_batch & (F.col("producer_id") == pid))
        )
    if producer_epoch is not None:
        keep = keep & batch_has(
            F.when(is_txn_seg, (F.col("record_class") == "txn_state")
                   & (F.col("txn_producer_epoch") == producer_epoch))
            .otherwise(is_batch & (F.col("producer_epoch") == producer_epoch))
        )
    if leader_epoch is not None:
        keep = keep & batch_has(
            is_batch & (F.col("partition_leader_epoch") == leader_epoch)
        )
    if transactional_id is not None:
        keep = keep & batch_has(
            F.col("record_class").isin("txn_state", "txn_deletion")
            & (F.col("transactional_id") == transactional_id)
        )
    return (
        df.withColumn("_keep", keep)
        .filter(F.col("_keep"))
        .drop("parent", "_batch_line", "_keep")
    )


def cmd_segment_cat(spark, args) -> int:
    """``klog segment cat`` with the reference's BatchPredicate semantics
    (BatchPredicate.java:29-66, Cat.java:76-88): predicates select whole
    BATCHES — a selected batch prints its header line plus ALL its record
    lines. On DATA segments --pid/--producer-epoch compare the batch
    header; on __transaction_state segments (whose batch headers carry
    producerId -1) they are an EXISTS over the nested TransactionStateChange
    messages. --leader-epoch always compares the batch header.
    --transactional-id matches any TransactionStateMessage (state changes
    AND deletions, TransactionStateDeletion.java:108) and is rejected for
    non-TRANSACTION_STATE input exactly like Cat.java:78-80.

    Beyond the reference: __consumer_offsets dumps (which klog cannot parse
    at all, Segment.java:28) take the DATA-segment batch-header comparison
    rather than BatchPredicate's RuntimeException — their batch headers
    carry real pids since fixture v8's transactional-offsets flows.
    """
    from pyspark.sql import Window

    from .operators.aggregates import attach_parent_batch
    from .operators.render import render_cat_lines

    parsed = _parsed(spark, args.input)
    active = any(v is not None for v in
                 (args.pid, args.producer_epoch, args.leader_epoch))
    if args.transactional_id is not None:
        # Cat.java:78-80: fail fast on any non-TRANSACTION_STATE input file.
        # One distinct over a <=4-value column: driver-bounded.
        seg_types = {r[0] for r in parsed.select("segment_type").distinct().collect()}
        if seg_types - {"txn_state"}:
            raise SystemExit(
                "--transactional-id can only be used on partitions of "
                "__transaction_state (got segment types: "
                + ", ".join(sorted(seg_types)) + ")"
            )
    if active or args.transactional_id is not None:
        parsed = _apply_batch_predicate(
            parsed, pid=args.pid, producer_epoch=args.producer_epoch,
            leader_epoch=args.leader_epoch,
            transactional_id=args.transactional_id,
        )
    lines = render_cat_lines(
        parsed, color=not args.no_color,
        show_filename=args.filename, show_line_numbers=args.line_numbers,
    ).orderBy("file", "line_no")
    _print_rows(lines, "display")
    return 0


def _int_summary_stats(count, total, mn, mx) -> str:
    """java.util.IntSummaryStatistics.toString parity (TxnStat.java:96-97
    prints the collector's stats objects directly): empty stats show
    count=0, sum=0, min=MAX_VALUE, average=0.000000, max=MIN_VALUE."""
    if not count:
        return ("IntSummaryStatistics{count=0, sum=0, min=2147483647, "
                "average=0.000000, max=-2147483648}")
    return (f"IntSummaryStatistics{{count={count}, sum={total}, min={mn}, "
            f"average={total / count:.6f}, max={mx}}}")


def cmd_segment_txn_stat(spark, args) -> int:
    """``klog segment txn-stat`` with the reference's full contract
    (TxnStat.java:64-126): an eager pre-pass rejects non-DATA segments
    ("__transaction_state partitions do not contain transactional
    messages", :72-75) and multi-topic input (:78-81); the same
    BatchPredicate filters as cat apply to the batch stream (:85-89); the
    aggregate families print in the reference's order with
    IntSummaryStatistics formatting, followed by one line per empty and
    open transaction rendered as the reference's record toStrings —
    ``EmptyTransaction[closingBatch=Batch(...), controlMessage=
    ControlMessage(...)]`` and ``ProducerSession[...]->FirstBatchInTxn[...]``
    — with the multi-file filename prefix and the ``--line-numbers`` option
    (printEmpty/printOpen at :105-127; ADVICE r5 #4 print parity).

    Beyond the reference: snapshot dumps mixed into the input are tolerated
    (their producer_state rows cannot perturb the batch-stream aggregates);
    the reference would fail its header parse on them."""
    from .operators.aggregates import empty_txns, open_txns, txn_stats

    parsed = _parsed(spark, args.input)
    seg_types = {r[0] for r in parsed.select("segment_type").distinct().collect()}
    bad = seg_types - {"data"}
    if bad:
        topic_of = {"txn_state": "__transaction_state",
                    "consumer_offsets": "__consumer_offsets"}
        raise SystemExit(
            ", ".join(sorted(topic_of.get(t, t) for t in bad))
            + " partitions do not contain transactional messages"
        )
    topics = [r[0] for r in parsed.select("topic").distinct().collect()
              if r[0] is not None]
    if len(topics) > 1:
        raise SystemExit(
            "Segment dumps come from multiple different topics " + str(sorted(topics))
        )
    if any(v is not None for v in (args.pid, args.producer_epoch, args.leader_epoch)):
        parsed = _apply_batch_predicate(
            parsed, pid=args.pid, producer_epoch=args.producer_epoch,
            leader_epoch=args.leader_epoch,
        )
    row = txn_stats(parsed).collect()[0]
    print(f"num_committed: {row['num_committed']}")
    print(f"num_aborted: {row['num_aborted']}")
    print("txn_size_stats: " + _int_summary_stats(
        row["txn_size_count"], row["txn_size_sum"],
        row["txn_size_min"], row["txn_size_max"]))
    print("txn_duration_stats_ms: " + _int_summary_stats(
        row["txn_dur_count"], row["txn_dur_sum"],
        row["txn_dur_min"], row["txn_dur_max"]))
    multi = parsed.select("file").distinct().limit(2).count() > 1
    # Detail lines render the reference's record toStrings byte-for-byte
    # (printEmpty/printOpen TxnStat.java:106-127 print "%s" of the Java
    # records): EmptyTransaction[closingBatch=Batch(...),
    # controlMessage=ControlMessage(...)] and
    # ProducerSession[...]->FirstBatchInTxn[firstBatchInTxn=Batch(...),
    # numDataBatches=N]. The location prefix is the control message's /
    # first batch's file (only with >1 segment) and line (--line-numbers).
    from .operators.aggregates import attach_parent_batch
    from .operators.render import batch_record_string, control_record_string

    batches = parsed.filter(F.col("record_class") == "batch")
    bstr = batches.select(
        F.col("doc_id").alias("_b_doc"), batch_record_string().alias("_b_str")
    )
    # closing_batch_doc_id is the control BATCH line (the txn fold attributes
    # controls to klog's currentBatch cursor); the ControlMessage detail is
    # the last control record inside that batch (Kafka control batches carry
    # exactly one — the window is just defensive).
    from pyspark.sql import Window as _W

    ctls = attach_parent_batch(
        parsed.filter(F.col("record_class").isin("batch", "control_msg"))
    ).filter(F.col("record_class") == "control_msg")
    cstr = (
        ctls.withColumn(
            "_rn",
            F.row_number().over(
                _W.partitionBy("parent.doc_id").orderBy(F.desc("line_no"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("file").alias("_c_file"), F.col("line_no").alias("_c_line"),
            control_record_string().alias("_c_str"),
            F.col("parent.doc_id").alias("_parent_doc"),
        )
    )
    et = (
        empty_txns(parsed)
        .join(cstr, F.col("closing_batch_doc_id") == F.col("_parent_doc"))
        .join(bstr, F.col("closing_batch_doc_id") == F.col("_b_doc"))
    )
    prefix = F.lit("empty_txn:")
    if multi:
        prefix = F.concat(prefix, F.col("_c_file"), F.lit(":"))
    if args.line_numbers:
        prefix = F.concat(prefix, F.col("_c_line").cast("string"), F.lit(":"))
    et_line = F.concat(
        prefix, F.lit(" EmptyTransaction[closingBatch="), F.col("_b_str"),
        F.lit(", controlMessage="), F.col("_c_str"), F.lit("]"),
    )
    for r in et.orderBy("closing_batch_doc_id").select(et_line.alias("l")).toLocalIterator():
        print(r["l"])

    ot = open_txns(parsed).join(
        batches.select(
            F.col("doc_id").alias("_b_doc"), F.col("file").alias("_b_file"),
            F.col("line_no").alias("_b_line"), batch_record_string().alias("_b_str"),
        ),
        F.col("first_batch_doc_id") == F.col("_b_doc"),
    )
    oprefix = F.lit("open_txn:")
    if multi:
        oprefix = F.concat(oprefix, F.col("_b_file"), F.lit(":"))
    if args.line_numbers:
        oprefix = F.concat(oprefix, F.col("_b_line").cast("string"), F.lit(":"))
    ot_line = F.concat(
        oprefix,
        F.format_string(
            " ProducerSession[producerId=%d, producerEpoch=%s]->"
            "FirstBatchInTxn[firstBatchInTxn=",
            F.col("producer_id"), F.col("producer_epoch").cast("string"),
        ),
        F.col("_b_str"),
        F.format_string(", numDataBatches=%d]", F.col("n_data_batches")),
    )
    for r in ot.orderBy("first_batch_doc_id").select(ot_line.alias("l")).toLocalIterator():
        print(r["l"])
    return 0


def cmd_snapshot_cat(spark, args) -> int:
    from .operators.filters import cat_producer_states

    df = cat_producer_states(
        _routed(spark, args.input), pid=args.pid, producer_epoch=args.producer_epoch
    ).orderBy("file", "line_no")
    _print_rows(df.drop("file", "line_no"))
    return 0


def cmd_snapshot_abort_cmd(spark, args) -> int:
    from .operators.enrich import abort_commands_for

    df = abort_commands_for(_routed(spark, args.input), args.pid, args.producer_epoch)
    _print_rows(df, "abort_command")
    return 0


def cmd_group(spark, args) -> int:
    from .operators.group_offsets import (
        group_lag, latest_group_metadata, latest_group_offsets,
        offset_rewinds, read_committed_group_offsets,
    )

    routed = _routed(spark, args.input)
    if args.view == "offsets":
        df = (read_committed_group_offsets(routed) if args.read_committed
              else latest_group_offsets(routed))
        df = df.orderBy("group_id", "commit_topic", "commit_partition")
    elif args.view == "lag":
        df = group_lag(routed).orderBy("group_id", "commit_topic", "commit_partition")
    elif args.view == "metadata":
        df = latest_group_metadata(routed).orderBy("group_id")
    else:
        df = offset_rewinds(routed).orderBy("group_id", "file", "line_no")
    _print_rows(df)
    return 0


def cmd_segment_health(spark, args) -> int:
    """Per-file health dashboard (aggregates.file_health over arbitrary CLI
    input, the same table as q_file_health and the file_health SQL view):
    line/batch/corrupt counts, corrupt rate, offset-gap count per segment
    file — the first look at a dump fleet."""
    from .operators.aggregates import file_health

    _print_rows(file_health(_parsed(spark, args.input), _routed(spark, args.input)).orderBy("file"))
    return 0


def cmd_route(spark, args) -> int:
    from .operators.route import sink_counts, write_routed

    routed = _routed(spark, args.input)
    write_routed(routed, args.out, write_tasks=args.write_tasks)
    _print_rows(sink_counts(spark.read.parquet(args.out)))
    print(f"routed staging written to {args.out}")
    return 0


def _corpus_df(spark: SparkSession, path: str) -> DataFrame:
    """Documents parquet (doc_id, text[, source, ...]) for the corpus
    subcommands; fails loudly on a table missing the contract columns."""
    df = spark.read.parquet(path)
    missing = {"doc_id", "text"} - set(df.columns)
    if missing:
        raise SystemExit(f"corpus input {path!r} lacks column(s) {sorted(missing)}")
    return df


def _source_col(df: DataFrame):
    return F.col("source") if "source" in df.columns else F.lit("all")


def cmd_corpus_stats(spark, args) -> int:
    """Per-source corpus dashboard: doc/word/char counts and the
    quality-rule pass rate (the same gated operators behind
    source_quality, over arbitrary CLI input)."""
    from .datapipe.textstats import quality_scores, token_counts

    docs = _corpus_df(spark, args.input)
    joined = (
        docs.select("doc_id", _source_col(docs).alias("source"))
        .join(token_counts(docs), "doc_id")
        .join(quality_scores(docs).select("doc_id", "passes_quality"), "doc_id")
    )
    _print_rows(
        joined.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws_tokens").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum(F.col("passes_quality").cast("int")).cast("long").alias("n_pass_quality"),
        ).orderBy("source")
    )
    return 0


def cmd_corpus_shard(spark, args) -> int:
    """Deterministic shuffle -> shard-partitioned parquet + printed audit
    manifest (datapipe/shard.py): the training-data export step."""
    from .datapipe.shard import deterministic_shuffle, shard_manifest

    docs = _corpus_df(spark, args.input)
    shuffled = deterministic_shuffle(
        docs, seed=args.seed, n_shards=args.n_shards, hash_fn=args.hash_fn
    )
    shuffled.write.mode("overwrite").partitionBy("shard_id").parquet(args.out)
    _print_rows(
        shard_manifest(spark.read.parquet(args.out), hash_fn=args.hash_fn)
        .orderBy("shard_id")
    )
    print(f"{args.n_shards} shards written to {args.out}")
    return 0


def cmd_corpus_chunk(spark, args) -> int:
    """Context-window chunking to parquet (textstats.chunk_documents)."""
    from .datapipe.textstats import chunk_documents

    docs = _corpus_df(spark, args.input)
    chunks = chunk_documents(docs, max_words=args.max_words, overlap=args.overlap)
    chunks.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_chunk_words").cast("long").alias("n_chunk_words"),
        )
    )
    print(f"chunks written to {args.out}")
    return 0


def cmd_corpus_curate(spark, args) -> int:
    """The composed curation pipeline over arbitrary input: quality filter
    -> PII redaction (scrub, keep) -> exact-dup keep-best -> repeated-span
    excision; writes the cleaned corpus and prints per-source kept/total.
    Same operators as the gated corpus_curate query, minus its
    planted-PII test scaffolding."""
    from .datapipe.dedup import exact_dedup_keep_best, remove_repeated_spans
    from .datapipe.textstats import quality_scores, redact_pii

    docs = _corpus_df(spark, args.input)
    q = quality_scores(docs).filter(F.col("passes_quality")).select("doc_id", "n_words")
    scrubbed = redact_pii(docs).select("doc_id", F.col("clean_text").alias("text"))
    eligible = (
        docs.select("doc_id", _source_col(docs).alias("source"))
        .join(q, "doc_id").join(scrubbed, "doc_id")
    )
    resolved = exact_dedup_keep_best(eligible, F.col("n_words").cast("long"))
    keepers = resolved.filter(F.col("kept")).select("doc_id").join(
        eligible.select("doc_id", "source", "text"), "doc_id"
    )
    cleaned = remove_repeated_spans(keepers).select(
        "doc_id", F.col("cleaned_text").alias("text"), "n_kept_words", "n_removed_words"
    )
    out_df = keepers.select("doc_id", "source").join(cleaned, "doc_id")
    out_df.write.mode("overwrite").parquet(args.out)
    stats = (
        docs.select("doc_id", _source_col(docs).alias("source"))
        .join(
            spark.read.parquet(args.out).select("doc_id", F.lit(1).alias("_kept")),
            "doc_id", "left",
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(F.coalesce("_kept", F.lit(0))).cast("long").alias("n_kept"))
        .orderBy("source")
    )
    _print_rows(stats)
    print(f"curated corpus written to {args.out}")
    return 0


def cmd_corpus_score(spark, args) -> int:
    """Apply the pinned trained quality filter (the gated
    scored_quality_filter model) to arbitrary documents parquet: writes
    (doc_id, kept, margin_micro) and prints the acceptance summary.
    ``streaming.scored_filter_stream`` is the same stateless pinned fold,
    so it scores batch DataFrames identically."""
    from . import entry_queries as eq
    from .streaming import scored_filter_stream

    docs = _corpus_df(spark, args.input)
    scored = scored_filter_stream(
        docs, eq.SCORED_FILTER_WEIGHTS, eq.SCORED_FILTER_STATS
    )
    scored.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        )
    )
    print(f"scored corpus written to {args.out}")
    return 0




def cmd_corpus_sample(spark, args) -> int:
    """Soft (rejection) quality sampling: score every document with the
    pinned trained filter, then accept with probability
    clamp(1/2 + margin/(2T)) via the deterministic integer test
    (mixture.rejection_sample — the DCLM-style soft alternative to the
    hard `corpus score` cutoff). Writes (doc_id, margin_micro, u_micro,
    kept) and prints the acceptance summary."""
    from . import entry_queries as eq
    from .datapipe.mixture import rejection_sample
    from .streaming import scored_filter_stream

    docs = _corpus_df(spark, args.input)
    scored = scored_filter_stream(
        docs, eq.SCORED_FILTER_WEIGHTS, eq.SCORED_FILTER_STATS
    ).select("doc_id", "margin_micro")
    rejection_sample(scored, args.temperature_micro).write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        )
    )
    print(f"sampled corpus decision table written to {args.out}")
    return 0


def cmd_corpus_decontaminate(spark, args) -> int:
    """Contamination removal against a held-out/benchmark corpus: drop
    every training document sharing >= --min-common distinct --n-gram
    shingles with the test side (dedup.decontaminate). Writes the full
    decision table (doc_id, n_test_shingles, n_test_docs, kept) over the
    TRAIN input; filter kept for the publishable corpus."""
    from .datapipe.dedup import decontaminate

    train = _corpus_df(spark, args.input)
    test = _corpus_df(spark, args.test)
    # Independent corpora are commonly both numbered from 0: a colliding
    # doc_id would carry BOTH split labels, join its shingles to both sides,
    # self-match its test twin and be silently dropped (plus duplicate
    # decision rows). Namespace the test side past the train id range; the
    # decision table is train-side only, so its doc_ids are unaffected.
    id_offset = (train.agg(F.max("doc_id")).first()[0] or 0) + 1
    test_ns = test.select(
        (F.col("doc_id") + F.lit(id_offset)).cast("long").alias("doc_id"), "text"
    )
    both = train.select("doc_id", "text").unionByName(test_ns)
    split = train.select("doc_id", F.lit("train").alias("split")).unionByName(
        test_ns.select("doc_id", F.lit("test").alias("split"))
    )
    decision = decontaminate(both, split, n=args.n, min_common=args.min_common,
                             max_df=args.max_df)
    decision.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_train_docs"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
            F.sum((~F.col("kept")).cast("int")).cast("long").alias("n_dropped"),
        )
    )
    print(f"decontamination decision table written to {args.out}")
    return 0


def cmd_corpus_embed(spark, args) -> int:
    """Model-free document embeddings via the feature-hashing trick
    (similarity.hashed_doc_embeddings): writes (doc_id, embedding
    array<double>) ready for the ANN / SemDeDup / rebalance operators."""
    from .datapipe.similarity import hashed_doc_embeddings

    docs = _corpus_df(spark, args.input)
    hashed_doc_embeddings(docs, dim=args.dim).write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{n} document embeddings (dim={args.dim}) written to {args.out}")
    return 0


def cmd_corpus_rebalance(spark, args) -> int:
    """Cluster-balanced subsampling over an embeddings parquet
    (vec_id, embedding): thin each IVF cell to an expected --cap vectors
    (mixture.cluster_balanced_sample). Writes the decision table
    (vec_id, cell, cell_size, u_micro, kept)."""
    from .datapipe.mixture import cluster_balanced_sample

    emb = spark.read.parquet(args.input)
    missing = {"vec_id", "embedding"} - set(emb.columns)
    if missing:
        raise SystemExit(f"embeddings input {args.input!r} lacks column(s) {sorted(missing)}")
    out = cluster_balanced_sample(emb.select("vec_id", "embedding"), cap=args.cap,
                                  n_centroids=args.n_centroids)
    out.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).groupBy("cell").agg(
            F.max("cell_size").alias("cell_size"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        ).orderBy("cell")
    )
    print(f"rebalanced decision table written to {args.out}")
    return 0




def cmd_corpus_dedup_blocks(spark, args) -> int:
    """Paragraph-granular exact dedup (dedup.dedup_paragraph_blocks):
    rewrite every document keeping only the globally-first occurrence of
    each block. Writes (doc_id, n_blocks, n_kept_blocks, kept_text) and
    prints the corpus-level block survival rate."""
    from .datapipe.dedup import dedup_paragraph_blocks

    docs = _corpus_df(spark, args.input)
    out = dedup_paragraph_blocks(docs, block_words=args.block_words,
                                 hash_blocks=args.hash_blocks)
    out.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_blocks").cast("long").alias("n_blocks"),
            F.sum("n_kept_blocks").cast("long").alias("n_kept_blocks"),
        )
    )
    print(f"block-deduped corpus written to {args.out}")
    return 0


def cmd_corpus_badwords(spark, args) -> int:
    """Blocked-wordlist screen (textstats.wordlist_filter): per-doc blocked
    counts and the integer ppm accept decision. Writes (doc_id, n_words,
    n_blocked, keep) and prints the acceptance summary."""
    from .datapipe.textstats import wordlist_filter

    blocklist = [w for w in args.blocklist.split(",") if w]
    if not blocklist:
        raise SystemExit("--blocklist needs at least one word")
    docs = _corpus_df(spark, args.input)
    out = wordlist_filter(docs, blocklist, max_ppm=args.max_ppm,
                          method=args.method)
    out.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.sum("n_blocked").cast("long").alias("n_blocked_words"),
        )
    )
    print(f"badwords decision table written to {args.out}")
    return 0


def cmd_corpus_diff(spark, args) -> int:
    """Snapshot diff between two corpus versions (shard.corpus_diff):
    writes (doc_id, status) and prints the added/removed/changed/unchanged
    counts — the audit step of an incremental curation pipeline."""
    from .datapipe.shard import corpus_diff

    old = _corpus_df(spark, args.input)
    new = _corpus_df(spark, args.new)
    corpus_diff(old, new).write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).groupBy("status").count().orderBy("status")
    )
    print(f"diff written to {args.out}")
    return 0


def cmd_corpus_calibrate(spark, args) -> int:
    """Operating-point sweep of the pinned quality filter
    (classifier.calibration_sweep vs the Gopher-style heuristic labels):
    prints per-threshold confusion counts so the filtering threshold is
    chosen from evidence, not defaults."""
    from . import entry_queries as eq
    from .datapipe.classifier import calibration_sweep
    from .datapipe.textstats import quality_scores
    from .streaming import scored_filter_stream

    docs = _corpus_df(spark, args.input)
    scored = scored_filter_stream(
        docs, eq.SCORED_FILTER_WEIGHTS, eq.SCORED_FILTER_STATS
    )
    labels = quality_scores(docs).select(
        "doc_id", F.col("passes_quality").cast("int").alias("label")
    )
    thresholds = [int(t) for t in args.thresholds.split(",") if t]
    out = calibration_sweep(scored.join(labels, "doc_id"),
                            "margin_micro", "label", thresholds)
    _print_rows(out.orderBy("threshold_micro"))
    return 0


def cmd_corpus_dsir(spark, args) -> int:
    """DSIR-style importance resampling toward a target-domain parquet
    (mixture.dsir_importance_sample): writes the per-doc decision table
    (doc_id, n_words, weight_micro, key_micro, selected) and prints the
    selected count."""
    from .datapipe.mixture import dsir_importance_sample

    docs = _corpus_df(spark, args.input)
    target = _corpus_df(spark, args.target)
    out = dsir_importance_sample(docs, target, k=args.k)
    out.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("selected").cast("int")).cast("long").alias("n_selected"),
        )
    )
    print(f"dsir decision table written to {args.out}")
    return 0


def cmd_corpus_novelty(spark, args) -> int:
    """n-gram novelty of a corpus against a reference parquet
    (dedup.ngram_novelty): writes (doc_id, n_shingles, n_novel,
    novelty_ppm) and prints the corpus-level mean novelty."""
    from .datapipe.dedup import ngram_novelty

    docs = _corpus_df(spark, args.input)
    ref = _corpus_df(spark, args.reference)
    ngram_novelty(docs, ref, n=args.n).write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("novelty_ppm")).cast("long").alias("mean_novelty_ppm"),
        )
    )
    print(f"novelty table written to {args.out}")
    return 0


def cmd_corpus_dup_matrix(spark, args) -> int:
    """Cross-source duplication matrix (dedup.cross_source_dup_matrix):
    prints every (source_a, source_b) pair with exact-duplicate pair and
    shared-text counts — the per-source dedup-budget audit."""
    from .datapipe.dedup import cross_source_dup_matrix

    docs = _corpus_df(spark, args.input)
    _print_rows(cross_source_dup_matrix(docs).orderBy("source_a", "source_b"))
    return 0


def cmd_corpus_order(spark, args) -> int:
    """Curriculum training-order manifest (mixture.curriculum_order) over
    the pinned quality margins: writes (doc_id, score, bucket, shard, pos)
    and prints the per-bucket sizes (easy buckets first)."""
    from . import entry_queries as eq
    from .datapipe.mixture import curriculum_order
    from .streaming import scored_filter_stream

    docs = _corpus_df(spark, args.input)
    scored = scored_filter_stream(
        docs, eq.SCORED_FILTER_WEIGHTS, eq.SCORED_FILTER_STATS
    ).select("doc_id", "margin_micro")
    thresholds = [int(t) for t in args.thresholds.split(",")]
    out = curriculum_order(scored, "margin_micro", thresholds,
                           n_shards=args.n_shards)
    out.write.mode("overwrite").parquet(args.out)
    _print_rows(
        spark.read.parquet(args.out).groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("bucket")
    )
    print(f"curriculum manifest written to {args.out}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="klog-spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    seg = sub.add_parser("segment").add_subparsers(dest="sub", required=True)
    cat = seg.add_parser("cat")
    cat.add_argument("input")
    cat.add_argument("--pid", type=int)
    cat.add_argument("--producer-epoch", type=int, dest="producer_epoch")
    cat.add_argument("--leader-epoch", type=int, dest="leader_epoch")
    cat.add_argument("--transactional-id", dest="transactional_id")
    cat.add_argument("--no-color", action="store_true")
    cat.add_argument("--filename", action="store_true")
    cat.add_argument("--line-numbers", action="store_true", dest="line_numbers")
    cat.set_defaults(fn=cmd_segment_cat)
    ts = seg.add_parser("txn-stat")
    ts.add_argument("input")
    ts.add_argument("--pid", type=int)
    ts.add_argument("--producer-epoch", type=int, dest="producer_epoch")
    ts.add_argument("--leader-epoch", type=int, dest="leader_epoch")
    ts.add_argument("--line-numbers", action="store_true", dest="line_numbers")
    ts.set_defaults(fn=cmd_segment_txn_stat)
    sh = seg.add_parser("health")
    sh.add_argument("input")
    sh.set_defaults(fn=cmd_segment_health)

    snap = sub.add_parser("snapshot").add_subparsers(dest="sub", required=True)
    scat = snap.add_parser("cat")
    scat.add_argument("input")
    scat.add_argument("--pid", type=int)
    scat.add_argument("--producer-epoch", type=int, dest="producer_epoch")
    scat.set_defaults(fn=cmd_snapshot_cat)
    sab = snap.add_parser("abort-cmd")
    sab.add_argument("input")
    sab.add_argument("--pid", type=int, required=True)
    sab.add_argument("--producer-epoch", type=int, dest="producer_epoch", required=True)
    sab.set_defaults(fn=cmd_snapshot_abort_cmd)

    grp = sub.add_parser("group")
    grp.add_argument("view", choices=["offsets", "lag", "metadata", "rewinds"])
    grp.add_argument("input")
    grp.add_argument("--read-committed", action="store_true", dest="read_committed")
    grp.set_defaults(fn=cmd_group)

    rt = sub.add_parser("route")
    rt.add_argument("input")
    rt.add_argument("--out", required=True)
    rt.add_argument("--write-tasks", type=int, dest="write_tasks")
    rt.set_defaults(fn=cmd_route)

    corp = sub.add_parser("corpus").add_subparsers(dest="sub", required=True)
    cst = corp.add_parser("stats")
    cst.add_argument("input")
    cst.set_defaults(fn=cmd_corpus_stats)
    csh = corp.add_parser("shard")
    csh.add_argument("input")
    csh.add_argument("--out", required=True)
    csh.add_argument("--n-shards", type=int, default=16, dest="n_shards")
    csh.add_argument("--seed", default="0")
    csh.add_argument("--hash-fn", default="xxhash64", dest="hash_fn",
                     choices=["xxhash64", "java32"])
    csh.set_defaults(fn=cmd_corpus_shard)
    cch = corp.add_parser("chunk")
    cch.add_argument("input")
    cch.add_argument("--out", required=True)
    cch.add_argument("--max-words", type=int, default=512, dest="max_words")
    cch.add_argument("--overlap", type=int, default=64)
    cch.set_defaults(fn=cmd_corpus_chunk)
    ccu = corp.add_parser("curate")
    ccu.add_argument("input")
    ccu.add_argument("--out", required=True)
    ccu.set_defaults(fn=cmd_corpus_curate)
    csc = corp.add_parser("score")
    csc.add_argument("input")
    csc.add_argument("--out", required=True)
    csc.set_defaults(fn=cmd_corpus_score)

    csa = corp.add_parser("sample")
    csa.add_argument("input")
    csa.add_argument("--out", required=True)
    csa.add_argument("--temperature-micro", type=int, default=2_000_000)
    csa.set_defaults(fn=cmd_corpus_sample)

    cde = corp.add_parser("decontaminate")
    cde.add_argument("input", help="training documents parquet")
    cde.add_argument("--test", required=True, help="held-out/benchmark documents parquet")
    cde.add_argument("--out", required=True)
    cde.add_argument("--n", type=int, default=5)
    cde.add_argument("--min-common", type=int, default=3)
    cde.add_argument("--max-df", type=int, default=None)
    cde.set_defaults(fn=cmd_corpus_decontaminate)

    cem = corp.add_parser("embed")
    cem.add_argument("input")
    cem.add_argument("--out", required=True)
    cem.add_argument("--dim", type=int, default=64)
    cem.set_defaults(fn=cmd_corpus_embed)

    crb = corp.add_parser("rebalance")
    crb.add_argument("input", help="embeddings parquet (vec_id, embedding)")
    crb.add_argument("--out", required=True)
    crb.add_argument("--cap", type=int, required=True)
    crb.add_argument("--n-centroids", type=int, default=16)
    crb.set_defaults(fn=cmd_corpus_rebalance)

    cdb = corp.add_parser("dedup-blocks")
    cdb.add_argument("input")
    cdb.add_argument("--out", required=True)
    cdb.add_argument("--block-words", type=int, default=16, dest="block_words")
    cdb.add_argument("--hash-blocks", action="store_true", dest="hash_blocks")
    cdb.set_defaults(fn=cmd_corpus_dedup_blocks)

    cbw = corp.add_parser("badwords")
    cbw.add_argument("input")
    cbw.add_argument("--out", required=True)
    cbw.add_argument("--blocklist", required=True,
                     help="comma-separated blocked words")
    cbw.add_argument("--max-ppm", type=int, default=100_000, dest="max_ppm")
    cbw.add_argument("--method", default="expr", choices=["expr", "join"])
    cbw.set_defaults(fn=cmd_corpus_badwords)

    cdf = corp.add_parser("diff")
    cdf.add_argument("input", help="old corpus parquet")
    cdf.add_argument("--new", required=True, help="new corpus parquet")
    cdf.add_argument("--out", required=True)
    cdf.set_defaults(fn=cmd_corpus_diff)

    cca = corp.add_parser("calibrate")
    cca.add_argument("input")
    cca.add_argument("--thresholds", default="-2000000,-500000,0,500000,2000000")
    cca.set_defaults(fn=cmd_corpus_calibrate)

    cds = corp.add_parser("dsir")
    cds.add_argument("input", help="raw corpus parquet")
    cds.add_argument("--target", required=True, help="target-domain documents parquet")
    cds.add_argument("--k", type=int, required=True)
    cds.add_argument("--out", required=True)
    cds.set_defaults(fn=cmd_corpus_dsir)

    cnv = corp.add_parser("novelty")
    cnv.add_argument("input", help="corpus parquet to score")
    cnv.add_argument("--reference", required=True, help="reference corpus parquet")
    cnv.add_argument("--n", type=int, default=3)
    cnv.add_argument("--out", required=True)
    cnv.set_defaults(fn=cmd_corpus_novelty)

    cdm = corp.add_parser("dup-matrix")
    cdm.add_argument("input", help="documents parquet with a source column")
    cdm.set_defaults(fn=cmd_corpus_dup_matrix)

    cor = corp.add_parser("order")
    cor.add_argument("input", help="documents parquet")
    cor.add_argument("--thresholds", default="-2000000,0,2000000")
    cor.add_argument("--n-shards", type=int, default=8, dest="n_shards")
    cor.add_argument("--out", required=True)
    cor.set_defaults(fn=cmd_corpus_order)
    return ap


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="klog-spark-cli")
    return args.fn(spark, args)


if __name__ == "__main__":
    sys.exit(main())
