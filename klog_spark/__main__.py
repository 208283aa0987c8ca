"""klog-compatible CLI backed by the Spark engine.

The reference is a CLI (`klog segment cat|txn-stat`, `klog snapshot
cat|abort-cmd` — segment/cli/*.java, snapshot/cli/*.java); this module maps
those commands (plus the beyond-reference ``group`` analytics and the
``route`` fan-out) onto the distributed operators, so a klog user can point
the same commands at the same dump files and get the same output — computed
by Spark instead of a single-threaded visitor walk.

INPUT is either a directory/glob of `kafka-dump-log` text output, a
parquet path/directory of tokenized sequences (the engine's native table)
or a fixture directory; ``sources.dump_files.read_input`` tells them apart.
Every command reads one ``Pipeline(spark, INPUT)``: one parse, which
``parsed_raw()`` returns and ``parsed()`` routes. A command whose plan
scans that parse more than once persists it for the call and unpersists it
before ``main`` returns (a sorted listing alone samples its range and then
sorts). One that scans it once — ``route``'s write and three group views,
see ``_scans_parse_once`` — does not: a persist would only add its own
build job. Listings stream through ``toLocalIterator`` — the driver never
holds a whole dump in memory. ``segment txn-stat`` collects its empty- and
open-transaction lines through one ``collect()``, as klog holds both lists
in memory.

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
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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
    (headers there carry producerId -1). Serves ``segment cat`` only:
    ``segment txn-stat`` (DATA segments only) passes the same predicate to
    the transactional fold as its filters (TxnStat.java:85)."""
    from pyspark.sql import Window

    from .operators.aggregates import attach_parent_batch

    df = attach_parent_batch(parsed, "line_no").withColumn(
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


def cmd_segment_cat(p, args) -> int:
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
    from .operators.render import render_cat_lines

    parsed = p.parsed_raw()
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


def cmd_segment_txn_stat(p, args) -> int:
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

    Like the reference's one TransactionalInfoCollector pass, the input is
    parsed once and folded once (``aggregates.txn_groups`` with the
    predicate as its filters): the summary and both detail lists derive
    from that one fold. Each empty line carries the control message that
    closed it (``closing_ctl.k``), and the detail lines print in stream
    order.

    Beyond the reference: snapshot dumps mixed into the input are tolerated
    (their producer_state rows cannot perturb the batch-stream aggregates);
    the reference would fail its header parse on them."""
    from .operators.aggregates import (batch_selected, empty_groups, open_groups,
                                       txn_groups, txn_summary)
    from .operators.render import batch_record_string, control_record_string

    filters = {"pid": args.pid, "producer_epoch": args.producer_epoch,
               "leader_epoch": args.leader_epoch}
    parsed = p.parsed_raw()
    g = txn_groups(parsed, count_gaps=True, **filters).persist()
    try:
        # with a predicate, the filename prefix counts only the files that
        # hold a selected batch
        in_scope = ((F.col("record_class") == "batch") & batch_selected("", **filters)
                    if any(v is not None for v in filters.values()) else F.lit(True))
        pre = parsed.agg(
            F.collect_set("segment_type").alias("seg_types"),
            F.collect_set("topic").alias("topics"),
            F.countDistinct(F.when(in_scope, F.col("file"))).alias("n_files"),
        ).first()
        bad = set(pre["seg_types"]) - {"data"}
        if bad:
            topic_of = {"txn_state": "__transaction_state",
                        "consumer_offsets": "__consumer_offsets"}
            raise SystemExit(
                ", ".join(sorted(topic_of.get(t, t) for t in bad))
                + " partitions do not contain transactional messages"
            )
        if len(pre["topics"]) > 1:
            raise SystemExit(
                "Segment dumps come from multiple different topics "
                + str(sorted(pre["topics"]))
            )
        row = txn_summary(g).first()
        print(f"num_committed: {row['num_committed']}")
        print(f"num_aborted: {row['num_aborted']}")
        print("txn_size_stats: " + _int_summary_stats(
            row["txn_size_count"], row["txn_size_sum"],
            row["txn_size_min"], row["txn_size_max"]))
        print("txn_duration_stats_ms: " + _int_summary_stats(
            row["txn_dur_count"], row["txn_dur_sum"],
            row["txn_dur_min"], row["txn_dur_max"]))

        # Detail lines render the reference's record toStrings byte-for-byte
        # (printEmpty/printOpen TxnStat.java:106-127 print "%s" of the Java
        # records), prefixed with the control message's / first batch's
        # file (only with >1 segment) and line (--line-numbers).
        def located(kind: str, at: str, *body):
            prefix = [F.lit(kind + ":")]
            if pre["n_files"] > 1:
                prefix += [F.col(at + ".file"), F.lit(":")]
            if args.line_numbers:
                prefix += [F.col(at + ".line_no").cast("string"), F.lit(":")]
            return F.col(at).alias("k"), F.concat(*prefix, *body).alias("l")

        batches = parsed.filter(F.col("record_class") == "batch").select(
            F.col("doc_id").alias("_b_doc"), batch_record_string().alias("_b_str"))
        ctls = parsed.filter(F.col("record_class") == "control_msg").select(
            F.struct("file", "line_no").alias("_c_k"), control_record_string().alias("_c_str"))
        empty = (
            empty_groups(g)
            .join(ctls, F.col("closing_ctl.k") == F.col("_c_k"))
            .join(batches, F.col("closing_ctl.doc_id") == F.col("_b_doc"))
            .select(F.lit(0).alias("list"), *located(
                "empty_txn", "closing_ctl.k", F.lit(" EmptyTransaction[closingBatch="),
                F.col("_b_str"), F.lit(", controlMessage="), F.col("_c_str"), F.lit("]"),
            ))
        )
        open_ = (
            open_groups(g)
            .join(batches, F.col("first_data.doc_id") == F.col("_b_doc"))
            .select(F.lit(1).alias("list"), *located(
                "open_txn", "first_data.k",
                F.format_string(
                    " ProducerSession[producerId=%d, producerEpoch=%s]->"
                    "FirstBatchInTxn[firstBatchInTxn=",
                    F.col("producer_id"), F.col("producer_epoch").cast("string"),
                ),
                F.col("_b_str"),
                F.format_string(", numDataBatches=%d]", F.col("n_data_batches")),
            ))
        )
        # both lists through one collect(); klog holds them in memory too
        for r in sorted(empty.unionByName(open_).collect()):
            print(r["l"])
    finally:
        g.unpersist()
    return 0


def cmd_snapshot_cat(p, args) -> int:
    df = p.cat_producer_states(pid=args.pid, producer_epoch=args.producer_epoch)
    _print_rows(df.orderBy("file", "line_no").drop("file", "line_no"))
    return 0


def cmd_snapshot_abort_cmd(p, args) -> int:
    _print_rows(p.abort_commands(args.pid, args.producer_epoch), "abort_command")
    return 0


def cmd_group(p, args) -> int:
    from .operators.group_offsets import offset_rewinds, read_committed_group_offsets

    if args.view == "offsets":
        df = (read_committed_group_offsets(p.parsed()) if args.read_committed
              else p.group_offsets())
        df = df.orderBy("group_id", "commit_topic", "commit_partition")
    elif args.view == "lag":
        df = p.group_lag().orderBy("group_id", "commit_topic", "commit_partition")
    elif args.view == "metadata":
        df = p.group_metadata().orderBy("group_id")
    else:
        df = offset_rewinds(p.parsed()).orderBy("group_id", "file", "line_no")
    _print_rows(df)
    return 0


def cmd_segment_health(p, args) -> int:
    """Per-file health dashboard (aggregates.file_health over arbitrary CLI
    input, the same table as q_file_health and the file_health SQL view):
    line/batch/corrupt counts, corrupt rate, offset-gap count per segment
    file — the first look at a dump fleet."""
    from .operators.aggregates import file_health

    _print_rows(file_health(p.parsed_raw(), p.parsed()).orderBy("file"))
    return 0


def cmd_route(p, args) -> int:
    from .operators.route import read_routed, sink_counts, write_routed

    write_routed(p.parsed(), args.out, write_tasks=args.write_tasks)
    _print_rows(sink_counts(read_routed(p.spark, args.out)))
    print(f"routed staging written to {args.out}")
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
    return ap


def _scans_parse_once(args) -> bool:
    """True when the command's plan reads the parse in one scan, so a
    persist would cost a build job and save none: measured over the sf0.01
    dump-text files, the three group views run 5 jobs and one parse scan
    without the persist, 6 jobs and one scan with it; ``group lag`` and
    ``group offsets --read-committed`` scan the parse twice without it."""
    if args.fn is cmd_group:
        return args.view in ("metadata", "rewinds") or (args.view == "offsets" and not args.read_committed)
    return args.fn is cmd_route


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    from .pipeline import Pipeline

    args = build_parser().parse_args(argv)
    if spark is None:
        from .session import get_spark

        spark = get_spark(app_name="klog-spark-cli")
    p = Pipeline(spark, args.input)
    parse = p.parsed_raw() if _scans_parse_once(args) else p.parsed_raw().persist()
    try:
        return args.fn(p, args)
    finally:
        parse.unpersist()


if __name__ == "__main__":
    sys.exit(main())
