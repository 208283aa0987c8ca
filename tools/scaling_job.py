"""Scaling-protocol job: the full parse -> enrich -> route -> aggregate
pipeline, timed from first action to last (JVM/session startup excluded per
BASELINE.md). Run via spark-submit at two parallelism levels:

    spark-submit --master local[8]  --py-files dist/klog_spark.zip tools/scaling_job.py <sf> [parse_agg|full|write]
    spark-submit --master local[32] --py-files dist/klog_spark.zip tools/scaling_job.py <sf> [parse_agg|full|write]

The mode defaults to ``full``; the routed output goes to a temporary
directory that the job removes.

Prints one JSON line: rows, wall seconds, rows/sec.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    mode = sys.argv[2] if len(sys.argv) > 2 else "full"
    from klog_spark.operators import aggregates
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing

    spark = (
        SparkSession.builder.appName("klog-scaling")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.shuffle.partitions", str(spark_cores()))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from klog_spark.datagen import ensure_fixture

    fx = str(ensure_fixture(sf))
    df = spark.read.parquet(f"{fx}/sequences.parquet")
    # pre-warm the Python worker pool (session-init cost, like JVM startup,
    # excluded per BASELINE.md protocol)
    parse_sequences(df).filter("record_class='header'").count()
    import os as _os
    out = tempfile.mkdtemp(prefix="klog-scaling-",
                           dir="/dev/shm" if _os.path.isdir("/dev/shm") else None)
    try:
        t0 = time.time()
        n = df.count()  # first timed action
        if mode == "parse_agg":
            # scan -> Arrow parse -> single-pass transactional aggregate
            # (the compute kernel: exactly ONE parse, no sink write)
            stats = aggregates.txn_stats(parse_sequences(df)).collect()[0]
            per_epoch = -1
        elif mode == "write":
            # write path in isolation: scan -> parse -> route -> pre-shuffled
            # partitioned sink write (the round-2 write-scaling experiment,
            # pinned as a repeatable mode)
            from klog_spark.operators.route import write_routed

            write_routed(apply_validity_routing(parse_sequences(df)),
                         f"{out}/routed", pre_shuffle=True)
            stats = {"num_committed": -1, "num_aborted": -1}
            per_epoch = -1
        else:
            from klog_spark.operators.route import write_routed

            parsed = apply_validity_routing(parse_sequences(df))
            meta = spark.read.parquet(f"{fx}/producer_meta.parquet")
            enriched = parsed.join(F.broadcast(meta), ["producer_id"], "left")
            # pin the scale plan: a scaling comparison must run the SAME
            # plan at both parallelism levels (the adaptive default would
            # switch plans below PRE_SHUFFLE_MIN_PARALLELISM)
            write_routed(enriched, f"{out}/routed", pre_shuffle=True)
            # aggregates over the routed staging (partition-pruned columnar
            # reads; the Arrow parse ran exactly once, in the write above)
            from klog_spark.operators.route import routed_as_parsed

            routed = spark.read.parquet(f"{out}/routed")
            stats = aggregates.txn_stats(
                routed_as_parsed(routed, classes=["batch", "control_msg"])
            ).collect()[0]
            per_epoch = routed.filter(
                (F.col("record_class") == "batch") & (F.col("producer_id") != -1)
            ).groupBy("producer_id", "producer_epoch").count().count()
        wall = time.time() - t0
        print(json.dumps({
            "master": spark.sparkContext.master,
            "mode": mode,
            "rows": n,
            "wall_s": round(wall, 2),
            "rows_per_sec": round(n / wall, 1),
            "num_committed": stats["num_committed"],
            "num_aborted": stats["num_aborted"],
            "n_sessions": per_epoch,
        }))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


def spark_cores() -> int:
    """Shuffle-partition count = core count, passed by the runner."""
    import os

    return int(os.environ.get("SPARK_SCALING_CORES", "32"))


if __name__ == "__main__":
    main()
