"""Scaling-protocol job: the full parse -> enrich -> route -> aggregate
pipeline, timed from first action to last (JVM/session startup excluded per
BASELINE.md). Run via spark-submit at two parallelism levels:

    spark-submit --master local[8]  --py-files dist/klog_spark.zip tools/scaling_job.py <sf> <out>
    spark-submit --master local[32] --py-files dist/klog_spark.zip tools/scaling_job.py <sf> <out>

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
    if mode == "novelty":
        run_novelty(spark, sf)
        return
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


def run_novelty(spark: SparkSession, sf: float) -> None:
    """Packed-Bloom novelty-screen scaling mode (round 8): the zero-Exchange
    admission-control kernel — reference shingles packed into a broadcast
    bitmap OUTSIDE the timed window (the index role, like the fixture),
    then the timed job is scan -> per-doc k-probe Arrow kernel -> one
    scalar aggregate. This is the firehose-rate component of the dedup
    family (the screen every arriving document passes at 100 TB); with no
    shuffle in the timed plan it should scale at the VM's pure-compute
    ceiling.

    Sanity across levels: num_committed = sum(n_novel),
    num_aborted = count(novelty_ppm = 0) (the planted republications).
    """
    import os as _os

    from klog_spark.datapipe.dedup import (bloom_pack, ngram_novelty_packed,
                                           shingle_bloom_bits)

    n_docs = max(1000, int(100_000 * sf))
    m, k = 1 << 24, 4
    out = tempfile.mkdtemp(prefix="klog-scaling-novelty-",
                           dir="/dev/shm" if _os.path.isdir("/dev/shm") else None)
    try:
        words = F.transform(
            F.sequence(F.lit(0), F.lit(79)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("doc_id") * F.lit(997) + i), F.lit(4000)),
            ),
        )
        base = spark.range(n_docs).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
        )
        base.repartition(4 * spark_cores()).write.mode("overwrite") \
            .parquet(f"{out}/docs")
        docs = spark.read.parquet(f"{out}/docs")
        # reference = every 10th doc; bitmap built OUTSIDE the timed window
        bitmap = bloom_pack(
            shingle_bloom_bits(docs.filter(F.col("doc_id") % 10 == 0),
                               m=m, k=k, n=3, hash_fn="xxhash64"),
            m=m,
        )
        docs.limit(16).collect()  # pre-warm (session-init, excluded)

        t0 = time.time()
        n = docs.count()  # first timed action
        scr = ngram_novelty_packed(docs, bitmap, m=m, k=k, n=3,
                                   hash_fn="xxhash64")
        row = scr.agg(
            F.sum("n_novel").cast("long").alias("nn"),
            F.sum((F.col("novelty_ppm") == 0).cast("int")).cast("long").alias("nz"),
        ).collect()[0]
        wall = time.time() - t0
        print(json.dumps({
            "master": spark.sparkContext.master,
            "mode": "novelty",
            "rows": n,
            "wall_s": round(wall, 2),
            "rows_per_sec": round(n / wall, 1),
            "num_committed": row["nn"],
            "num_aborted": row["nz"],
            "n_sessions": -1,
        }))
    finally:
        shutil.rmtree(out, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
