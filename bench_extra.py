"""Per-query isolation bench (guide §1.4): times a SELECTED subset of the
bench.py query set with noop sinks, so an optimization can be A/B'd in
minutes instead of a full 3-run suite. Same session factory and fixture
as bench.py; NOT a replacement for it — the driver's numbers come from the
frozen bench.py.

Usage:
  SPARK_GRAFT_SF_DIR=... python bench_extra.py [runs] [name ...]
With no names, runs every query. Prints one JSON line {name: best_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    only = set(sys.argv[2:])

    from pyspark.sql import functions as F

    from klog_spark import entry_queries as eq
    from klog_spark.operators import aggregates, checks
    from klog_spark.operators.enrich import enrich_with_producer_meta
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import (apply_validity_routing,
                                            routed_as_parsed, write_routed)
    from klog_spark.session import get_spark

    spark = get_spark(app_name="klog-bench-extra")
    fx = eq.klog_fixture(sf_dir)
    seq = spark.read.parquet(f"{fx}/sequences.parquet")
    meta = spark.read.parquet(f"{fx}/producer_meta.parquet")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    import shutil
    import tempfile
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out_dir = tempfile.mkdtemp(prefix="klog-bx-", dir=shm)
    routed_dir = f"{out_dir}/routed"
    staged_holder = {}

    def _staged():
        if "df" not in staged_holder:
            write_routed(apply_validity_routing(parse_sequences(seq)), routed_dir)
            staged_holder["df"] = spark.read.parquet(routed_dir)
        return staged_holder["df"]

    jobs = {
        "klog_parse_only": lambda: noop(parse_sequences(seq)),
        "klog_parse_route": lambda: parse_sequences(seq).groupBy("record_class").count().collect(),
        "klog_routed_write": lambda: write_routed(
            apply_validity_routing(parse_sequences(seq)), f"{out_dir}/rw"),
        "klog_txn_stats": lambda: aggregates.txn_stats(
            routed_as_parsed(_staged(), classes=["batch", "control_msg"])).collect(),
        "klog_batches_per_epoch": lambda: aggregates.batches_per_epoch(
            routed_as_parsed(_staged(), classes=["batch"])).count(),
        "klog_enrich_team": lambda: enrich_with_producer_meta(
            _staged().filter(
                (F.col("record_class") == "batch") & (F.col("segment_type") == "data")
                & (F.col("producer_id") != -1)), meta,
        ).groupBy("team").agg(F.count("*").alias("n"),
                              F.countDistinct("producer_id").alias("p")).collect(),
        "klog_state_machine": lambda: checks.state_machine_violations(
            routed_as_parsed(_staged(), classes=["txn_state"])).count(),
    }
    sel = {k: v for k, v in jobs.items() if not only or k in only}

    # warm python workers + parquet cache like bench.py does, and write the
    # staged table here so no timed row pays for the routed write
    parse_sequences(seq).filter("record_class='batch'").count()
    if sel.keys() - {"klog_parse_only", "klog_parse_route", "klog_routed_write"}:
        _staged()

    best: dict[str, float] = {}
    try:
        for r in range(runs):
            for name, fn in sel.items():
                spark.sparkContext.setJobDescription(f"bx:{name}")
                t0 = time.time()
                fn()
                dt = round(time.time() - t0, 3)
                best[name] = min(best.get(name, 1e9), dt)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    print(json.dumps(best))


if __name__ == "__main__":
    main()
