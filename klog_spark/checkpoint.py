"""Checkpointed, resumable runs with per-partition lineage + metrics.

The north rule requires the job to be "resumable from Iceberg
snapshot/offset checkpoints with per-partition lineage and metrics". In an
Iceberg deployment the unit of progress is the snapshot/manifest; in this
sandbox (plain parquet) the equivalent durable unit is the *source dump
file* (`file` column — every input row's lineage already encodes it, klog's
Located file:line provenance). The checkpoint is a JSON manifest of
processed files with per-file row metrics; a resumed run anti-joins the
manifest and processes only new files, making re-runs idempotent.

Writes land in per-sink partition directories keyed by ``(record_class,
run_id)``. Crash idempotency is two-sided: a run that died after its append
but before ``ckpt.commit`` left orphan ``run_id=<id>`` partitions that are
(a) deleted at the start of the next run (its files re-enter processing via
the manifest anti-join) and (b) invisible to :func:`read_routed_committed`,
which prunes to manifest-committed run_ids.
"""

from __future__ import annotations

import json
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .schemas import PARSED_SCHEMA

# The routed sink's schema, read explicitly: a run over empty input writes
# no data files, and schema inference fails on a table without any.
_ROUTED_SCHEMA = StructType([*PARSED_SCHEMA.fields, StructField("run_id", StringType())])


class Checkpoint:
    def __init__(self, ckpt_dir: str | Path):
        self.dir = Path(ckpt_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self.state_path = self.dir / "state.json"

    def load(self) -> dict:
        if self.state_path.exists():
            return json.loads(self.state_path.read_text())
        return {"processed_files": {}, "runs": []}

    def processed_files(self) -> set[str]:
        return set(self.load()["processed_files"])

    def committed_run_ids(self) -> set[str]:
        return {r["run_id"] for r in self.load()["runs"]}

    def commit(self, run_id: str, file_metrics: dict[str, dict], sink_counts: dict[str, int],
               wall_s: float) -> None:
        state = self.load()
        for f, m in file_metrics.items():
            state["processed_files"][f] = {"run_id": run_id, **m}
        state["runs"].append(
            {"run_id": run_id, "ts": time.time(), "wall_s": wall_s,
             "n_files": len(file_metrics), "sink_counts": sink_counts}
        )
        tmp = self.state_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(state, indent=1))
        tmp.replace(self.state_path)  # atomic on POSIX


def drop_uncommitted_runs(routed_path: Path, ckpt: Checkpoint) -> list[str]:
    """Delete orphan ``run_id=<id>`` partition dirs not in the manifest.
    Returns the dropped run_ids. Driver-side filesystem walk over partition
    directories only (O(sinks x runs), never O(rows))."""
    committed = ckpt.committed_run_ids()
    dropped = set()
    if routed_path.exists():
        for rid_dir in routed_path.glob("record_class=*/run_id=*"):
            rid = rid_dir.name.split("=", 1)[1]
            if rid not in committed:
                shutil.rmtree(rid_dir)
                dropped.add(rid)
    return sorted(dropped)


def read_routed_committed(spark: SparkSession, out_dir: str, ckpt: Checkpoint) -> DataFrame:
    """Read the routed sink pruned to manifest-committed run_ids — safe even
    while another (possibly doomed) run is appending."""
    committed = sorted(ckpt.committed_run_ids())
    df = spark.read.schema(_ROUTED_SCHEMA).parquet(str(Path(out_dir) / "routed"))
    return df.filter(F.col("run_id").isin(committed) if committed else F.lit(False))


def run_incremental(spark: SparkSession, input_path: str, out_dir: str,
                    ckpt: Checkpoint) -> dict:
    """Parse + route only files not yet checkpointed; append to sinks.

    Returns the run summary (empty run if everything was processed).
    On a real cluster the anti-join against the manifest is a broadcast
    (the manifest is file-level, tiny relative to row count).
    """
    from .operators.parse import parse_sequences
    from .operators.route import apply_validity_routing

    t0 = time.perf_counter()
    run_id = uuid.uuid4().hex[:12]
    # crash recovery: a previous run that appended but never committed left
    # orphan run_id partitions — delete them BEFORE reprocessing their files,
    # or the rerun would double-count (partition dirs are the durable unit;
    # in Iceberg this is expiring the uncommitted snapshot).
    drop_uncommitted_runs(Path(out_dir) / "routed", ckpt)
    df = spark.read.parquet(input_path)
    done = ckpt.processed_files()
    if done:
        done_df = spark.createDataFrame([(f,) for f in sorted(done)], "file: string")
        # derive file from doc_id JVM-side for the pushable anti-join
        df = df.withColumn("file", F.regexp_extract("doc_id", r"^(.*):[0-9]+$", 1))
        df = df.join(F.broadcast(done_df), "file", "left_anti").drop("file")

    parsed = apply_validity_routing(parse_sequences(df))
    out_path = str(Path(out_dir) / "routed")
    # weighted (record_class, bucket) pre-shuffle — the same scheme as
    # route.write_routed (run_id is constant per call, so it adds no keys)
    from .operators.route import pre_shuffle_for_write

    n = spark.sparkContext.defaultParallelism
    pre_shuffle_for_write(parsed.withColumn("run_id", F.lit(run_id)), 3 * n).write.mode(
        "append"
    ).partitionBy("record_class", "run_id").parquet(out_path)

    routed = spark.read.schema(_ROUTED_SCHEMA).parquet(out_path).filter(F.col("run_id") == run_id)
    per_file = {
        r["file"]: {"n_rows": r["n_rows"], "n_corrupt": r["n_corrupt"]}
        for r in routed.groupBy("file").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("record_class") == "corrupt", 1).otherwise(0)).alias("n_corrupt"),
        ).collect()
    }
    sinks = {r["record_class"]: r["n"] for r in routed.groupBy("record_class").agg(F.count("*").alias("n")).collect()}
    wall = time.perf_counter() - t0
    ckpt.commit(run_id, per_file, sinks, wall)
    return {"run_id": run_id, "n_files": len(per_file), "sink_counts": sinks, "wall_s": wall}
