"""klog-spark benchmark: the parse -> route -> aggregate pipeline under two
workloads, every output checked against the DuckDB text oracle.

    python3 perfbench/run.py --workload ingest_route --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout: it imports ``klog_spark`` from there and
keeps everything it writes under ``perfbench/`` (``.cache/`` holds the seeded
fixture, the oracle's expected outputs and the spans of traced runs;
``.work/`` holds the run's scratch files and is removed at exit). Spark runs
at ``local[<cores available>]``.

``--trace 0`` prints the end-to-end metrics, measured with tracing off;
``--trace 1`` prints the per-layer metrics of a separate traced run (spans
around every call into a layer, Spark's event log attributed to them), and
the tracing overhead. A layer the workload does not exercise reads 0.
``--perturb-oracle`` is the negative control: one expected value is
changed, so the run must report ``correct: false``.

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` operations, and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("ingest_route", "staged_queries")
#: The whole run is abandoned (no result printed) after this long.
WALL_LIMIT_S = 170.0


def _abort() -> None:
    from tracing import _descendants

    print(f"[perfbench] run exceeded {WALL_LIMIT_S:.0f}s; killing it", file=sys.stderr, flush=True)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


E2E_UNITS = {"setup_s": "s", "latency_s_p50": "s", "rows_per_s": "rows/s",
             "sink_files": "count", "sink_mb": "MB", "peak_rss_mb": "MB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb-oracle", action="store_true",
                    help="negative control: change one expected value")
    args = ap.parse_args(argv)
    if not (ROOT / "klog_spark" / "pipeline.py").is_file():
        print(f"[perfbench] no klog_spark package beside {HERE.name}/: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Spark's Python workers import klog_spark whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    sys.path[:0] = [str(ROOT), str(HERE)]

    watchdog = threading.Timer(WALL_LIMIT_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        import workloads as w
        from inputs import Inputs
        from tracing import MemorySampler, stop_spark, wait_children_gone

        inputs = Inputs(HERE / ".cache", w.SF, args.seed, w.INCREMENTS).ensure(
            increments=args.workload == "ingest_route" and args.trace == 1)
        if args.perturb_oracle:
            n, cls = inputs.expected["route_counts"][0].split("|")
            inputs.expected["route_counts"][0] = f"{int(n) + 1}|{cls}"
        ctx = w.Ctx(work, inputs, args.seconds, bool(args.trace), args.seed, len(os.sched_getaffinity(0)),
                    spans_out=HERE / ".cache" / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        with MemorySampler() as mem:
            try:
                e2e = w.WORKLOADS[args.workload](ctx)
            finally:
                if ctx.spark is not None:
                    stop_spark(ctx.spark)
        wait_children_gone()
    finally:
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's scratch is still there
            pass

    e2e["peak_rss_mb"] = mem.peak / w.MB
    w.log(f"{args.workload} seed={args.seed}: wrong_results={ctx.wrong} "
          f"failed_ops={ctx.failed}/{ctx.attempted} "
          + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    if args.trace:
        metrics = {k: {"value": v, "unit": w.PER_LAYER[k]} for k, v in ctx.layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": ctx.wrong == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
