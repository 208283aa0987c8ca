"""Session-level performance invariants of ``klog_spark.session.get_spark``."""

import json
import subprocess
import sys
from pathlib import Path

#: Two passes over the staged query surface in a fresh JVM, so the first
#: pass starts from an empty generated-class cache. Prints the compile
#: count of each pass as one JSON list.
TWO_PASSES = """
import json, sys
from klog_spark.pipeline import Pipeline
from klog_spark.session import compiled_classes, get_spark

spark = get_spark(app_name="klog-spark-codegen-cache", master="local[2]",
                  shuffle_partitions=2, extra_conf={"spark.driver.memory": "1g"})
p = Pipeline(spark, sys.argv[1]).stage(sys.argv[2])


def one_pass():
    before = compiled_classes(spark)
    for df in (p.txn_stats(), p.open_txn_abort_commands(), *p.all_checks().values(),
               p.group_lag(), p.enriched_batches(), p.cat_batches(), p.sink_counts()):
        df.collect()
    return compiled_classes(spark) - before


print(json.dumps([one_pass(), one_pass()]))
spark.stop()
"""


def test_warm_staged_pass_reuses_generated_classes(fixture_dir, tmp_path):
    """The generated-class cache holds the staged query surface's working
    set: a second pass over the same staged table runs the same plans, so it
    compiles at most a tenth of the classes the cold first pass compiled. A
    cache smaller than the working set thrashes and recompiles about as many
    classes on every pass."""
    repo = Path(__file__).resolve().parent.parent
    done = subprocess.run(
        [sys.executable, "-c", TWO_PASSES, fixture_dir, str(tmp_path / "staged")],
        cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    (counts,) = [ln for ln in done.stdout.splitlines() if ln.startswith("[")]
    first, second = json.loads(counts)
    print(f"generated classes compiled: first pass {first}, second pass {second}")
    assert first > 0
    assert second <= first / 10, f"first pass compiled {first} classes, second pass {second}"
