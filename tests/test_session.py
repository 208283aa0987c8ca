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

#: Builds one staged pass's DataFrames twice in a fresh JVM, without running
#: them, and prints the py4j commands the second build sent. Each build uses
#: a new Pipeline over the staged table, so the second one is a full first
#: build too, not a hit in the first one's memo. Memory commands (``m``,
#: py4j's garbage-collection traffic) vary from run to run and are not
#: counted.
BUILD_COMMANDS = """
import json, sys
import py4j.clientserver
from klog_spark.pipeline import Pipeline
from klog_spark.session import get_spark

spark = get_spark(app_name="klog-spark-build-cost", master="local[2]",
                  shuffle_partitions=2, extra_conf={"spark.driver.memory": "1g"})
Pipeline(spark, sys.argv[1]).stage(sys.argv[2])


def build():
    p = Pipeline(spark, sys.argv[1], staging_dir=sys.argv[2])
    return [p.txn_stats(), p.open_txn_abort_commands(), *p.all_checks().values(),
            p.group_lag(), p.enriched_batches(), p.cat_batches(), p.sink_counts()]


conn = py4j.clientserver.ClientServerConnection
send, sent = conn.send_command, []


def counting(self, command, *args, **kwargs):
    if not command.startswith("m\\n"):
        sent.append(command)
    return send(self, command, *args, **kwargs)


build()
conn.send_command = counting
build()
conn.send_command = send
print(json.dumps({"commands": len(sent),
                  "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")}))
spark.stop()
"""


def _run_fresh(script: str, *args: str) -> str:
    """Run ``script`` in a new Python process (so a new JVM) from the repo
    root; returns its stdout."""
    repo = Path(__file__).resolve().parent.parent
    done = subprocess.run([sys.executable, "-c", script, *args],
                          cwd=repo, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    return done.stdout


def test_warm_staged_pass_reuses_generated_classes(fixture_dir, tmp_path):
    """The generated-class cache holds the staged query surface's working
    set: a second pass over the same staged table runs the same plans, so it
    compiles at most a tenth of the classes the cold first pass compiled. A
    cache smaller than the working set thrashes and recompiles about as many
    classes on every pass."""
    out = _run_fresh(TWO_PASSES, fixture_dir, str(tmp_path / "staged"))
    (counts,) = [ln for ln in out.splitlines() if ln.startswith("[")]
    first, second = json.loads(counts)
    print(f"generated classes compiled: first pass {first}, second pass {second}")
    assert first > 0
    assert second <= first / 10, f"first pass compiled {first} classes, second pass {second}"


def test_staged_pass_builds_in_few_py4j_commands(fixture_dir, tmp_path):
    """Building a staged pass's plans costs py4j round trips, not data: the
    session turns off per-call call-site capture (about five round trips per
    ``functions.*`` / ``Column`` call) and a Pipeline builds its staged
    views and meta tables once. A full build of the seven staged queries
    sent 9,148 commands with both costs in place and 2,441 without them; a
    repeated call on one Pipeline reuses its plans
    (``tests/test_pipeline.py``)."""
    out = _run_fresh(BUILD_COMMANDS, fixture_dir, str(tmp_path / "staged"))
    (line,) = [ln for ln in out.splitlines() if ln.startswith("{")]
    got = json.loads(line)
    print(f"py4j commands to build one staged pass: {got['commands']}")
    assert got["debugging"] == "false"
    assert got["commands"] <= 4000, got
