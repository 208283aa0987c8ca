"""Plan audit: capture `.explain("formatted")` for the flagship queries and
assert the shape we designed for (pushdown, pruning, broadcast joins,
whole-stage codegen, single parse). Writes BENCH/PLANS.md.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    from klog_spark import entry_queries as eq
    from klog_spark.operators import aggregates
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", master="local[8]", shuffle_partitions=8)
    fx = eq.klog_fixture(SF_DIR)
    seq = spark.read.parquet(f"{fx}/sequences.parquet")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. parse + class filter: scan feeds ONE MapInArrow, source-derived
    #    columns codegen'd after it
    p = parse_sequences(seq).filter(F.col("record_class") == "batch")
    sections.append((
        "parse + class filter",
        plan_of(p),
        ["MapInArrow", "Scan parquet"],
    ))

    # 2. txn_stats: one file-Exchange feeding the windows, session Exchange,
    #    partial+final aggregates
    t = aggregates.txn_stats(parse_sequences(seq))
    sections.append(("txn_stats (sessionized fold)", plan_of(t), ["Window", "HashAggregate"]))

    # 3. broadcast enrichment
    e = eq.q_enrich_producer_team(spark, SF_DIR)
    sections.append(("broadcast enrich", plan_of(e), ["BroadcastHashJoin"]))

    # 4. staging read with partition pruning: sink filter must reach the scan
    import tempfile

    out = tempfile.mkdtemp()
    from klog_spark.operators.route import apply_validity_routing

    apply_validity_routing(parse_sequences(seq)).write.mode("overwrite").partitionBy(
        "record_class"
    ).parquet(f"{out}/r")
    staged = spark.read.parquet(f"{out}/r").filter(F.col("record_class") == "control_msg")
    pruned_plan = plan_of(staged.select("doc_id", "commit"))
    sections.append(("staging partition pruning", pruned_plan, ["PartitionFilters"]))

    # 8. routed write: pre-shuffle Exchange on (record_class, bucket) so each
    #    task writes ~one sink's file
    import io as _io, contextlib as _ctx

    buf = _io.StringIO()
    wdf = apply_validity_routing(parse_sequences(seq))
    from klog_spark.operators.route import pre_shuffle_for_write

    n = spark.sparkContext.defaultParallelism
    shuffled = pre_shuffle_for_write(wdf, 3 * n)  # the write_routed scheme itself
    with _ctx.redirect_stdout(buf):
        shuffled.explain("simple")
    assert "Exchange hashpartitioning(record_class" in buf.getvalue(), \
        "routed write must pre-shuffle on (record_class, weighted bucket)"

    # 8b. group-offsets lag: the log-end side must broadcast (tiny per-
    #     partition aggregate joined into the compacted commit view)
    gl = eq.q_group_lag(spark, SF_DIR)
    sections.append(("group lag (broadcast log-end)", plan_of(gl), ["BroadcastHashJoin"]))

    # 8c. read-committed offsets: window-only visibility resolution — the
    #     marker attribution must be Window operators (running last() over
    #     DESC order), never a per-row self-join or nested loop
    rc = eq.q_group_offsets_read_committed(spark, SF_DIR)
    rc_plan = plan_of(rc, "simple")
    sections.append(("read-committed group offsets", plan_of(rc), ["Window"]))
    assert "CartesianProduct" not in rc_plan and "BroadcastNestedLoopJoin" not in rc_plan, \
        "read-committed visibility must stay window-based, no all-pairs stage"

    # 9. no input-scaled driver collects: every `.collect()` in the query
    #    registry must be bounded by a `.limit(...)` — driver memory must
    #    never grow with the input
    src = Path("klog_spark/entry_queries.py")
    for i, line in enumerate(src.read_text().splitlines(), 1):
        if ".collect()" in line and ".limit(" not in line:
            raise AssertionError(
                f"{src}:{i} unbounded driver collect: {line.strip()!r} — "
                "cap it with .limit(...)"
            )
    print("driver-collect audit: all collects bounded")

    failures = []
    out_md = ["# Physical plan audit (sf0.01, local[8])\n"]
    for name, plan, must_contain in sections:
        missing = [m for m in must_contain if m not in plan]
        status = "OK" if not missing else f"MISSING {missing}"
        if missing:
            failures.append((name, missing))
        print(f"{name:32s} {status}")
        out_md.append(f"## {name} — {status}\n\n```\n{plan[:4000]}\n```\n")

    # targeted assertions
    # simple mode prints each physical node exactly once -> exact parse count
    txn_tree = plan_of(aggregates.txn_stats(parse_sequences(seq)), "simple")
    n_mapinarrow = txn_tree.count("MapInArrow")
    print(f"txn_stats MapInArrow occurrences: {n_mapinarrow} (parse branches)")
    out_md.append(f"\ntxn_stats MapInArrow occurrences: {n_mapinarrow}\n")
    assert n_mapinarrow == 1, f"txn_stats must parse exactly once, got {n_mapinarrow}"
    assert "CartesianProduct" not in txn_tree and "BroadcastNestedLoopJoin" not in txn_tree
    assert "PushedFilters" in sections[0][1] or "Scan parquet" in sections[0][1]

    Path("BENCH").mkdir(exist_ok=True)
    Path("BENCH/PLANS.md").write_text("\n".join(out_md))
    print("wrote BENCH/PLANS.md")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
