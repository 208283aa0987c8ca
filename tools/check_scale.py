"""Above-gate-scale correctness spot-check: run the heavyweight klog queries
at sf0.1 (10x the driver gate) on Spark AND re-derive them in DuckDB from
the text rendition of the same fixture. Same comparison as the gate (row
count + column names + order-insensitive value hash).

Usage: python tools/check_scale.py [sf]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from check_queries import lint_arrow_schema, value_hash  # noqa: E402  (same comparison code)


def main(sf: float = 0.1) -> int:
    from klog_spark import entry_queries as eq
    from klog_spark.datagen import ensure_fixture
    from klog_spark.session import get_spark

    fx = str(ensure_fixture(sf))
    sf_dir = f"/root/testdata/sf{sf:g}"
    spark = get_spark(app_name="check-scale")
    con = duckdb.connect()

    checks = {
        "route_counts": (
            eq.q_route_counts,
            f"WITH {eq.klog_base_cte(fx)} "
            "SELECT record_class, COUNT(*) AS n_rows FROM classified GROUP BY record_class",
        ),
        "txn_stats": (
            eq.q_txn_stats,
            eq.SQL_TXN_STATS.replace(eq.klog_txn_cte(), eq.klog_txn_cte(fx)),
        ),
        "batches_per_epoch": (
            eq.q_batches_per_epoch,
            f"WITH {eq.klog_base_cte(fx)} "
            "SELECT producer_id, producer_epoch, COUNT(*) AS n_batches "
            "FROM batches WHERE segment_type = 'data' AND producer_id <> -1 "
            "GROUP BY producer_id, producer_epoch",
        ),
        "offset_gaps": (
            eq.q_offset_gaps,
            f"WITH {eq.klog_base_cte(fx)}, "
            "g AS (SELECT doc_id, file, line_no, base_offset, "
            "  LAG(last_offset) OVER (PARTITION BY file ORDER BY line_no) AS prev_last_offset "
            "  FROM batches WHERE segment_type = 'data') "
            "SELECT doc_id, file, line_no, base_offset, prev_last_offset "
            "FROM g WHERE prev_last_offset IS NOT NULL AND base_offset <> prev_last_offset + 1",
        ),
        "group_lag": (
            eq.q_group_lag,
            eq.SQL_GROUP_LAG.replace(eq.klog_base_cte(), eq.klog_base_cte(fx)),
        ),
        "group_commit_rates": (
            eq.q_group_commit_rates,
            eq.SQL_GROUP_COMMIT_RATES.replace(eq.klog_base_cte(), eq.klog_base_cte(fx)),
        ),
    }

    failures = []
    for name, (q, sql) in checks.items():
        t0 = time.time()
        sdf = q(spark, sf_dir)
        srows = [tuple(r) for r in sdf.collect()]
        # Arrow fetch + type lint: the same driver-faithful representation
        # path as the sf0.01 gate (tools/check_queries.py)
        tbl = con.execute(sql).arrow()
        lint = lint_arrow_schema(tbl.schema)
        if lint:
            print(f"  sf{sf:g} {name:24s} ORACLE TYPE LINT: " + "; ".join(lint))
            failures.append(name)
            continue
        ocols = list(tbl.schema.names)
        cols_py = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
        orows = list(zip(*cols_py)) if cols_py else []
        ok = (
            len(srows) == len(orows)
            and sorted(c.lower() for c in sdf.columns) == sorted(c.lower() for c in ocols)
            and value_hash(srows, [c.lower() for c in sdf.columns])
            == value_hash(orows, [c.lower() for c in ocols])
        )
        print(f"  sf{sf:g} {name:24s} {'OK ' if ok else 'FAIL'} rows={len(srows)}/{len(orows)} "
              f"{time.time() - t0:5.1f}s")
        if not ok:
            failures.append(name)
    print(("FAILURES: " + ", ".join(failures)) if failures else f"ALL OK at sf{sf:g}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(float(sys.argv[1]) if len(sys.argv) > 1 else 0.1))
