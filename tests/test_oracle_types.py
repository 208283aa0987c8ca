"""Representation-layer gate for the DuckDB oracles (VERDICT r4 #2/#6).

Rounds 3 and 4 shipped driver rows that were rows+schema green but hash red
while the local gate passed: the oracles' uncast ``SUM(...) OVER`` windows
surfaced as DuckDB HUGEINT — ``decimal128(38,0)`` under an Arrow/pandas
fetch (what the driver uses), silently laundered to Python ``int`` by the
``fetchall()`` path the local gate used. These tests pin the fix at the type
level so the gap can never reopen:

1. ``lint_arrow_schema`` must flag an uncast integer ``SUM OVER`` (the exact
   r3/r4 bug) and pass its ``CAST(... AS BIGINT)`` form — a regression test
   for the lint itself.
2. Every registered oracle (driver 50 + extras) must produce an Arrow output
   schema with no decimal / unsigned / float16 column.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from check_queries import (  # noqa: E402
    SF_DIR,
    driver_canon_check,
    lint_arrow_schema,
    lint_spark_schema,
)

import __spark_entry__ as entry  # noqa: E402


def test_lint_catches_uncast_sum_over():
    """The exact r3/r4 driver-red mechanism must fail the lint; the cast
    form must pass."""
    con = duckdb.connect()
    uncast = con.execute(
        "SELECT SUM(x) OVER () AS s FROM (VALUES (1::BIGINT)) t(x)"
    ).arrow()
    viol = lint_arrow_schema(uncast.schema)
    assert viol and "decimal128(38, 0)" in viol[0], viol
    cast = con.execute(
        "SELECT CAST(SUM(x) OVER () AS BIGINT) AS s FROM (VALUES (1::BIGINT)) t(x)"
    ).arrow()
    assert lint_arrow_schema(cast.schema) == []
    # plain (non-window) SUM has the same HUGEINT surface
    plain = con.execute("SELECT SUM(x) AS s FROM (VALUES (1::BIGINT)) t(x)").arrow()
    assert lint_arrow_schema(plain.schema), "plain SUM(BIGINT) must lint too"


def test_all_oracle_arrow_schemas_lint_clean():
    """Driver-proof sweep: no registered oracle (driver 50 + extras) may
    expose a decimal/unsigned/float16 column under Arrow fetch."""
    from klog_spark.entry_queries import ORACLE_SF, ensure_fixture

    ensure_fixture(ORACLE_SF)  # klog oracles read the sf0.01 fixture files
    con = duckdb.connect()
    oss = {**entry.oracle_sql(), **entry.extra_oracle_sql()}
    bad = {}
    for name, sql in oss.items():
        schema = con.execute(sql).arrow().schema
        viol = lint_arrow_schema(schema)
        if viol:
            bad[name] = viol
    assert not bad, bad


def test_spark_lint_rejects_nested_output(spark):
    """Spark-side twin of the oracle lint (VERDICT r7 #1/#2): an
    array-emitting query fed to the gate must be rejected BEFORE any
    value comparison — the driver's pandas canonicalizer cannot hash it
    (CORRECTNESS_r07 hashed_embeddings, ``unhashable type: 'list'``)."""
    arr = spark.createDataFrame(
        [(1, [0.1, 0.2])], "doc_id long, embedding array<double>"
    )
    viol = lint_spark_schema(arr.schema)
    assert viol and "embedding" in viol[0] and "array<double>" in viol[0], viol

    st = spark.createDataFrame([(1, (2, 3))], "id long, s struct<a:long,b:long>")
    assert lint_spark_schema(st.schema), "struct output must lint"
    mp = spark.createDataFrame([(1, {"k": 2})], "id long, m map<string,long>")
    assert lint_spark_schema(mp.schema), "map output must lint"

    flat = spark.createDataFrame([(1, 0.5, "x")], "id long, v double, s string")
    assert lint_spark_schema(flat.schema) == []


def test_driver_canon_check_replicates_pandas_crash():
    """The gate's second hash path runs the driver's exact canonicalization
    (pandas multi-column sort_values -> factorize). List cells must return
    the driver's error; scalar rows must pass."""
    err = driver_canon_check([(1, [0.1]), (2, [0.2])], ["id", "emb"])
    assert err is not None and "unhashable" in err, err
    assert driver_canon_check([(1, 0.1), (2, 0.2)], ["id", "v"]) is None


def test_all_driver_row_spark_schemas_flat(spark):
    """No registered DRIVER row may emit a nested-type column. Schemas are
    resolved lazily (analysis only, no job) so the sweep stays cheap; the
    full-execution path is covered by tools/check_queries.py."""
    bad = {}
    for name, q in entry.queries().items():
        viol = lint_spark_schema(q(spark, SF_DIR).schema)
        if viol:
            bad[name] = viol
    assert not bad, bad
