"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on Spark, runs the
matching ``oracle_sql()`` through DuckDB (every oracle reads the fixture's
text rendition by path, so no driver table is registered), and compares
row count, column names and an order-insensitive value hash. Usage:
python tools/check_queries.py [name...]

Before its verdict it prints how many generated classes Spark compiled for
the rows it ran: the working set that ``spark.sql.codegen.cache.maxEntries``
in ``klog_spark/session.py`` must exceed.

Oracle results are fetched via DuckDB's **Arrow** surface (``.arrow()``),
not ``fetchall()``: a driver harness that fetches via Arrow/pandas sees
DuckDB's surface types (HUGEINT → decimal128(38,0), which stringifies as
``Decimal``/float), while ``fetchall()`` silently launders them into Python
ints. Rounds 3 and 4 shipped hash-red driver rows that were green locally
for exactly this reason. On top of the Arrow fetch, ``lint_arrow_schema``
REJECTS any oracle whose Arrow output schema contains a type Spark's side
never emits (decimal, unsigned int, float16) — the representation gap is
now a hard local failure, not a driver surprise.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import sys
import time
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"


def _norm(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        # Deliberately NOT normalized to int/float: a Decimal reaching the
        # hash means the oracle leaked a DuckDB surface type (HUGEINT /
        # DECIMAL) that Spark never emits — it must show up as a mismatch,
        # exactly as it would in a driver harness fetching via Arrow.
        return "dec:" + str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _bad_arrow_types(t, path):
    """Recursively collect Arrow types Spark result rows never carry."""
    bad = []
    if pa.types.is_decimal(t) or pa.types.is_unsigned_integer(t) or pa.types.is_float16(t):
        bad.append(f"{path}: {t}")
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        bad += _bad_arrow_types(t.value_type, path + "[]")
    if pa.types.is_struct(t):
        for f in t:
            bad += _bad_arrow_types(f.type, f"{path}.{f.name}")
    if pa.types.is_map(t):
        bad += _bad_arrow_types(t.key_type, path + ".key")
        bad += _bad_arrow_types(t.item_type, path + ".value")
    return bad


def lint_arrow_schema(schema):
    """Return lint violations for an oracle's Arrow output schema.

    DuckDB SUM / SUM OVER on any integer column returns HUGEINT
    (decimal128(38,0) under Arrow); Spark emits int64. Any decimal,
    unsigned-int or float16 column in an oracle's Arrow output WILL
    hash-diverge in an Arrow-fetching driver even when values and row
    counts agree — fail it here, with the fix in the message.
    """
    bad = []
    for f in schema:
        bad += _bad_arrow_types(f.type, f.name)
    return [f"{b} — CAST(... AS BIGINT/DOUBLE) in the oracle SQL" for b in bad]


def lint_spark_schema(schema):
    """Return lint violations for a SPARK result schema.

    The driver canonicalizes the Spark result with pandas
    ``sort_values`` over all columns, which factorizes object columns and
    raises ``TypeError: unhashable type`` on list/dict values — so any
    ArrayType/MapType/StructType column ships a guaranteed-red driver row
    even when this gate's tuple-based hash is green (CORRECTNESS_r07
    ``hashed_embeddings``). Nested types in a gated Spark output are a hard
    local failure; flatten them (posexplode arrays, star-expand structs).
    """
    from pyspark.sql import types as T

    bad = []
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            bad.append(
                f"{f.name}: {f.dataType.simpleString()} — driver pandas canonicalizer "
                "cannot hash nested values; posexplode/flatten to scalar columns"
            )
    return bad


def driver_canon_check(rows, cols):
    """Replicate the driver's pandas canonicalization on the Spark result.

    The driver loads the result into pandas and ``sort_values`` over all
    columns before hashing; multi-column sorts factorize object columns,
    which hash every value. Run the exact same operation here so anything
    the driver would crash on crashes the local gate first. Returns an
    error string, or None if the driver-style canonicalization succeeds.
    """
    import pandas as pd

    try:
        pdf = pd.DataFrame(rows, columns=cols)
        pdf.sort_values(by=sorted(cols), kind="mergesort", ignore_index=True)
    except Exception as e:  # noqa: BLE001 — any crash here is a driver crash
        return f"{type(e).__name__}: {e}"
    return None


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(names=None):
    import __spark_entry__ as entry
    from klog_spark.session import compiled_classes, get_spark

    # KLOG_CHECK_TZ: run the whole gate under a hostile session timezone to
    # prove every query is TZ-independent (the driver's harness makes no TZ
    # promise; VERDICT r3 #1/#2). Default stays UTC.
    extra = {}
    tz = os.environ.get("KLOG_CHECK_TZ")
    if tz:
        extra["spark.sql.session.timeZone"] = tz
        print(f"  [session timeZone pinned to {tz}]")
    spark = get_spark(
        app_name="check-queries", master="local[8]", shuffle_partitions=8, extra_conf=extra
    )
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)
    con = duckdb.connect()

    # driver-gate registry + the locally-verified extras: the
    # local gate always checks the FULL surface
    qs = {**entry.queries(), **entry.extra_queries()}
    oss = {**entry.oracle_sql(), **entry.extra_oracle_sql()}

    selected = names or list(qs)
    failures = []
    compiled_before = compiled_classes(spark)
    for name in selected:
        if name not in oss:
            print(f"  {name:36s} NO ORACLE")
            failures.append(name)
            continue
        t0 = time.time()
        sdf = qs[name](spark, SF_DIR)
        slint = lint_spark_schema(sdf.schema)
        if slint:
            print(f"  {name:36s} SPARK TYPE LINT: " + "; ".join(slint))
            failures.append(name)
            continue
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        canon_err = driver_canon_check(srows, scols)
        if canon_err:
            print(f"  {name:36s} DRIVER CANON FAIL: {canon_err}")
            failures.append(name)
            continue
        try:
            tbl = con.execute(oss[name]).arrow()
            ocols = list(tbl.schema.names)
            lint = lint_arrow_schema(tbl.schema)
            if lint:
                print(f"  {name:36s} ORACLE TYPE LINT: " + "; ".join(lint))
                failures.append(name)
                continue
            cols_py = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            orows = list(zip(*cols_py)) if cols_py else [() for _ in range(tbl.num_rows)]
        except Exception as e:  # noqa: BLE001
            print(f"  {name:36s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(orows)
        ok_schema = sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
        ok_hash = ok_schema and value_hash(srows, [c.lower() for c in scols]) == value_hash(
            orows, [c.lower() for c in ocols]
        )
        flag = "OK " if (ok_count and ok_schema and ok_hash) else "FAIL"
        if flag == "FAIL":
            failures.append(name)
        print(
            f"  {name:36s} {flag} rows={len(srows)}/{len(orows)} schema={ok_schema} hash={ok_hash} {time.time()-t0:5.1f}s"
        )
        if not ok_schema:
            print(f"      spark cols: {sorted(scols)}\n      duck cols:  {sorted(ocols)}")
        elif not ok_hash and ok_count:
            order = sorted(range(len(scols)), key=lambda i: scols[i].lower())
            sset = sorted("|".join(_norm(r[i]) for i in order) for r in srows)
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i].lower())
            oset = sorted("|".join(_norm(r[i]) for i in oorder) for r in orows)
            diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            for a, b in diffs:
                print(f"      spark: {a[:160]}\n      duck:  {b[:160]}")
    print(f"  generated classes compiled: {compiled_classes(spark) - compiled_before}"
          f" over {len(selected)} rows")
    print(("FAILURES: " + ", ".join(failures)) if failures else "ALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
