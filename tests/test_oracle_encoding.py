"""Oracle encoding-faithfulness (ADVICE round 1): the DuckDB oracles for
doc_fingerprint must agree with the Spark engine on
hostile text — newlines, non-ASCII, surrogate-pair codepoints — not just the
driver tables' ASCII single-line content (whose precondition is asserted
here too)."""

import duckdb
import pandas as pd
from pyspark.sql import functions as F

HOSTILE = [
    (1, "plain ascii text"),
    (2, "line one\nline two\nline three"),
    (3, "accents éàü and umlauts öß"),
    (4, "emoji 🎉 and CJK 漢字 mixed"),
    (5, ""),
    (6, "tab\tand\rcarriage"),
]


def test_driver_documents_are_single_line_ascii():
    """The sf0.01 gate tables satisfy the simple-text precondition (the
    oracles no longer require it, but assert it so a driver-data change is
    noticed)."""
    con = duckdb.connect()
    n = con.execute(
        "SELECT count(*) FROM read_parquet('/root/testdata/sf0.01/documents.parquet') "
        "WHERE regexp_matches(text, '[^\\x20-\\x7e]')"
    ).fetchone()[0]
    assert n == 0


def test_fingerprint_oracle_utf16_faithful(spark):
    from klog_spark.datapipe.textstats import fingerprints
    from klog_spark.entry_queries import SQL_DOC_FINGERPRINT

    docs = spark.createDataFrame(HOSTILE, "doc_id: long, text: string")
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    # Java String.hashCode reference (UTF-16 code units)
    def jhash(s):
        h = 0
        import struct
        units = struct.unpack(f">{len(s.encode('utf-16-be'))//2}H", s.encode("utf-16-be"))
        for u in units:
            h = (h * 31 + u) & 0xFFFFFFFF
        return h - (1 << 32) if h >= (1 << 31) else h
    for i, t in HOSTILE:
        assert got[i] == jhash(t), (i, t)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(HOSTILE, columns=["doc_id", "text"]))
    oracle = dict(con.execute(SQL_DOC_FINGERPRINT).fetchall())
    assert oracle == got


def test_instant_string_matches_java_instant_tostring(spark):
    """Instant.toString drops the fraction on whole seconds and prints a
    3-digit millis group otherwise (Batch.java:113)."""
    from klog_spark.operators.filters import instant_string

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from datetime import datetime, timezone

    def java_instant(ms):  # Instant.toString reference
        base = datetime.fromtimestamp(ms // 1000, tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        return base + (f".{ms % 1000:03d}" if ms % 1000 else "") + "Z"

    cases = [(ms, java_instant(ms)) for ms in (1621429407409, 1621429407000, 1050, 0)]
    assert cases[1][1].endswith(":27Z") and ".050Z" in cases[2][1]
    df = spark.createDataFrame([(ms,) for ms, _ in cases], "ms: long")
    got = [r[0] for r in df.select(instant_string(F.col("ms"))).collect()]
    assert got == [s for _, s in cases]
