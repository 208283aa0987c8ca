"""Rendering assumption the oracles rest on: the instant renderer prints
what Java's ``Instant.toString`` prints."""

from pyspark.sql import functions as F


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
