"""Operator-owned cache lifetime (ADVICE r7): persisted intermediates are
registered with klog_spark.cachereg and released at invocation boundaries;
released plans still recompute correctly."""

from __future__ import annotations

from klog_spark.cachereg import _TRACKED, release_tracked, track


def test_track_and_release(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    track(df.persist())
    df.count()  # materialize the cache
    assert df.storageLevel.useMemory
    n = release_tracked(blocking=True)
    assert n >= 1
    assert not df.storageLevel.useMemory
    assert df.count() == 100  # unpersisted plan recomputes fine
    assert _TRACKED == []
