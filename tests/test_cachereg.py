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


def test_operators_register_their_caches(spark):
    """The contamination scan's shingle table leaves ZERO persisted blocks
    behind once release_tracked runs — the long-lived-session leak the
    advice flagged."""
    from pyspark.sql import functions as F

    from klog_spark.datapipe.dedup import contamination_report

    docs = spark.createDataFrame(
        [(i, f"some words {i} repeat words here", "web") for i in range(40)],
        "doc_id long, text string, source string",
    )
    def n_cached():
        sc = spark.sparkContext._jsc.sc()
        return sum(1 for r in sc.getRDDStorageInfo() if r.numCachedPartitions() > 0)

    release_tracked(blocking=True)
    baseline = n_cached()  # session fixtures legitimately cache the parsed fixture
    split = docs.select("doc_id", F.when(F.col("doc_id") % 4 == 0, "test")
                        .otherwise("train").alias("split"))
    contamination_report(docs, split, n=2).count()
    assert len(_TRACKED) >= 1
    assert n_cached() > baseline, "operators should have cached intermediates"
    release_tracked(blocking=True)
    assert _TRACKED == []
    assert n_cached() == baseline, "every operator-owned cache must release"
