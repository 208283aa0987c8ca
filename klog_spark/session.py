"""SparkSession factory with scale-oriented defaults.

Configured for correctness-at-scale even though the sandbox runs local[N]:
AQE (runtime re-planning + skew-join splitting), Arrow for every
JVM<->Python crossing, UTC session timezone (klog renders epoch-millis as
``Instant``, i.e. UTC — reference: segment/model/Batch.java:113), and a
shuffle-partition count sized for the local box (on a real cluster leave
``spark.sql.shuffle.partitions`` to AQE's coalescing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "klog-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    real cluster pass ``None`` and let spark-submit provide it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_SET"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        # Runtime re-planning: partition coalescing + skew-join splitting.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow on every Python boundary. Batch size: the r9 IPC study
        # (OPTIMIZATION_r09.md) measured the JVM<->Python boundary cost as
        # per-BATCH overhead, not bytes — a 6.6M-row echo dropped 18.9s ->
        # 6.6s going 20k -> 100k rows/batch. maxBytesPerBatch (Spark 4
        # default 64 MiB) stays as the memory guard for wide rows, so the
        # record cap is safe to raise: whichever limit hits first ends the
        # batch.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
        # Socket buffer for the Python-worker IPC stream (default 64 KiB):
        # fewer, larger writes — measured 18.9s -> 14.1s alone on the echo
        # probe; composes with the batch-size raise.
        "spark.buffer.size": "1048576",
        # klog renders timestamps as java.time.Instant (UTC).
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or int(cpus)),
        # Parquet scans: vectorized reader + aggressive pushdown are defaults,
        # keep them explicit so a misconfigured cluster can't regress them.
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.parquet.enableVectorizedReader": "true",
        # Output codec: zstd halves the staged-table bytes vs snappy
        # (99 vs 183 MB at sf1) at statistically equal write AND read-back
        # time (r9 warm A/B: snappy 8.6s / lz4 7.6s / zstd 8.2s /
        # uncompressed 8.2s writes; scans 0.15-0.19s all) — the guide §6
        # recommendation, and strictly better on real storage at scale.
        "spark.sql.parquet.compression.codec": "zstd",
        # Broadcast threshold: dimension tables (topic/producer meta) are tiny.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Local-mode split sizing: fixture files are tens of MB; the default
        # 4 MB open-cost floor would cap scan parallelism below core count.
        # (On a real cluster with >128 MB files the default heuristics win.)
        "spark.sql.files.openCostInBytes": str(512 * 1024),
        "spark.driver.memory": os.environ.get("KLOG_SPARK_DRIVER_MEM", "8g"),
        # Rename-free output commit (v2): halves the commit syscalls of
        # partitioned sink writes; safe here (no speculative execution).
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # Arrow IPC readers allocate netty DIRECT buffers; the JVM default
        # direct-memory cap throttles high task counts into serial
        # allocation-failure GCs (measured 2.7x on 16-core full-width
        # transfers). Size it explicitly.
        "spark.driver.extraJavaOptions": "-XX:MaxDirectMemorySize=16g",
        # Generated-class cache (an LRU, default 100 entries): it must hold
        # the klog query surface's working set of distinct generated classes,
        # or every warm pass recompiles its plans with Janino. Working set =
        # compiles of one cold pass (``compiled_classes`` below): 163-167
        # for the seven staged queries, 358 for one round of the 36
        # ``klog_*`` rows of ``__spark_entry__``. At 100 entries each warm
        # staged pass recompiled 152-158 of them; at 1000 it compiles none,
        # and staged latency_s_p50 fell 25 % (10 of 10 alternating pairs,
        # 4 vCPU). 1000 is 2.8x the larger set. Re-measure when adding
        # operators: ``tools/check_queries.py`` prints the compiles of the
        # rows it runs, tests/test_session.py those of two staged passes.
        # Static conf: it takes effect only when the JVM starts.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # No Python call-site capture per DataFrame call. With it on, every
        # ``functions.*`` / ``Column`` call makes about five extra py4j round
        # trips (active-session lookup, a conf read, origin set and clear) to
        # record the Python file:line for error messages. Building the seven
        # staged queries of a staged ``Pipeline`` sent 6,381 py4j commands
        # with it and 2,441 without (``txn_stats`` alone: 2,391 and 761).
        # The cost: an ``AnalysisException`` no longer names the Python line
        # that built the failing expression. Static conf, and PySpark caches
        # it per process on first use: set it before the JVM starts.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: one per miss of the
    generated-class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
