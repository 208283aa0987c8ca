"""The routed write as a Structured Streaming file sink.

The reference is strictly batch (files in, stdout out — SURVEY.md §2.8).
What stays here is the one streaming shape the pipeline needs: the
tokenized-sequence table read as a file stream, the same vectorized parse
(``mapInArrow`` is stateless, so it composes with streaming), validity
routing and the routed write's pre-shuffle, into partitioned parquet with a
``_spark_metadata`` commit log. Its unit of progress is the landed input
file, and it runs as one ``availableNow`` trigger: it processes what has
landed and stops.

Only parse -> route -> write streams. Every aggregate stays a batch query
over the committed sink: klog's transactional fold, the parent-batch cursor
and read-committed visibility all need a dump file's lines in order, and
often lines from later files (a control marker after its data), so a stream
that cuts files into micro-batches at arbitrary rows cannot attribute them
exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.parse import parse_sequences
from .operators.route import apply_validity_routing, prepare_routed_write
from .schemas import INPUT_SCHEMA


def read_sequence_stream(spark: SparkSession, input_dir: str,
                         max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def start_routed_sink(stream: DataFrame, out_dir: str, checkpoint_dir: str,
                      write_tasks: int | None = None,
                      pre_shuffle: bool | None = None):
    """Parse, route and write the stream to per-class partition directories
    with exactly-once checkpointing (the streaming face of
    route.write_routed), as one ``availableNow`` run.

    The stream goes through the SAME weighted (record_class, bucket)
    pre-shuffle as the batch write (route.prepare_routed_write — a stateless
    shuffle, so it composes with streaming): without it every micro-batch
    task keeps one open parquet writer per sink class and the sink
    reintroduces tasks x sinks small files at scale (VERDICT r3 #5). File
    count is ~write_tasks per micro-batch."""
    routed = apply_validity_routing(parse_sequences(stream))
    return (
        prepare_routed_write(routed, write_tasks, pre_shuffle)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("record_class")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
