"""The whole analysis surface as Spark SQL views.

``register_views(spark, input_path)`` publishes the engine as a set of
temp views so an analyst can work purely in ``spark.sql`` — the
Spark-idiomatic twin of the CLI:

base tables (lazily parsed, Catalyst prunes/pushes through them):
  <p>_parsed, <p>_batches, <p>_data_msgs, <p>_control_msgs, <p>_txn_state,
  <p>_producer_states, <p>_offset_commits, <p>_group_metadata, <p>_corrupt
analytic views:
  <p>_txn_stats, <p>_open_txns, <p>_empty_txns, <p>_offset_gaps,
  <p>_batches_per_epoch, <p>_state_machine_violations, <p>_group_offsets,
  <p>_group_offsets_read_committed, <p>_group_lag, <p>_group_metadata_latest,
  <p>_group_offset_rewinds, <p>_file_health

Views are DataFrame-backed (createOrReplaceTempView), so every SQL query
plans through the same operators the API uses — one parse, partition
pruning, broadcast joins and windows included. ``input_path`` is any input a
``Pipeline`` reads (a fixture directory, tokenized parquet or dump-text
files); every view derives from that Pipeline's one parse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.route import project_sink

_CLASS_VIEWS = {
    "batches": "batch",
    "data_msgs": "data_msg",
    "control_msgs": "control_msg",
    "txn_state": "txn_state",
    "producer_states": "producer_state",
    "offset_commits": "offset_commit",
    "group_metadata": "group_metadata",
    "corrupt": "corrupt",
}


def register_views(spark: SparkSession, input_path: str, prefix: str = "klog") -> list[str]:
    """Register the view surface; returns the list of view names."""
    from .operators import aggregates, checks, group_offsets
    from .pipeline import Pipeline

    p = Pipeline(spark, str(input_path))
    parsed = p.parsed_raw()  # raw: txn aggregates consume this
    routed = p.parsed()      # sink view: corrupt re-routed

    views: dict[str, DataFrame] = {"parsed": routed}
    for view, cls in _CLASS_VIEWS.items():
        views[view] = project_sink(routed, cls)

    views.update(
        {
            "txn_stats": aggregates.txn_stats(parsed),
            "open_txns": aggregates.open_txns(parsed),
            "empty_txns": aggregates.empty_txns(parsed),
            "offset_gaps": aggregates.offset_gaps(parsed),
            "batches_per_epoch": aggregates.batches_per_epoch(parsed),
            "state_machine_violations": checks.state_machine_violations(parsed),
            "group_offsets": group_offsets.latest_group_offsets(routed),
            "group_offsets_read_committed": group_offsets.read_committed_group_offsets(routed),
            "group_lag": group_offsets.group_lag(routed),
            "group_metadata_latest": group_offsets.latest_group_metadata(routed),
            "group_offset_rewinds": group_offsets.offset_rewinds(routed),
            "file_health": aggregates.file_health(parsed, routed),
        }
    )
    names = []
    for view, df in views.items():
        name = f"{prefix}_{view}"
        df.createOrReplaceTempView(name)
        names.append(name)
    return names

