"""The whole analysis surface as Spark SQL views.

``register_views(spark, input)`` publishes the engine as a set of
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
pruning, broadcast joins and windows included. ``input`` is a DataFrame,
a tokenized-parquet path, or a dump-text directory (sources.dump_files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.route import SINK_PROJECTIONS

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


def register_views(spark: SparkSession, input_data, prefix: str = "klog") -> list[str]:
    """Register the view surface; returns the list of view names."""
    from .operators import aggregates, checks, group_offsets
    from .operators.parse import parse_sequences
    from .operators.route import apply_validity_routing

    if isinstance(input_data, DataFrame):
        seq = input_data
    elif str(input_data).endswith(".parquet"):
        seq = spark.read.parquet(str(input_data))
    else:
        import glob
        import os

        p = str(input_data)
        if os.path.isdir(p) and glob.glob(os.path.join(p, "*.parquet")):
            seq = spark.read.parquet(p)
        else:
            from .sources.dump_files import read_dump_files

            seq = read_dump_files(spark, p)

    parsed = parse_sequences(seq)          # raw: txn aggregates consume this
    routed = apply_validity_routing(parsed)  # sink view: corrupt re-routed

    views: dict[str, DataFrame] = {"parsed": routed}
    for view, cls in _CLASS_VIEWS.items():
        df = routed.filter(F.col("record_class") == cls)
        cols = SINK_PROJECTIONS.get(cls)
        views[view] = df.select(*cols) if cols else df

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


def register_corpus_views(spark: SparkSession, docs, prefix: str = "corpus") -> list[str]:
    """The training-data pipeline surface as SQL views over a documents
    table (doc_id, text, ...): quality/LM/PII/repetition scoring, exact-dup
    groups, leakage-safe split, cross-doc repeated spans and the BPE pair
    statistic — so corpus curation, like the klog analysis, is drivable
    from pure ``spark.sql``. DataFrame-backed temp views: filters an
    analyst writes in SQL push down into every underlying plan."""
    from . import entry_queries as eq
    from .datapipe.bpe import symbol_pair_counts
    from .datapipe.dedup import (
        dedup_paragraph_blocks, exact_duplicates, leakage_safe_split,
        repeated_ngram_spans,
    )
    from .datapipe.textstats import (
        chunk_quality_filter, lang_id, quality_scores, redact_pii,
        repetition_scores, unigram_lm_scores,
    )

    if not isinstance(docs, DataFrame):
        docs = spark.read.parquet(str(docs))
    views: dict[str, DataFrame] = {
        "documents": docs,
        "quality": quality_scores(docs),
        "lang": lang_id(docs),
        "lm_scores": unigram_lm_scores(docs),
        "pii": redact_pii(docs),
        "repetition": repetition_scores(docs),
        "exact_dups": exact_duplicates(docs),
        "split": leakage_safe_split(docs),
        "repeated_spans": repeated_ngram_spans(docs),
        "bpe_pairs": symbol_pair_counts(docs),
        # round-7 curation surface
        "block_dedup": dedup_paragraph_blocks(docs),
        "chunk_quality": chunk_quality_filter(
            docs, eq.SCORED_FILTER_WEIGHTS, eq.SCORED_FILTER_STATS,
            max_words=40, overlap=8),
    }
    # round-8: cross-source dup matrix (needs a source column) and the
    # curriculum manifest over the pinned margins
    if "source" in docs.columns:
        from .datapipe.dedup import cross_source_dup_matrix

        views["dup_matrix"] = cross_source_dup_matrix(docs)
    from .datapipe.mixture import curriculum_order
    from .streaming import scored_filter_stream

    views["curriculum"] = curriculum_order(
        scored_filter_stream(docs, eq.SCORED_FILTER_WEIGHTS,
                             eq.SCORED_FILTER_STATS)
        .select("doc_id", "margin_micro"),
        "margin_micro", [-2_000_000, 0, 2_000_000],
    )
    names = []
    for view, df in views.items():
        name = f"{prefix}_{view}"
        df.createOrReplaceTempView(name)
        names.append(name)
    return names
