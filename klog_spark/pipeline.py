"""End-to-end parse -> enrich -> route -> aggregate orchestration.

One ``Pipeline`` run is the distributed equivalent of every klog CLI
invocation at once (segment cat / txn-stat / snapshot cat / abort-cmd —
segment/cli/Cat.java:71-90, TxnStat.java:64-104, snapshot/cli/*):
the input table is parsed once, routed once, and every aggregate/report is
a query over the routed result.

``Pipeline`` is the one place that loads and parses input: the CLI
(``__main__``), the SQL views (``sql.register_views``) and the query rows
of ``entry_queries`` all build on it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import aggregates, checks, enrich, filters
from .operators.route import apply_validity_routing, read_routed, routed_as_parsed, sink_counts
from .sources.dump_files import read_input


@dataclass
class Pipeline:
    """``fixture_dir`` is any input ``sources.dump_files.read_input``
    accepts: a fixture directory, tokenized parquet, or a directory/glob of
    dump-text files. ``staging_dir`` is the parse-once switch: after
    :meth:`stage` (or with a pre-existing routed table) every query reads
    the partitioned staging parquet — partition-pruned per sink class, zero
    re-parses — instead of re-running the Arrow parse per query. At 100 TB
    the parse is the dominant cost; the product API must pay it once.

    A Pipeline builds each plan once. Its one memo maps the source
    ``(fixture_dir, staging_dir)`` to every view and query plan built over
    it, and is dropped when either path changes or :meth:`stage` rewrites
    the table. Building a plan costs py4j round trips, about 2,400 for one
    pass of the staged queries; a memoized plan costs none.

    - The base views return the memoized object itself: :meth:`parsed_raw`
      (unstaged, the one raw parse of the input; staged, the table read back
      by ``routed_as_parsed``), :meth:`parsed`, :meth:`topic_meta`,
      :meth:`producer_meta` and the staged per-class raw views. A caller's
      ``persist()`` on one of them therefore serves every plan built over
      it; the CLI persists :meth:`parsed_raw` for its call.
    - The query methods return a fresh Dataset over their memoized plan,
      one per source and argument tuple: ``plan.select("*")`` has its own
      QueryExecution, so each call re-optimises, re-plans and re-executes
      with fresh shuffles, and no result of an earlier call is reused. The
      optimiser removes the no-op ``Project``, so the executed plan is the
      plan's own. :meth:`all_checks` wraps each of its values this way."""

    spark: SparkSession
    fixture_dir: str
    staging_dir: str | None = None
    #: {(fixture_dir, staging_dir): {plan key: the plan built for it}},
    #: holding at most the current source
    _memo: dict[tuple[str, str | None], dict[tuple, object]] = field(
        default_factory=dict, init=False, repr=False)

    def input_df(self) -> DataFrame:
        return read_input(self.spark, self.fixture_dir)

    def stage(self, out_dir: str) -> "Pipeline":
        """Parse + route ONCE into a partitioned staging table; further
        queries on the returned Pipeline are parse-free. Always stages the
        input, never an earlier staging table."""
        from .operators.route import write_routed

        write_routed(apply_validity_routing(self._input_parse()), out_dir)
        self.staging_dir, self._memo = out_dir, {}
        return self

    def _plan(self, key: tuple, build):
        """The object built by ``build`` for ``key`` over the current
        source, built on first use."""
        source = (self.fixture_dir, self.staging_dir)
        if source not in self._memo:
            self._memo = {source: {}}
        plans = self._memo[source]
        if key not in plans:
            plans[key] = build()
        return plans[key]

    def _query(self, key: tuple, build) -> DataFrame:
        return self._plan(key, build).select("*")

    def _input_parse(self) -> DataFrame:
        from .operators.parse import parse_sequences

        return self._plan(("parse",), lambda: parse_sequences(self.input_df()))

    def _staged_read(self) -> DataFrame:
        return self._plan(("staged",), lambda: read_routed(self.spark, self.staging_dir))

    def _meta_table(self, name: str) -> DataFrame:
        return self._plan(("meta", name), lambda: self.spark.read.parquet(
            str(Path(self.fixture_dir) / f"{name}.parquet")))

    def topic_meta(self) -> DataFrame:
        return self._meta_table("topic_meta")

    def producer_meta(self) -> DataFrame:
        return self._meta_table("producer_meta")

    def parsed(self) -> DataFrame:
        """Parse + validity routing (no materialization — callers compose).

        This is the SINK view: CRC-invalid / invariant-violating rows are
        re-classed corrupt. Transactional aggregates must NOT consume it —
        use :meth:`parsed_raw` (klog's currentBatch cursor points at invalid
        batches too; their control messages are then dropped, not
        re-attached to an earlier valid batch).
        """
        if self.staging_dir:
            return self._staged_read()
        return self._plan(("routed",), lambda: apply_validity_routing(self._raw()))

    def parsed_raw(self) -> DataFrame:
        """Pre-routing parse for the transactional aggregates (the view
        TransactionalInfoCollector.java:61 folds over). From a staging table
        this is reconstructed exactly by ``routed_as_parsed``."""
        return self._raw()

    def _raw(self, *classes: str) -> DataFrame:
        """The raw view; from a staging table, pruned to ``classes`` (all
        classes when none are named). Unstaged, the one parse of the input."""
        if self.staging_dir:
            return self._plan(("raw", classes), lambda: routed_as_parsed(
                self._staged_read(), list(classes) if classes else None))
        return self._input_parse()

    # --- the reference's query surface -------------------------------------
    def txn_stats(self, **flt) -> DataFrame:
        return self._query(("txn_stats", *sorted(flt.items())), lambda: aggregates.txn_stats(
            self._raw("batch", "control_msg"), **flt))

    def cat_batches(self, **flt) -> DataFrame:
        return self._query(("cat_batches", *sorted(flt.items())),
                           lambda: filters.cat_batches(self.parsed(), **flt))

    def cat_producer_states(self, **flt) -> DataFrame:
        return self._query(("cat_producer_states", *sorted(flt.items())),
                           lambda: filters.cat_producer_states(self.parsed(), **flt))

    def abort_commands(self, pid: int, producer_epoch: int) -> DataFrame:
        return self._query(("abort_commands", pid, producer_epoch),
                           lambda: enrich.abort_commands_for(self.parsed(), pid, producer_epoch))

    def open_txn_abort_commands(self, **flt) -> DataFrame:
        return self._query(("open_txn_abort_commands", *sorted(flt.items())),
                           lambda: enrich.open_txn_abort_commands(
                               self._raw("batch", "control_msg", "producer_state"), **flt))

    def sink_counts(self) -> DataFrame:
        return self._query(("sink_counts",), lambda: sink_counts(self.parsed()))

    def group_offsets(self) -> DataFrame:
        """Compacted latest offset-commit per (group, topic, partition) —
        the __consumer_offsets surface the reference leaves a TODO."""
        from .operators.group_offsets import latest_group_offsets

        return self._query(("group_offsets",), lambda: latest_group_offsets(self.parsed()))

    def group_lag(self) -> DataFrame:
        from .operators.group_offsets import group_lag

        return self._query(("group_lag",), lambda: group_lag(self.parsed()))

    def group_metadata(self) -> DataFrame:
        from .operators.group_offsets import latest_group_metadata

        return self._query(("group_metadata",), lambda: latest_group_metadata(self.parsed()))

    def enriched_batches(self) -> DataFrame:
        def build():
            df = self.parsed().filter(F.col("record_class") == "batch")
            df = enrich.enrich_with_topic_meta(df, self.topic_meta())
            return enrich.enrich_with_producer_meta(df, self.producer_meta())

        return self._query(("enriched_batches",), build)

    def all_checks(self) -> dict[str, DataFrame]:
        def build():
            batches = self._raw("batch")
            return {
                "offset_gaps": aggregates.offset_gaps(batches),
                "position_monotonic": checks.position_monotonic_violations(batches),
                "leader_epoch_monotonic": checks.leader_epoch_monotonic_violations(batches),
                "state_machine": checks.state_machine_violations(self._raw("txn_state")),
                "batch_message_count": checks.batch_message_count_check(
                    self._raw("batch", *aggregates.MSG_CLASSES)),
            }

        return {name: df.select("*") for name, df in self._plan(("all_checks",), build).items()}
