"""Driver contract (PySpark target).

``entry`` runs the flagship parse -> route -> aggregate query (txn-stat).
``queries()`` and ``extra_queries()`` each map a name to a Spark query over
the seeded fixtures; ``oracle_sql()`` and ``extra_oracle_sql()`` map the
same names to an independent DuckDB recomputation (see
klog_spark/entry_queries.py: the Spark side of a klog row consumes only the
tokenized input, its oracle only the text rendition of the same fixture).
``queries()`` holds at most 50 rows, every one with an oracle; the extras
are near-duplicate or subsumed variants under the same contract, run
against their oracles by ``tools/check_queries.py``. Every row is a
``klog_*`` row over the klog pipeline: parse, route, enrich and aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from klog_spark import entry_queries as eq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full txn-stat aggregate over the sf0.001 fixture."""
    return eq.q_txn_stats(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # klog parse -> route -> aggregate surface (SURVEY.md §2)
        "klog_route_counts": eq.q_route_counts,            # S1-S6, X1-X5 routing
        "klog_sink_batches": eq.q_sink_batches,            # S9 batch sink + token equality
        "klog_sink_corrupt": eq.q_sink_corrupt,            # W1/W5-W7 corrupt routing
        "klog_txn_stats": eq.q_txn_stats,                  # A1-A7 + W8 (txn-stat CLI)
        "klog_state_machine_violations": eq.q_state_machine_violations,  # W4 (+ X4 txn-state parse)
        "klog_deep_iteration": eq.q_deep_iteration,        # S4
        "klog_open_txn_abort_cmds": eq.q_open_txn_abort_cmds,    # J2 + S10 workflow (+ A5 open-txn, S7/X5 snapshot parse)
        "klog_enrich_producer_team": eq.q_enrich_producer_team,  # J1 broadcast enrich
        "klog_coordinating_partition": eq.q_coordinating_partition,  # F5 Java hashCode routing
        "klog_cat_render": eq.q_cat_render,                # F6 ANSI display renderer (+ P8 projections, F1 instants)
        # __consumer_offsets decode — BEYOND the reference surface (the
        # reference leaves it a TODO, Segment.java:28)
        "klog_group_offsets": eq.q_sink_group_offsets,
        "klog_group_offsets_read_committed": eq.q_group_offsets_read_committed,
    }


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Near-duplicate / subsumed variants: verified locally against DuckDB on
    every ``tools/check_queries.py`` run, excluded from the driver's 50-row
    gate budget. Each line names the surviving driver row + pytest."""
    return {
        "klog_position_monotonic": eq.q_position_monotonic,      # W2: 0-row on valid fixtures; planted-violation pytest
        "klog_leader_epoch_monotonic": eq.q_leader_epoch_monotonic,  # W3: same
        "klog_cat_leader_epoch": eq.q_cat_leader_epoch,          # P4: same filter helper as cat_pid_epoch row
        "klog_enrich_topic": eq.q_enrich_topic,                  # J1 twin of enrich_producer_team row
        "klog_group_coordinating_partition": eq.q_group_coordinating_partition,  # F5 twin; test_checks.py javahash
        "klog_offset_gaps": eq.q_offset_gaps,                    # W8 detail; count gate-checked in txn_stats row
        "klog_cat_producer_states": eq.q_cat_producer_states,    # projection twin of sink_producer_state row
        "klog_group_metadata": eq.q_group_metadata,              # compaction twin of klog_group_offsets row
        "klog_group_offset_rewinds": eq.q_group_offset_rewinds,  # incident-signal view over the group_offsets row
        "klog_cat_pid_epoch": eq.q_cat_pid_epoch,                # P3/P6 conjunction; P1/P8/F1 keep the cat_pid row
        "klog_abort_cmds": eq.q_abort_cmds,                      # S10+P7; open_txn_abort_cmds keeps the S10 driver row
        "klog_topics_sanity": eq.q_topics_sanity,                # A8 1-row sanity
        # rotated OUT of the driver gate in round 6 (all green in
        # CORRECTNESS_r05; each capability keeps a driver row via the noted
        # subsuming query, plus its pytests)
        "klog_sink_control": eq.q_sink_control,                  # X3: control parse drives txn_stats/abort_cmds rows; route_counts counts the class
        "klog_sink_txn_state": eq.q_sink_txn_state,              # X4: filter_txn_id + state_machine_violations rows parse txn_state
        "klog_sink_producer_state": eq.q_sink_producer_state,    # S7/X5: open_txn_abort_cmds row parses snapshots
        "klog_cat_pid": eq.q_cat_pid,                            # P1/P8/F1: cat_render row renders the same projections + instants
        "klog_open_txns": eq.q_open_txns,                        # A5: txn_stats num_open_txn + open_txn_abort_cmds detail
        "klog_empty_txns": eq.q_empty_txns,                      # A6: txn_stats num_empty_txn
        "klog_first_last_batch": eq.q_first_last_batch,          # A4: file/line_no extremes; pytest parity
        "klog_group_commit_rates": eq.q_group_commit_rates,      # group family keeps 3 driver rows
        # rotated OUT of the driver gate in round 7 (all green in
        # CORRECTNESS_r06; each capability keeps a driver row via the noted
        # subsuming query, plus its pytests)
        "klog_filter_txn_id": eq.q_filter_txn_id,                # P2/P5: state_machine_violations row parses txn_state; CLI predicate pytests
        "klog_batches_per_epoch": eq.q_batches_per_epoch,        # A9: green r1-r6; txn_stats/file_health keep the agg family
        "klog_group_lag": eq.q_group_lag,                        # group family keeps 2 driver rows (offsets, read_committed)
        # rotated OUT of the driver gate in round 8 (green in CORRECTNESS_r07)
        "klog_file_health": eq.q_file_health,                    # W8/corrupt-rate capability kept by klog_txn_stats (num_offset_gaps) + klog_sink_corrupt driver rows
    }


def oracle_sql() -> dict[str, str]:
    # the klog oracle SQL reads the seeded fixture parquet by absolute path;
    # make sure it exists even if the driver evaluates oracle SQL before
    # running the Spark queries (generation is cached + deterministic)
    eq.ensure_fixture(eq.ORACLE_SF, eq.FIXTURE_ROOT)
    return {
        "klog_route_counts": eq.SQL_ROUTE_COUNTS,
        "klog_sink_batches": eq.SQL_SINK_BATCHES,
        "klog_sink_corrupt": eq.SQL_SINK_CORRUPT,
        "klog_txn_stats": eq.SQL_TXN_STATS,
        "klog_state_machine_violations": eq.SQL_STATE_MACHINE.replace(
            "{VALID_PREV}", eq._sql_valid_prev_case()
        ),
        "klog_deep_iteration": eq.SQL_DEEP_ITERATION,
        "klog_open_txn_abort_cmds": eq.SQL_OPEN_TXN_ABORT_CMDS,
        "klog_enrich_producer_team": eq.SQL_ENRICH_PRODUCER_TEAM,
        "klog_coordinating_partition": eq.SQL_COORDINATING_PARTITION,
        "klog_cat_render": eq.SQL_CAT_RENDER,
        "klog_group_offsets": eq.SQL_SINK_GROUP_OFFSETS,
        "klog_group_offsets_read_committed": eq.SQL_GROUP_OFFSETS_READ_COMMITTED,
    }


def extra_oracle_sql() -> dict[str, str]:
    """Oracles for ``extra_queries()`` — same contract, local gate only."""
    return {
        "klog_position_monotonic": eq.SQL_POSITION_MONOTONIC,
        "klog_leader_epoch_monotonic": eq.SQL_LEADER_EPOCH_MONOTONIC,
        "klog_cat_leader_epoch": eq.SQL_CAT_LEADER_EPOCH,
        "klog_enrich_topic": eq.SQL_ENRICH_TOPIC,
        "klog_group_coordinating_partition": eq.SQL_GROUP_COORDINATING_PARTITION,
        "klog_offset_gaps": eq.SQL_OFFSET_GAPS,
        "klog_cat_producer_states": eq.SQL_CAT_PRODUCER_STATES,
        "klog_group_metadata": eq.SQL_GROUP_METADATA,
        "klog_group_offset_rewinds": eq.SQL_GROUP_OFFSET_REWINDS,
        "klog_cat_pid_epoch": eq.SQL_CAT_PID_EPOCH,
        "klog_abort_cmds": eq.SQL_ABORT_CMDS,
        "klog_topics_sanity": eq.SQL_TOPICS_SANITY,
        "klog_sink_control": eq.SQL_SINK_CONTROL,
        "klog_sink_txn_state": eq.SQL_SINK_TXN_STATE,
        "klog_sink_producer_state": eq.SQL_SINK_PRODUCER_STATE,
        "klog_cat_pid": eq.SQL_CAT_PID,
        "klog_open_txns": eq.SQL_OPEN_TXNS,
        "klog_empty_txns": eq.SQL_EMPTY_TXNS,
        "klog_first_last_batch": eq.SQL_FIRST_LAST_BATCH,
        "klog_group_commit_rates": eq.SQL_GROUP_COMMIT_RATES,
        "klog_filter_txn_id": eq.SQL_FILTER_TXN_ID,
        "klog_batches_per_epoch": eq.SQL_BATCHES_PER_EPOCH,
        "klog_group_lag": eq.SQL_GROUP_LAG,
        # rotated OUT of the driver gate in round 8
        "klog_file_health": eq.SQL_FILE_HEALTH,
    }
