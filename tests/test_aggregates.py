"""Transactional-aggregate parity: distributed window form vs sequential oracle.

This is the hardest correctness surface (SURVEY.md §7): klog's collector is
order-dependent (TransactionalInfoCollector.java:56-113) and its combiner
was never written — these tests prove our partial/final decomposition
reproduces it exactly, including filtered variants.
"""

import statistics

import pytest

from klog_spark import oracle
from klog_spark.operators import aggregates as agg


def _expected(st: oracle.TxnStats) -> dict:
    return dict(
        num_committed=st.num_committed,
        num_aborted=st.num_aborted,
        txn_size_count=len(st.txn_sizes),
        txn_size_sum=sum(st.txn_sizes) if st.txn_sizes else None,
        txn_size_min=min(st.txn_sizes, default=None),
        txn_size_max=max(st.txn_sizes, default=None),
        txn_size_avg=statistics.mean(st.txn_sizes) if st.txn_sizes else None,
        txn_dur_count=len(st.txn_durations),
        txn_dur_sum=sum(st.txn_durations) if st.txn_durations else None,
        txn_dur_min=min(st.txn_durations, default=None),
        txn_dur_max=max(st.txn_durations, default=None),
        txn_dur_avg=statistics.mean(st.txn_durations) if st.txn_durations else None,
        num_empty_txn=len(st.empty_txns),
        num_open_txn=len(st.open_txns),
        num_offset_gaps=st.num_offset_gaps,
    )


def _check(parsed_df, oracle_parsed, **filters):
    row = agg.txn_stats(parsed_df, **filters).collect()[0].asDict()
    exp = _expected(oracle.txn_stat(oracle_parsed, **filters))
    for k, v in exp.items():
        got = row[k]
        if isinstance(v, float):
            assert got == pytest.approx(v), k
        elif k in ("txn_size_sum", "txn_dur_sum") and v is None:
            assert got in (None, 0), k
        else:
            assert got == v, (k, got, v)


def test_txn_stats_unfiltered(parsed_df, oracle_parsed):
    _check(parsed_df, oracle_parsed)


def test_txn_stats_pid_filter(parsed_df, oracle_parsed):
    _check(parsed_df, oracle_parsed, pid=1)


def test_txn_stats_pid_epoch_filter(parsed_df, oracle_parsed):
    _check(parsed_df, oracle_parsed, pid=1001, producer_epoch=0)


def test_txn_stats_leader_epoch_filter(parsed_df, oracle_parsed):
    _check(parsed_df, oracle_parsed, leader_epoch=2)


def test_open_txn_detail(parsed_df, oracle_parsed):
    st = oracle.txn_stat(oracle_parsed)
    got = {
        (r["producer_id"], r["producer_epoch"], r["first_batch_doc_id"], r["n_data_batches"])
        for r in agg.open_txns(parsed_df).collect()
    }
    want = {(p, e, d, n) for (p, e), (d, n) in st.open_txns.items()}
    assert got == want


def test_empty_txn_detail(parsed_df, oracle_parsed):
    st = oracle.txn_stat(oracle_parsed)
    got = sorted(r["closing_batch_doc_id"] for r in agg.empty_txns(parsed_df).collect())
    assert got == sorted(st.empty_txns)


def test_first_last_batch(parsed_df, oracle_parsed):
    st = oracle.txn_stat(oracle_parsed)
    row = agg.first_last_batch(parsed_df).collect()[0]
    assert row["first_batch_doc_id"] == st.first_batch_doc
    assert row["last_batch_doc_id"] == st.last_batch_doc


def test_batches_per_epoch_totals(parsed_df, oracle_parsed):
    rows = agg.batches_per_epoch(parsed_df).collect()
    from klog_spark.oracle import segment_type

    want = {}
    for p in oracle_parsed:
        if (p.record_class == "batch" and segment_type(p.source) == "data"
                and p.fields["is_valid"] and p.fields["producer_id"] != -1):
            k = (p.fields["producer_id"], p.fields["producer_epoch"])
            want[k] = want.get(k, 0) + 1
    got = {(r["producer_id"], r["producer_epoch"]): r["n_batches"] for r in rows}
    assert got == want


def test_topics_sanity(parsed_df):
    row = agg.topics_sanity(parsed_df).collect()[0]
    assert row["n_topics"] == 1  # fixture has one data topic


def test_invalid_control_batch_drops_controls_pre_routing(spark):
    """The transactional fold must see the PRE-routing view: an invalid
    (isvalid:false) control batch is still klog's currentBatch cursor target,
    so its control messages are DROPPED. Feeding the routed view instead
    (batch reclassified corrupt) silently re-attaches the control to an
    earlier valid batch and miscounts commits."""
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing
    from klog_spark.schemas import INPUT_SCHEMA

    batch = (
        "baseOffset: 0 lastOffset: 0 count: 1 baseSequence: 0 lastSequence: 0 "
        "producerId: 5 producerEpoch: 0 partitionLeaderEpoch: 1 isTransactional: true "
        "isControl: {ctl} position: 0 CreateTime: {ct} size: 100 magic: 2 "
        "compresscodec: none crc: 1 isvalid: {valid}"
    )
    lines = [
        "Dumping /tmp/kafka-logs/t-0/00000000000000000000.log",
        "Log starting offset: 0",
        batch.format(ctl="false", ct=1000, valid="true"),   # opens txn (5,0)
        batch.format(ctl="true", ct=2000, valid="false"),   # INVALID control batch
        "| offset: 1 CreateTime: 2000 keySize: 4 valueSize: 6 sequence: -1 headerKeys: [] "
        "endTxnMarker: COMMIT coordinatorEpoch: 1",          # parent = invalid -> drop
    ]
    rows = [(f"t-0.log.dump.txt:{i + 1}", [ord(c) for c in ln], len(ln),
             "/tmp/kafka-logs/t-0/00000000000000000000.log") for i, ln in enumerate(lines)]
    raw = parse_sequences(spark.createDataFrame(rows, INPUT_SCHEMA))

    got = agg.txn_stats(raw).collect()[0].asDict()
    assert got["num_committed"] == 0
    assert got["num_open_txn"] == 1

    # the routed view gives the WRONG answer here — this asserts the trap is
    # real and Pipeline must keep feeding the raw view (pipeline.parsed_raw)
    routed = apply_validity_routing(raw)
    wrong = agg.txn_stats(routed).collect()[0].asDict()
    assert wrong["num_committed"] == 1  # control re-attached to line-3 batch


def test_pipeline_txn_stats_uses_raw_view(spark, fixture_dir, parsed_df, oracle_parsed):
    from klog_spark.pipeline import Pipeline

    row = Pipeline(spark, fixture_dir).txn_stats().collect()[0].asDict()
    exp = _expected(oracle.txn_stat(oracle_parsed))
    assert row["num_committed"] == exp["num_committed"]
    assert row["num_aborted"] == exp["num_aborted"]
    assert row["num_open_txn"] == exp["num_open_txn"]


def test_sessionless_transactional_batch_is_cursor_not_event(spark):
    """A CRC-valid transactional batch with pid/epoch == -1 is
    reference-fatal (checkBatch) -> routed corrupt: it must not count as a
    txn event / gap / first-last candidate, but it IS a currentBatch cursor
    target, so a following control message attaches to session (-1, 0)."""
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.schemas import INPUT_SCHEMA

    lines = [
        "Dumping /tmp/kafka-logs/t-0/00000000000000000000.log",
        "Log starting offset: 0",
        "baseOffset: 0 lastOffset: 0 count: 1 baseSequence: 0 lastSequence: 0 "
        "producerId: -1 producerEpoch: 0 partitionLeaderEpoch: 1 isTransactional: true "
        "isControl: false position: 0 CreateTime: 1000 size: 100 magic: 2 "
        "compresscodec: none crc: 1 isvalid: true",
        "| offset: 1 CreateTime: 2000 keySize: 4 valueSize: 6 sequence: -1 headerKeys: [] "
        "endTxnMarker: COMMIT coordinatorEpoch: 1",
    ]
    src = "/tmp/kafka-logs/t-0/00000000000000000000.log"
    docs = [f"t-0.log.dump.txt:{i + 1}" for i in range(len(lines))]
    rows = [(d, [ord(c) for c in ln], len(ln), src) for d, ln in zip(docs, lines)]
    raw = parse_sequences(spark.createDataFrame(rows, INPUT_SCHEMA))

    got = agg.txn_stats(raw).collect()[0].asDict()
    want = _expected(oracle.txn_stat(
        [oracle.classify_and_parse(ln, d, "t-0.log.dump.txt", i + 1, src)
         for i, (ln, d) in enumerate(zip(lines, docs))]
    ))
    for k in ("num_committed", "num_aborted", "num_empty_txn", "num_open_txn",
              "txn_size_count", "num_offset_gaps"):
        assert got[k] == want[k], (k, got[k], want[k])
    assert got["num_committed"] == 1 and got["num_empty_txn"] == 1
    assert got["num_open_txn"] == 0 and got["txn_size_count"] == 0
