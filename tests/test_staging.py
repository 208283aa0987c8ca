"""Parse-once / query-the-staging path: routed_as_parsed must reproduce the
direct-parse aggregates exactly (the 100 TB execution shape)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def routed_dir(spark, fixture_dir, tmp_path_factory):
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing

    out = tmp_path_factory.mktemp("staging") / "routed"
    apply_validity_routing(
        parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    ).write.mode("overwrite").partitionBy("record_class").parquet(str(out))
    return str(out)


def test_staging_txn_stats_parity(spark, parsed_df, routed_dir):
    from klog_spark.operators.aggregates import txn_stats
    from klog_spark.operators.route import routed_as_parsed

    direct = txn_stats(parsed_df).collect()[0].asDict()
    staged = txn_stats(routed_as_parsed(spark.read.parquet(routed_dir))).collect()[0].asDict()
    assert direct == staged


def test_staging_open_empty_parity(spark, parsed_df, routed_dir):
    from klog_spark.operators.aggregates import empty_txns, open_txns
    from klog_spark.operators.route import routed_as_parsed

    rp = routed_as_parsed(spark.read.parquet(routed_dir))
    assert sorted(map(tuple, open_txns(parsed_df).collect())) == sorted(map(tuple, open_txns(rp).collect()))
    assert sorted(map(tuple, empty_txns(parsed_df).collect())) == sorted(map(tuple, empty_txns(rp).collect()))


def test_routed_as_parsed_is_exact(spark, parsed_df, routed_dir):
    """Every validity-routing reason is inverted: the staged raw view holds
    exactly the direct parse's rows, column for column."""
    from klog_spark.operators.route import routed_as_parsed

    cols = parsed_df.columns
    staged = routed_as_parsed(spark.read.parquet(routed_dir)).select(*cols)
    assert staged.exceptAll(parsed_df).count() == 0
    assert parsed_df.exceptAll(staged).count() == 0
    for cls in ("batch", "producer_state", "corrupt"):
        pruned = routed_as_parsed(spark.read.parquet(routed_dir), classes=[cls]).select(*cols)
        want = parsed_df.filter(F.col("record_class") == cls)
        assert pruned.exceptAll(want).count() == 0 and want.exceptAll(pruned).count() == 0, cls


BATCH = (
    "baseOffset: {bo} lastOffset: {bo} count: 1 baseSequence: 0 lastSequence: 0 "
    "producerId: {pid} producerEpoch: {ep} partitionLeaderEpoch: {le} isTransactional: {txn} "
    "isControl: false position: {pos} CreateTime: {ct} size: 10 magic: 2 "
    "compresscodec: none crc: 1 isvalid: true"
)
DATA_MSG = "| offset: {o} CreateTime: {ct} keySize: 1 valueSize: 1 sequence: 0 headerKeys: []"
CTRL_MSG = (
    "| offset: {o} CreateTime: {ct} keySize: 4 valueSize: 6 sequence: -1 headerKeys: [] "
    "endTxnMarker: COMMIT coordinatorEpoch: 1"
)
TXN_MSG = (
    "| offset: {o} CreateTime: {ct} keySize: 30 valueSize: 50 sequence: -1 headerKeys: [] "
    "key: transaction_metadata::transactionalId=app payload: producerId:7,producerEpoch:0,"
    "state={state},partitions=[t-0],txnLastUpdateTimestamp={ct},txnTimeoutMs=60000"
)


def _batch(bo, pid=7, ep=0, le=1, txn=True, pos=None):
    return BATCH.format(bo=bo, pid=pid, ep=ep, le=le, txn=str(txn).lower(),
                        pos=bo * 10 if pos is None else pos, ct=1000 + bo)


def _rows(df):
    return sorted(map(tuple, df.collect()))


REROUTED_INPUTS = {
    # a sessionless transactional batch between a pid-7 data batch and a
    # COMMIT record: the record's currentBatch is the sessionless batch
    "transactional_batch_without_session": ("t-0", [
        _batch(0), DATA_MSG.format(o=0, ct=1000),
        _batch(1, pid=-1, ep=-1), CTRL_MSG.format(o=1, ct=1001),
    ]),
    # a __transaction_state batch with a real pid (invariant violation):
    # its state record is its own message, and its position and leader
    # epoch take part in the per-file monotonic checks
    "txn_state_segment_invariant": ("__transaction_state-0", [
        _batch(0, pid=-1, ep=-1, le=5, txn=False, pos=100), TXN_MSG.format(o=0, ct=1000, state="Ongoing"),
        _batch(1, pid=7, ep=0, le=3, txn=False, pos=50), TXN_MSG.format(o=1, ct=1001, state="PrepareCommit"),
        _batch(2, pid=-1, ep=-1, le=5, txn=False, pos=200),
        TXN_MSG.format(o=2, ct=1002, state="CompleteCommit"),
    ]),
}


@pytest.mark.parametrize("reason", sorted(REROUTED_INPUTS))
def test_staged_raw_view_restores_rerouted_batches(spark, tmp_path, reason):
    """Staged transactional answers and checks equal the direct parse's when
    validity routing moved a batch out of the batch class."""
    from klog_spark.operators.aggregates import empty_txns, open_txns
    from klog_spark.operators.route import routed_as_parsed
    from klog_spark.pipeline import Pipeline
    from klog_spark.schemas import INPUT_SCHEMA

    topic, body = REROUTED_INPUTS[reason]
    src = f"/tmp/kafka-logs/{topic}/00000000000000000000.log"
    lines = [f"Dumping {src}", "Log starting offset: 0", *body]
    spark.createDataFrame(
        [(f"{topic}.log.dump.txt:{i}", [ord(c) for c in ln], len(ln), src) for i, ln in enumerate(lines, 1)],
        INPUT_SCHEMA,
    ).write.parquet(str(tmp_path / "sequences.parquet"))

    direct = Pipeline(spark, str(tmp_path))
    staged = Pipeline(spark, str(tmp_path)).stage(str(tmp_path / "staged"))
    assert staged.parsed().filter(F.col("corrupt_reason") == reason).count() == 1

    assert _rows(staged.txn_stats()) == _rows(direct.txn_stats())
    raw = routed_as_parsed(staged.parsed())
    for q in (open_txns, empty_txns):
        assert _rows(q(raw)) == _rows(q(direct.parsed_raw())), q.__name__
    want = direct.all_checks()
    for name, df in staged.all_checks().items():
        assert _rows(df) == _rows(want[name]), name


def test_staged_pruned_queries_parity(spark, fixture_dir, tmp_path):
    """The class-pruned staged queries equal the unstaged Pipeline's."""
    from klog_spark.pipeline import Pipeline

    direct = Pipeline(spark, fixture_dir)
    staged = Pipeline(spark, fixture_dir).stage(str(tmp_path / "staged"))

    assert _rows(staged.open_txn_abort_commands()) == _rows(direct.open_txn_abort_commands())
    want = direct.all_checks()
    got = staged.all_checks()
    assert set(got) == set(want) == {"offset_gaps", "position_monotonic", "leader_epoch_monotonic",
                                     "state_machine", "batch_message_count"}
    for name, df in got.items():
        assert _rows(df) == _rows(want[name]), name


def test_restage_drops_the_memoized_views(spark, fixture_dir, tmp_path):
    """A Pipeline staged from one input, queried, then staged from another
    answers from the new table only: its memoized staged read and per-class
    raw views are rebuilt, not reused."""
    from klog_spark.pipeline import Pipeline

    full = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    files = sorted(r["file"] for r in full.select(
        F.regexp_extract("doc_id", r"^(.*):[0-9]+$", 1).alias("file")).distinct().collect())
    part = str(tmp_path / "part.parquet")
    full.filter(F.regexp_extract("doc_id", r"^(.*):[0-9]+$", 1).isin(*files[: len(files) // 2])
                ).write.parquet(part)

    def answers(p):
        return {"sink_counts": _rows(p.sink_counts()), "txn_stats": _rows(p.txn_stats()),
                **{name: _rows(df) for name, df in p.all_checks().items()}}

    p = Pipeline(spark, part).stage(str(tmp_path / "a"))
    before = answers(p)
    p.fixture_dir = fixture_dir
    p.stage(str(tmp_path / "b"))
    after = answers(p)
    assert after["sink_counts"] != before["sink_counts"]
    assert after == answers(Pipeline(spark, fixture_dir, staging_dir=str(tmp_path / "b")))


def test_read_sink_projections(spark, routed_dir):
    from klog_spark.operators.route import SINK_PROJECTIONS, project_sink, read_routed

    for cls, cols in SINK_PROJECTIONS.items():
        df = project_sink(read_routed(spark, routed_dir), cls)
        assert df.columns == cols
        assert df.count() > 0, cls


def test_pipeline_stage_parse_once(spark, fixture_dir, tmp_path, oracle_parsed):
    """Pipeline.stage: queries over the staged table match the parse-per-query
    path (and the oracle), with zero MapInArrow in the staged plan."""
    from klog_spark import oracle
    from klog_spark.pipeline import Pipeline

    p = Pipeline(spark, fixture_dir).stage(str(tmp_path / "staged"))
    row = p.txn_stats().collect()[0].asDict()
    st = oracle.txn_stat(oracle_parsed)
    assert row["num_committed"] == st.num_committed
    assert row["num_aborted"] == st.num_aborted
    assert row["num_open_txn"] == len(st.open_txns)
    assert row["num_offset_gaps"] == st.num_offset_gaps
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        p.txn_stats().explain("simple")
    assert "MapInArrow" not in buf.getvalue()


def test_checkpoint_crash_recovery_no_duplicates(spark, fixture_dir, tmp_path):
    """A run that appended but crashed before ckpt.commit must not
    double-count: its orphan run_id partitions are dropped on the next run,
    its files reprocess, and committed-only reads never see orphans."""
    from klog_spark.checkpoint import Checkpoint, read_routed_committed, run_incremental

    out = str(tmp_path / "sink")
    ckpt = Checkpoint(tmp_path / "sink" / "_checkpoint")
    inp = f"{fixture_dir}/sequences.parquet"

    r1 = run_incremental(spark, inp, out, ckpt)
    total = spark.read.parquet(f"{out}/routed").count()
    assert total == sum(r1["sink_counts"].values())

    # simulate a crashed second run: append under a fresh run_id, NO commit
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing

    orphan = apply_validity_routing(parse_sequences(spark.read.parquet(inp)))
    orphan.withColumn("run_id", F.lit("deadbeefcafe")).write.mode("append").partitionBy(
        "record_class", "run_id"
    ).parquet(f"{out}/routed")
    assert spark.read.parquet(f"{out}/routed").count() == 2 * total  # orphan visible raw

    # committed-only reader is immune to the orphan even before cleanup
    assert read_routed_committed(spark, out, ckpt).count() == total

    # resume: orphan dropped, nothing new to process, totals unchanged
    r2 = run_incremental(spark, inp, out, ckpt)
    assert r2["n_files"] == 0
    assert spark.read.parquet(f"{out}/routed").count() == total


def test_empty_input_gives_empty_answers(spark, tmp_path):
    """Zero input rows: staging writes no data files, yet every staged query
    and an incremental run answer as the direct parse does (no rows, zero
    counts) instead of failing to infer the schema of an empty table."""
    from klog_spark.checkpoint import Checkpoint, read_routed_committed, run_incremental
    from klog_spark.pipeline import Pipeline
    from klog_spark.schemas import INPUT_SCHEMA

    inp = str(tmp_path / "sequences.parquet")
    spark.createDataFrame([], INPUT_SCHEMA).write.parquet(inp)

    direct = Pipeline(spark, str(tmp_path))
    staged = Pipeline(spark, str(tmp_path)).stage(str(tmp_path / "staged"))
    assert staged.sink_counts().collect() == []
    (row,) = staged.txn_stats().collect()
    assert row.asDict() == direct.txn_stats().collect()[0].asDict()
    assert row["num_committed"] == row["num_aborted"] == row["num_open_txn"] == 0
    assert staged.open_txn_abort_commands().count() == 0
    for name, df in staged.all_checks().items():
        assert df.count() == 0, name

    ckpt = Checkpoint(tmp_path / "sink" / "_checkpoint")
    r = run_incremental(spark, inp, str(tmp_path / "sink"), ckpt)
    assert r["n_files"] == 0 and r["sink_counts"] == {}
    assert read_routed_committed(spark, str(tmp_path / "sink"), ckpt).count() == 0


def test_empty_staging_sink_readers(spark, tmp_path, capsys):
    """Zero input rows: the sink projections and the route CLI's sink-count
    re-read answer with no rows instead of failing to infer the schema of a
    staging table that holds only ``_SUCCESS``."""
    from klog_spark.__main__ import main
    from klog_spark.operators.route import SINK_PROJECTIONS, project_sink, read_routed
    from klog_spark.schemas import INPUT_SCHEMA

    inp = str(tmp_path / "sequences.parquet")
    spark.createDataFrame([], INPUT_SCHEMA).write.parquet(inp)
    out = str(tmp_path / "routed")
    assert main(["route", inp, "--out", out], spark=spark) == 0
    printed = capsys.readouterr().out
    assert "record_class=" not in printed and "routed staging written" in printed
    for cls, cols in SINK_PROJECTIONS.items():
        df = project_sink(read_routed(spark, out), cls)
        assert df.columns == cols and df.count() == 0, cls


def test_write_routed_bounds_file_count(spark, fixture_dir, tmp_path):
    """The pre-shuffled routed write must emit ~write_tasks files, not
    tasks x sinks (the small-files explosion the pre-shuffle exists to
    prevent)."""
    import os

    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing, write_routed

    parsed = apply_validity_routing(parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet")))
    out = str(tmp_path / "r")
    write_routed(parsed, out, write_tasks=8)
    parquet_files = [f for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    # 8 shuffle partitions over 8 sink-class partitions: collisions allow a
    # few extra files, but nowhere near tasks x sinks
    assert 0 < len(parquet_files) <= 16, parquet_files
    # read-back integrity
    assert spark.read.parquet(out).count() == parsed.count()
