"""Dump-text file source + the klog-compatible CLI.

Reconstructs real dump-text files from the fixture's text rendition, then
demands (a) the file source reproduces the tokenized table exactly and
(b) the CLI commands produce the same results as the DataFrame API.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dump_dir(fixture_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("dumps")
    rows = duckdb.sql(
        f"""SELECT regexp_extract(doc_id, '^(.*):([0-9]+)$', 1) AS file,
                   CAST(regexp_extract(doc_id, '^(.*):([0-9]+)$', 2) AS INT) AS line_no,
                   line
            FROM read_parquet('{fixture_dir}/sequences_text.parquet')
            ORDER BY file, line_no"""
    ).fetchall()
    files: dict[str, list[str]] = {}
    for fname, _ln, line in rows:
        files.setdefault(fname, []).append(line)
    for fname, lines in files.items():
        (out / fname).write_text("\n".join(lines) + "\n")
    return str(out)


def test_dump_file_source_reproduces_tokenized_table(spark, fixture_dir, dump_dir):
    from klog_spark.sources.dump_files import read_dump_files

    got = read_dump_files(spark, f"{dump_dir}/*.dump.txt")
    want = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    # token-array equality per doc_id — the per-row invariant of the whole
    # engine, now holding across the text->tokens bridge
    diff = (
        got.select("doc_id", F.col("tokens").alias("t1"), "source")
        .join(want.select("doc_id", F.col("tokens").alias("t2"),
                          F.col("source").alias("s2")), "doc_id", "full")
        .filter((F.col("t1") != F.col("t2")) | F.col("t1").isNull() | F.col("t2").isNull()
                | (F.col("source") != F.col("s2")))
    )
    assert diff.count() == 0
    assert got.count() == want.count()


def test_txn_stats_parity_from_dump_files(spark, fixture_dir, dump_dir):
    from klog_spark.operators.aggregates import txn_stats
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.sources.dump_files import read_dump_files

    via_files = txn_stats(parse_sequences(read_dump_files(spark, dump_dir + "/*.dump.txt"))).collect()[0]
    via_parquet = txn_stats(
        parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet"))
    ).collect()[0]
    assert via_files.asDict() == via_parquet.asDict()


def test_cli_commands(spark, dump_dir, capsys, tmp_path):
    from klog_spark.__main__ import main

    # txn-stat over the DATA dumps (TxnStat.java:70-81 rejects internal
    # topics and multi-topic input — asserted in test_cli_txn_stat_contract)
    assert main(["segment", "txn-stat", dump_dir + "/payments-*.log.dump.txt"],
                spark=spark) == 0
    out = capsys.readouterr().out
    assert "num_committed:" in out
    assert "txn_size_stats: IntSummaryStatistics{count=" in out
    assert "empty_txn:" in out and "open_txn:" in out
    # detail lines are the reference's record toStrings (TxnStat.java:106-127)
    assert "EmptyTransaction[closingBatch=Batch(baseOffset=" in out
    assert ", controlMessage=ControlMessage(offset=" in out
    import re as _re
    assert _re.search(
        r"open_txn:.* ProducerSession\[producerId=\d+, producerEpoch=\d+\]->"
        r"FirstBatchInTxn\[firstBatchInTxn=Batch\(baseOffset=.*, "
        r"numDataBatches=\d+\]", out)
    # --line-numbers prepends the control-message / first-batch line number
    assert main(["segment", "txn-stat", dump_dir + "/payments-*.log.dump.txt",
                 "--line-numbers"], spark=spark) == 0
    out_ln = capsys.readouterr().out
    assert _re.search(r"empty_txn:.*\d+: EmptyTransaction\[", out_ln)

    # filtered cat: only pid-1 batches and their records, uncolored.
    # Scoped to the DATA dumps: on __transaction_state dumps --pid matches
    # nested state-change messages and prints producerId=-1 batch headers
    # (BatchPredicate.java:33-38) — covered by test_cli_cat_txn_state_pid.
    assert main(["segment", "cat", dump_dir + "/payments-*.log.dump.txt",
                 "--pid", "1", "--no-color"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "producerId=1," in out
    assert "producerId=-1" not in out

    # group analytics incl. read-committed view
    assert main(["group", "offsets", dump_dir, "--read-committed"], spark=spark) == 0
    out = capsys.readouterr().out
    assert "group_id=" in out and "committed_offset=" in out

    # snapshot abort-cmd formatting
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.sources.dump_files import read_dump_files

    parsed = parse_sequences(read_dump_files(spark, dump_dir + "/*.dump.txt"))
    snap = parsed.filter(F.col("record_class") == "producer_state").first()
    assert main(["snapshot", "abort-cmd", dump_dir, "--pid", str(snap["producer_id"]),
                 "--producer-epoch", str(snap["producer_epoch"])], spark=spark) == 0
    out = capsys.readouterr().out
    assert "kafka-transactions.sh" in out and f"--producer-id {snap['producer_id']}" in out

    # route fan-out writes the partitioned staging
    dest = str(tmp_path / "routed_cli")
    assert main(["route", dump_dir, "--out", dest], spark=spark) == 0
    out = capsys.readouterr().out
    assert "record_class=batch" in out and "routed staging written" in out


def test_sql_view_surface(spark, fixture_dir):
    """register_views publishes the engine for pure-SQL use: analytic views
    match the API, base views compose in joins, plans stay pruned."""
    from klog_spark.operators.aggregates import txn_stats
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.sql import register_views

    names = register_views(spark, f"{fixture_dir}/sequences.parquet", prefix="t1")
    assert "t1_txn_stats" in names and "t1_group_lag" in names

    got = spark.sql("SELECT * FROM t1_txn_stats").collect()[0]
    want = txn_stats(parse_sequences(
        spark.read.parquet(f"{fixture_dir}/sequences.parquet"))).collect()[0]
    assert got.asDict() == want.asDict()

    # cross-view SQL join: lag vs latest metadata per group
    joined = spark.sql("""
        SELECT l.group_id, l.lag, m.generation
        FROM t1_group_lag l JOIN t1_group_metadata_latest m USING (group_id)
    """).collect()
    assert joined and all(r["generation"] >= 1 for r in joined)

    # the batches view carries only the batch projection
    cols = set(spark.sql("SELECT * FROM t1_batches LIMIT 1").columns)
    assert "base_offset" in cols and "committed_offset" not in cols


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# arbitrary unicode lines (no newlines/surrogates), including empty ones
line_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\n\r"),
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(line_st, min_size=1, max_size=20))
def test_dump_source_tokenizes_arbitrary_text(spark, tmp_path_factory, lines):
    """Property: for ANY text content, the file source's token arrays are
    exactly the per-line code points — the bridge never mangles unicode,
    empty lines, or the trailing newline."""
    from klog_spark.sources.dump_files import read_dump_files

    d = tmp_path_factory.mktemp("prop_dumps")
    (d / "x.log.dump.txt").write_text("\n".join(lines) + "\n", encoding="utf-8")
    got = {r["doc_id"]: list(r["tokens"])
           for r in read_dump_files(spark, str(d) + "/*.dump.txt").collect()}
    want = {f"x.log.dump.txt:{i + 1}": [ord(c) for c in ln]
            for i, ln in enumerate(lines)}
    assert got == want


def test_cli_cat_transactional_id(spark, dump_dir, capsys):
    """--transactional-id selects whole BATCHES of a __transaction_state
    dump: the batch header and ALL sibling records of any batch containing
    a TransactionStateMessage with the id (Cat.java:81-88), and the flag is
    rejected for non-TRANSACTION_STATE input (Cat.java:78-80)."""
    from klog_spark.__main__ import main
    from klog_spark.operators.aggregates import attach_parent_batch
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.sources.dump_files import read_dump_files

    txn_glob = dump_dir + "/__transaction_state-*.log.dump.txt"
    parsed = parse_sequences(read_dump_files(spark, txn_glob))
    txn_id = parsed.filter(F.col("transactional_id").isNotNull()).first()["transactional_id"]
    assert main(["segment", "cat", txn_glob, "--transactional-id", txn_id,
                 "--no-color"], spark=spark) == 0
    out = capsys.readouterr().out.strip().splitlines()
    # expected: every line of every batch with a matching message
    wp = attach_parent_batch(parsed, "line_no").withColumn(
        "_bl", F.when(F.col("record_class") == "batch", F.col("line_no"))
                .otherwise(F.col("parent.line_no")))
    hit_batches = {
        (r["file"], r["_bl"]) for r in wp.filter(
            F.col("record_class").isin("txn_state", "txn_deletion")
            & (F.col("transactional_id") == txn_id)).select("file", "_bl").collect()
    }
    renderable = ["batch", "control_msg", "data_msg", "txn_state", "txn_deletion"]
    want = wp.filter(
        F.col("_bl").isNotNull() & F.col("record_class").isin(renderable)
    ).rdd.filter(lambda r: (r["file"], r["_bl"]) in hit_batches).count()
    assert len(out) == want and want > 0
    assert any(ln.startswith("Batch(") for ln in out)          # headers print
    assert any("TransactionState" in ln for ln in out)         # with records


def test_cli_txn_stat_contract(spark, dump_dir, capsys):
    """TxnStat.java's full contract: internal-topic dumps are rejected
    (:72-75), BatchPredicate filters narrow the batch stream before the
    collector (:85-89), and the stats lines carry Java's
    IntSummaryStatistics formatting (:96-97)."""
    import pytest as _pytest

    from klog_spark.__main__ import main

    with _pytest.raises(SystemExit, match="do not contain transactional"):
        main(["segment", "txn-stat",
              dump_dir + "/__transaction_state-*.log.dump.txt"], spark=spark)

    pay = dump_dir + "/payments-*.log.dump.txt"
    assert main(["segment", "txn-stat", pay], spark=spark) == 0
    full = capsys.readouterr().out

    def n_committed(text):
        return int(next(ln for ln in text.splitlines()
                        if ln.startswith("num_committed:")).split(":")[1])

    # a pid filter must shrink (not just reproduce) the aggregate
    assert main(["segment", "txn-stat", pay, "--pid", "1"], spark=spark) == 0
    filtered = capsys.readouterr().out
    assert 0 < n_committed(filtered) < n_committed(full)
    # average prints with Java's %f default (6 decimals)
    stats_line = next(ln for ln in full.splitlines()
                      if ln.startswith("txn_size_stats:"))
    assert ", average=" in stats_line and stats_line.rstrip().endswith("}")


def _batch_line(base, last, pid, is_control, create_ms, position):
    return (f"baseOffset: {base} lastOffset: {last} count: {last - base + 1} "
            f"baseSequence: -1 lastSequence: -1 producerId: {pid} producerEpoch: 0 "
            f"partitionLeaderEpoch: 0 isTransactional: true isControl: {str(is_control).lower()} "
            f"deleteHorizonMs: OptionalLong.empty position: {position} CreateTime: {create_ms} "
            "size: 80 magic: 2 compresscodec: NONE crc: 1234 isvalid: true")


def _control_line(offset, create_ms, marker):
    return (f"| offset: {offset} CreateTime: {create_ms} keySize: 4 valueSize: 6 "
            f"sequence: -1 headerKeys: [] endTxnMarker: {marker} coordinatorEpoch: 0")


def test_cli_txn_stat_empty_lines_print_their_own_control(spark, tmp_path, capsys):
    """One control batch holding two control records (ABORT, then COMMIT)
    closes two empty transactions of one session (klog's currentBatch
    cursor attaches both records to that batch). Each empty_txn line names
    the control message that closed it, and the lines print in stream
    order (line 4 before line 11, not the string order of line numbers)."""
    from klog_spark.__main__ import main

    lines = [
        "Dumping /tmp/kafka-logs/payments-0/00000000000000000000.log",
        "Starting offset: 0",
        _batch_line(0, 1, 5, True, 1700000000000, 0),
        _control_line(0, 1700000000000, "ABORT"),
        _control_line(1, 1700000000000, "COMMIT"),
        _batch_line(2, 2, 5, False, 1700000000100, 80),
        "| offset: 2 CreateTime: 1700000000100 keySize: 3 valueSize: 3 sequence: 0 headerKeys: []",
        _batch_line(3, 3, 5, True, 1700000000200, 160),
        _control_line(3, 1700000000200, "COMMIT"),
        _batch_line(4, 4, 5, True, 1700000000300, 240),
        _control_line(4, 1700000000300, "ABORT"),
    ]
    dump = tmp_path / "payments-0-00000000000000000000.log.dump.txt"
    dump.write_text("\n".join(lines) + "\n")
    assert main(["segment", "txn-stat", str(dump), "--line-numbers"], spark=spark) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[:2] == ["num_committed: 2", "num_aborted: 2"]
    empty = [ln for ln in out if ln.startswith("empty_txn:")]
    assert [ln.split(" ", 1)[0] for ln in empty] == ["empty_txn:4:", "empty_txn:5:", "empty_txn:11:"]
    assert [ln.split("controlMessage=")[1].split(", createTime")[0] for ln in empty] == [
        "ControlMessage(offset=0", "ControlMessage(offset=1", "ControlMessage(offset=4"]
    assert [ln.split("commit=")[1].split(",")[0] for ln in empty] == ["false", "true", "false"]
    assert not any(ln.startswith("open_txn:") for ln in out)


def test_cli_txn_stat_matches_oracle(spark, dump_dir, oracle_parsed, capsys):
    """`segment txn-stat` over the DATA dumps, unfiltered and with --pid 1,
    against the sequential oracle fold: the commit/abort counts, the empty
    transactions' closing batches in stream order, and the open
    transactions' sessions and sizes."""
    import fnmatch
    import re

    from klog_spark import oracle
    from klog_spark.__main__ import main

    pay = [p for p in oracle_parsed if fnmatch.fnmatch(p.file, "payments-*.log.dump.txt")]
    by_doc = {p.doc_id: p for p in pay}
    for extra, kw in (([], {}), (["--pid", "1"], {"pid": 1})):
        want = oracle.txn_stat(pay, **kw)
        assert main(["segment", "txn-stat", dump_dir + "/payments-*.log.dump.txt", *extra],
                    spark=spark) == 0
        out = capsys.readouterr().out.splitlines()
        assert out[:2] == [f"num_committed: {want.num_committed}",
                           f"num_aborted: {want.num_aborted}"]
        empty = [re.match(r"empty_txn:(.*?):? EmptyTransaction\[closingBatch=Batch\(baseOffset=(\d+),",
                          ln).groups() for ln in out if ln.startswith("empty_txn:")]
        assert len(empty) == len(want.empty_txns) > 0
        assert empty == [(by_doc[d].file, str(by_doc[d].fields["base_offset"]))
                         for d in want.empty_txns]
        opened = sorted(tuple(int(x) for x in re.search(
            r"producerId=(\d+), producerEpoch=(\d+)\].*numDataBatches=(\d+)\]$", ln).groups())
            for ln in out if ln.startswith("open_txn:"))
        assert len(opened) == len(want.open_txns) > 0
        assert opened == sorted((pid, ep, n) for (pid, ep), (_, n) in want.open_txns.items())


def test_cli_cat_transactional_id_rejects_non_txn_input(spark, dump_dir):
    """Cat.java:78-80: the flag on a mixed/non-TS input must error."""
    import pytest as _pytest

    from klog_spark.__main__ import main

    with _pytest.raises(SystemExit):
        main(["segment", "cat", dump_dir + "/payments-0-00000000000000000000.log.dump.txt",
              "--transactional-id", "whatever"], spark=spark)


def test_cli_cat_txn_state_pid(spark, dump_dir, capsys):
    """On __transaction_state dumps --pid/--producer-epoch match the NESTED
    TransactionStateChange pid/epoch (BatchPredicate.java:33-45); txn-state
    batch headers all carry producerId -1, so header comparison would print
    nothing. A selected batch prints whole (header + all records)."""
    from klog_spark.__main__ import main
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.sources.dump_files import read_dump_files

    txn_glob = dump_dir + "/__transaction_state-*.log.dump.txt"
    parsed = parse_sequences(read_dump_files(spark, txn_glob))
    pick = parsed.filter(F.col("txn_producer_id").isNotNull()).first()
    pid = int(pick["txn_producer_id"])
    assert main(["segment", "cat", txn_glob, "--pid", str(pid), "--no-color"],
                spark=spark) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out, "nested pid match must select batches"
    assert any(ln.startswith("Batch(") for ln in out)
    assert all("producerId=-1" in ln for ln in out if ln.startswith("Batch(")), \
        "txn-state batch headers carry producerId -1; selection must be nested"
    # conjunction with the nested epoch of the same message still selects
    pe = int(pick["txn_producer_epoch"])
    assert main(["segment", "cat", txn_glob, "--pid", str(pid),
                 "--producer-epoch", str(pe), "--no-color"], spark=spark) == 0
    assert capsys.readouterr().out.strip(), "pid+epoch conjunction selects"


def test_dump_source_nested_layout_no_doc_id_collision(spark, tmp_path_factory):
    """klog's usual on-disk layout repeats basenames across partition dirs
    (<topic-partition>/00000000000000000000.log.dump.txt); doc_ids must be
    derived from the path RELATIVE to the glob root so a recursive glob
    cannot silently collide doc_id-keyed joins/windows downstream."""
    from klog_spark.sources.dump_files import read_dump_files

    root = tmp_path_factory.mktemp("nested_dumps")
    for part in ("payments-0", "payments-1"):
        d = root / part
        d.mkdir()
        (d / "00000000000000000000.log.dump.txt").write_text(
            f"Dumping /tmp/kafka-logs/{part}/00000000000000000000.log\n"
            "Starting offset: 0\n"
        )
    df = read_dump_files(spark, str(root) + "/**/*.dump.txt")
    ids = [r["doc_id"] for r in df.select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == 4  # 2 files x 2 lines, all distinct
    assert {i.split(":")[0] for i in ids} == {
        "payments-0/00000000000000000000.log.dump.txt",
        "payments-1/00000000000000000000.log.dump.txt",
    }
    # flat layout keeps plain-basename doc_ids (back-compat with fixtures)
    flat = tmp_path_factory.mktemp("flat_dumps")
    (flat / "a.log.dump.txt").write_text("Dumping /tmp/kafka-logs/t-0/a.log\n")
    fids = [r["doc_id"] for r in read_dump_files(spark, str(flat)).collect()]
    assert fids == ["a.log.dump.txt:1"]


def test_dump_source_survives_junk_bytes(spark, tmp_path_factory):
    """Non-UTF8 bytes in a dump file become U+FFFD lines that classify as
    corrupt — the read never raises."""
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.sources.dump_files import read_dump_files

    d = tmp_path_factory.mktemp("junk_dumps")
    (d / "j.log.dump.txt").write_bytes(
        b"Dumping /tmp/kafka-logs/t-0/x.log\n\xff\xfe garbage \x80\n"
    )
    parsed = parse_sequences(read_dump_files(spark, str(d) + "/*.dump.txt"))
    classes = {r["doc_id"]: r["record_class"] for r in parsed.collect()}
    assert classes["j.log.dump.txt:1"] == "header"
    assert classes["j.log.dump.txt:2"] == "corrupt"


def test_cli_segment_health(spark, dump_dir, capsys, tmp_path):
    """`segment health` prints the per-file dashboard over CLI input and
    its counts agree with direct aggregation; a tokenized parquet directory
    of the same dumps prints the same dashboard; the same table is
    published as a SQL view."""
    from klog_spark.__main__ import main
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing
    from klog_spark.sources.dump_files import read_dump_files
    from klog_spark.sql import register_views

    assert main(["segment", "health", dump_dir], spark=spark) == 0
    out = capsys.readouterr().out.strip().splitlines()
    routed = apply_validity_routing(
        parse_sequences(read_dump_files(spark, dump_dir + "/*.dump.txt"))
    )
    n_files = routed.select("file").distinct().count()
    assert len(out) == n_files
    assert all("n_corrupt=" in ln and "corrupt_rate=" in ln for ln in out)
    total_lines = sum(int(ln.split("n_lines=")[1].split(" ")[0]) for ln in out)
    assert total_lines == routed.count()

    pq_dir = str(tmp_path / "tokenized")
    read_dump_files(spark, dump_dir + "/*.dump.txt").write.parquet(pq_dir)
    assert main(["segment", "health", pq_dir], spark=spark) == 0
    assert capsys.readouterr().out.strip().splitlines() == out

    names = register_views(spark, dump_dir, prefix="h1")
    assert "h1_file_health" in names
    n = spark.sql("SELECT SUM(n_lines) s FROM h1_file_health").collect()[0]["s"]
    assert n == total_lines
    # the view reports the CLI's exact corrupt_rate per file
    view = spark.sql("SELECT file, corrupt_rate FROM h1_file_health").collect()
    printed = {ln.split("file=")[1].split(" ")[0]: float(ln.split("corrupt_rate=")[1].split(" ")[0])
               for ln in out}
    assert {r["file"]: r["corrupt_rate"] for r in view} == printed
    assert any(rate > 0 for rate in printed.values())


def _run_cli(spark, capsys, argv):
    """(stdout, SystemExit message or None) of one CLI call."""
    from klog_spark.__main__ import main

    try:
        assert main(argv, spark=spark) == 0
        exit_msg = None
    except SystemExit as e:
        exit_msg = str(e)
    return capsys.readouterr().out, exit_msg


def test_cli_reads_a_fixture_directory(spark, fixture_dir, capsys):
    """A fixture directory reads its sequences.parquet, not all four of its
    parquet tables as one: `segment txn-stat` and `segment health` print (or
    reject) exactly what they do on the sequences.parquet path itself."""
    from klog_spark.sources.dump_files import read_input

    seq = f"{fixture_dir}/sequences.parquet"
    assert read_input(spark, fixture_dir).count() == spark.read.parquet(seq).count()
    got = {}
    for cmd in ("txn-stat", "health"):
        got[cmd] = _run_cli(spark, capsys, ["segment", cmd, fixture_dir])
        assert got[cmd] == _run_cli(spark, capsys, ["segment", cmd, seq])
    # the fixture holds the internal topics' dumps, which txn-stat rejects
    assert "do not contain transactional messages" in got["txn-stat"][1]
    assert got["health"][0] and got["health"][1] is None


def test_cli_parses_once_and_unpersists(spark, dump_dir, capsys, tmp_path, monkeypatch):
    """Every command builds one parse per call (``segment health`` used to
    build two), and none leaves a cache entry behind: the persisted parse is
    released before ``main`` returns. Counted against the entries already
    cached, because session-scoped fixtures hold their own."""
    from klog_spark.operators import parse

    calls = []
    real = parse.parse_sequences
    monkeypatch.setattr(parse, "parse_sequences", lambda df: calls.append(df) or real(df))
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    for argv in (
        ["segment", "cat", dump_dir],
        ["segment", "txn-stat", dump_dir + "/payments-*.log.dump.txt"],
        ["segment", "health", dump_dir],
        ["snapshot", "cat", dump_dir],
        ["snapshot", "abort-cmd", dump_dir, "--pid", "1", "--producer-epoch", "0"],
        ["group", "lag", dump_dir],
        ["route", dump_dir, "--out", str(tmp_path / "routed")],
    ):
        calls.clear()
        out, exit_msg = _run_cli(spark, capsys, argv)
        assert exit_msg is None and out, argv
        assert len(calls) == 1, argv
        assert cache.numCachedEntries() == before, argv


#: Spark jobs of one call of each group view that scans the parse once, on
#: the test session. With the persist each ran 6: its build job was the only
#: one it added.
SINGLE_SCAN_JOBS = {"offsets": 5, "metadata": 5, "rewinds": 5}


def test_cli_single_scan_group_views_skip_the_persist(spark, dump_dir, capsys, monkeypatch):
    """``group offsets``, ``group metadata`` and ``group rewinds`` scan the
    parse once, so the CLI does not persist it for them: the persist's build
    job was the only job it changed. Each runs its pinned job count, and
    ``group lag`` (two scans without the cache) still persists."""
    persisted = []
    frame = type(spark.range(1))
    real = frame.persist
    monkeypatch.setattr(frame, "persist", lambda self, *a, **k: persisted.append(self) or real(self, *a, **k))
    sc, jobs = spark.sparkContext, {}
    for view in SINGLE_SCAN_JOBS:
        persisted.clear()
        group = f"cli-group-{view}"
        sc.setJobGroup(group, group)
        try:
            out, exit_msg = _run_cli(spark, capsys, ["group", view, dump_dir])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert exit_msg is None and out, view
        assert persisted == [], view
        jobs[view] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == SINGLE_SCAN_JOBS
    persisted.clear()
    _run_cli(spark, capsys, ["group", "lag", dump_dir])
    assert len(persisted) == 1
