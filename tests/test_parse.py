"""Parse-stage parity with the oracle + reference golden-fixture shapes.

The literal line shapes mirror the reference's inline test fixtures
(src/test/java/.../SegmentDumpReaderTest.java:36-274,
SnapshotDumpReaderTest.java:27-56) re-encoded as tokens.
"""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from klog_spark import oracle
from klog_spark.schemas import INPUT_SCHEMA
from klog_spark.tokens import texts_to_token_arrays


def _mk_input(spark, lines, source="/tmp/kafka-logs/foo-0/00000000000000000000.log",
              file="foo-0-00000000000000000000.log.dump.txt"):
    rows = []
    for i, line in enumerate(lines, start=1):
        rows.append((f"{file}:{i}", [ord(c) for c in line], len(line), source))
    return spark.createDataFrame(rows, INPUT_SCHEMA)


def _parse(spark, lines, **kw):
    from klog_spark.operators.parse import parse_sequences

    return parse_sequences(_mk_input(spark, lines, **kw))


# --- golden shapes from the reference tests --------------------------------

KAFKA_27_BATCH = (
    "baseOffset: 188841062 lastOffset: 188841062 count: 1 baseSequence: 0 lastSequence: 0 "
    "producerId: 343924 producerEpoch: 1 partitionLeaderEpoch: 679 isTransactional: true "
    "isControl: false position: 0 CreateTime: 1621429407409 size: 1292 magic: 2 "
    "compresscodec: GZIP crc: 657418430 isvalid: true"
)
KAFKA_3X_BATCH = (
    "baseOffset: 188841062 lastOffset: 188841062 count: 1 baseSequence: 0 lastSequence: 0 "
    "producerId: 343924 producerEpoch: 1 partitionLeaderEpoch: 679 isTransactional: true "
    "isControl: false deleteHorizonMs: OptionalLong.empty position: 0 CreateTime: 1621429407409 "
    "size: 1292 magic: 2 compresscodec: GZIP crc: 657418430 isvalid: true"
)
DATA_MSG_PAYLOAD = (
    "| offset: 188841062 CreateTime: 1621429407409 keySize: 25 valueSize: 2703 sequence: 0 "
    "headerKeys: [foo,bar] payload: whatever"
)
DATA_MSG_LOWER = (
    "| offset: 7 createTime: 1621429407409 keysize: 25 valueSize: 2703 sequence: 0 headerkeys: []"
)
CONTROL_MSG = (
    "| offset: 5 CreateTime: 1621429407409 keySize: 4 valueSize: 6 sequence: -1 headerKeys: [] "
    "endTxnMarker: COMMIT coordinatorEpoch: 29"
)
TXN_STATE_MSG = (
    "| offset: 50 CreateTime: 1621429407409 keySize: 30 valueSize: 50 sequence: -1 headerKeys: [] "
    "key: transaction_metadata::transactionalId=my-txn-1 payload: producerId:171100,"
    "producerEpoch:1,state=Ongoing,partitions=[foo-0],txnLastUpdateTimestamp=1621429407409,"
    "txnTimeoutMs=60000"
)
TXN_DELETE_MSG = (
    "| offset: 51 CreateTime: 1621429407409 keySize: 30 valueSize: 50 sequence: -1 headerKeys: [] "
    "key: transaction_metadata::transactionalId=my-txn-1 payload: <DELETE>"
)
SNAPSHOT_K2 = (
    "producerId: 171100 producerEpoch: 1 coordinatorEpoch: 33 currentTxnFirstOffset: None "
    "firstSequence: 0 lastSequence: 0 lastOffset: 188082383 offsetDelta: 0 timestamp: 1621429407409"
)
SNAPSHOT_K3 = (
    "producerId: 171100 producerEpoch: 1 coordinatorEpoch: 33 currentTxnFirstOffset: Some(7) "
    "lastTimestamp: 1621429407000 firstSequence: 0 lastSequence: 0 lastOffset: 188082383 "
    "offsetDelta: 0 timestamp: 1621429407409"
)
BROKEN_28 = "baseOffset: 1331 lastOffset: 1331 count: 1 baseSequence: -1"


def test_batch_variants(spark):
    out = _parse(spark, ["Dumping /tmp/kafka-logs/foo-0/00000000000000000000.log",
                         "Starting offset: 0", KAFKA_27_BATCH, KAFKA_3X_BATCH]).collect()
    by = {r["line_no"]: r for r in out}
    for ln in (3, 4):
        r = by[ln]
        assert r["record_class"] == "batch"
        assert r["base_offset"] == 188841062
        assert r["producer_id"] == 343924
        assert r["producer_epoch"] == 1
        assert r["is_transactional"] is True
        assert r["is_control"] is False
        assert r["crc"] == 657418430
        assert r["compress_codec"] == "GZIP"
        assert r["magic"] == 2
    assert by[3]["delete_horizon_ms"] is None
    assert by[4]["delete_horizon_ms"] is None


def test_message_casings_and_payload(spark):
    out = _parse(spark, [KAFKA_27_BATCH, DATA_MSG_PAYLOAD, DATA_MSG_LOWER]).collect()
    by = {r["line_no"]: r for r in out}
    assert by[2]["record_class"] == "data_msg"
    assert by[2]["key_size"] == 25
    assert by[2]["header_keys"] == "foo,bar"
    assert by[3]["record_class"] == "data_msg"
    assert by[3]["offset"] == 7


def test_control_and_txn_records(spark):
    out = _parse(spark, [CONTROL_MSG, TXN_STATE_MSG, TXN_DELETE_MSG],
                 source="/tmp/kafka-logs/__transaction_state-4/00000000000000000000.log").collect()
    by = {r["line_no"]: r for r in out}
    assert by[1]["record_class"] == "control_msg"
    assert by[1]["commit"] is True
    assert by[1]["coordinator_epoch"] == 29
    assert by[2]["record_class"] == "txn_state"
    assert by[2]["transactional_id"] == "my-txn-1"
    assert by[2]["txn_producer_id"] == 171100
    assert by[2]["state"] == "Ongoing"
    assert by[2]["partitions"] == "foo-0"
    assert by[2]["segment_type"] == "txn_state"
    assert by[3]["record_class"] == "txn_deletion"
    assert by[3]["is_deletion"] is True


def test_snapshot_variants(spark):
    out = _parse(spark, [SNAPSHOT_K2, SNAPSHOT_K3]).collect()
    by = {r["line_no"]: r for r in out}
    assert by[1]["record_class"] == "producer_state"
    assert by[1]["current_txn_first_offset"] == 0     # None -> 0
    assert by[1]["last_timestamp_ms"] == 0            # absent -> 0
    assert by[2]["current_txn_first_offset"] == 7     # Some(7) -> 7
    assert by[2]["last_timestamp_ms"] == 1621429407000


def test_broken_28_dump_routes_to_corrupt(spark):
    out = _parse(spark, [BROKEN_28]).collect()
    assert out[0]["record_class"] == "corrupt"
    assert out[0]["corrupt_reason"] == "batch_regex_mismatch"


TOPIC_SRC = "/tmp/kafka-logs/my.topic_2-13/00000000000000000042.log"


@pytest.mark.parametrize("doc_id,source,want", [
    pytest.param("f.dump.txt:1", TOPIC_SRC, ("f.dump.txt", 1, "data", "my.topic_2", 13), id="topic"),
    pytest.param("f:1", "/tmp/kafka-logs/__consumer_offsets-49/00000000000000000000.log",
                 ("f", 1, "consumer_offsets", "__consumer_offsets", 49), id="consumer-offsets"),
    # malformed lineage is corrupt-not-crash: NULL fields, the row keeps its class
    pytest.param("nocolon", TOPIC_SRC, (None, 0, "data", "my.topic_2", 13), id="doc-id-no-colon"),
    pytest.param("f:1\r", TOPIC_SRC, (None, 0, "data", "my.topic_2", 13), id="doc-id-trailing-cr"),
    pytest.param("f:99999999999", TOPIC_SRC, (None, 0, "data", "my.topic_2", 13), id="line-no-past-int32"),
    pytest.param("f:1", "weird", ("f", 1, "data", None, None), id="source-unmatched"),
    pytest.param("f:1", "/x/t-99999999999/0.log", ("f", 1, "data", None, None), id="partition-past-int32"),
])
def test_topic_partition_inference(spark, doc_id, source, want):
    from klog_spark.operators.parse import parse_sequences

    df = spark.createDataFrame([(doc_id, [ord(c) for c in KAFKA_27_BATCH], source)],
                               "doc_id string, tokens array<int>, source string")
    r = parse_sequences(df).collect()[0]
    assert r["record_class"] == "batch"
    assert (r["file"], r["line_no"], r["segment_type"], r["topic"], r["partition"]) == want


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_parse_plan_is_one_arrow_map(spark):
    """Every parsed column comes out of the one Arrow map: only the three
    columns the kernel reads go in, and no per-row JVM regex runs after it."""
    from klog_spark.operators.parse import parse_sequences

    df = spark.createDataFrame([], INPUT_SCHEMA)
    plan = parse_sequences(df)._jdf.queryExecution().optimizedPlan()
    nodes = list(_plan_nodes(plan))
    maps = [nd for nd in nodes if nd.nodeName() == "MapInArrow"]
    assert len(maps) == 1
    child_out = maps[0].child().output()
    assert [child_out.apply(i).name() for i in range(child_out.size())] == ["doc_id", "tokens", "source"]
    exprs = set()
    for nd in nodes:
        todo = [nd.expressions().apply(i) for i in range(nd.expressions().size())]
        while todo:
            e = todo.pop()
            exprs.add(e.getClass().getSimpleName())
            todo.extend(e.children().apply(i) for i in range(e.children().size()))
    assert not exprs & {"RLike", "RegExpExtract"}, exprs


# --- full-fixture parity -----------------------------------------------------

def test_route_counts_match_oracle(parsed_df, oracle_parsed):
    spark_counts = {
        r["record_class"]: r["n"]
        for r in parsed_df.groupBy("record_class").agg(F.count("*").alias("n")).collect()
    }
    assert spark_counts == oracle.route_counts(oracle_parsed)


def test_routed_rows_and_tokens_match_oracle(parsed_df, oracle_parsed):
    """Per-row routing equality incl. token-array length (invertible
    encoding => routed-line equality)."""
    spark_rows = {
        r["doc_id"]: (r["record_class"], r["n_tok"])
        for r in parsed_df.select("doc_id", "record_class", "n_tok").collect()
    }
    assert len(spark_rows) == len(oracle_parsed)
    mismatches = [
        (p.doc_id, spark_rows[p.doc_id], p.record_class)
        for p in oracle_parsed
        if spark_rows[p.doc_id][0] != p.record_class
    ]
    assert mismatches == []


def test_field_extraction_matches_oracle_sample(parsed_df, oracle_parsed):
    want = {
        p.doc_id: p.fields
        for p in oracle_parsed
        if p.record_class == "batch"
    }
    got = parsed_df.filter(F.col("record_class") == "batch").collect()
    assert len(got) == len(want)
    for r in got[:500]:
        exp = want[r["doc_id"]]
        for k, v in exp.items():
            assert r[k] == v, (r["doc_id"], k, r[k], v)


# --- precedence + precision regressions --------------------------------------

def test_header_rule_beats_record_rule_on_line_2(spark):
    """A line-2 record line whose payload tail ends in 'starting offset: <n>'
    must classify as header (dispatch order, SegmentDumpReader.java:167-189),
    not as data_msg — both in the engine and in the Python oracle."""
    tricky = (
        "| offset: 1 CreateTime: 5 keySize: 1 valueSize: 1 sequence: 0 "
        "headerKeys: [] payload: starting offset: 5"
    )
    out = _parse(spark, [
        "Dumping /tmp/kafka-logs/foo-0/00000000000000000000.log",
        tricky,
    ]).select("line_no", "record_class").collect()
    got = {r["line_no"]: r["record_class"] for r in out}
    assert got[2] == "header"
    want = oracle.classify_and_parse(tricky, "f:2", "f", 2, "/tmp/kafka-logs/foo-0/0.log")
    assert want.record_class == "header"
    # the same text on any other line number is a data message on both sides
    out3 = _parse(spark, ["Dumping /x", "starting offset: 0", tricky]).collect()
    assert {r["line_no"]: r["record_class"] for r in out3}[3] == "data_msg"
    assert oracle.classify_and_parse(tricky, "f:3", "f", 3, "x").record_class == "data_msg"


def test_int64_fields_exact_past_2_53(spark):
    """Long.parseLong semantics: values above 2^53 must survive exactly
    (a float64 round-trip would corrupt the low bits)."""
    big = 2**62 + 12345678901234567  # not representable in float64
    line = (
        f"baseOffset: {big} lastOffset: {big + 1} count: 1 baseSequence: 0 lastSequence: 0 "
        f"producerId: {2**53 + 1} producerEpoch: 1 partitionLeaderEpoch: 679 isTransactional: true "
        f"isControl: false position: {big} CreateTime: {2**53 + 3} size: 1292 magic: 2 "
        "compresscodec: GZIP crc: 657418430 isvalid: true"
    )
    r = _parse(spark, ["Dumping /x", "starting offset: 0", line]).filter(
        F.col("record_class") == "batch"
    ).collect()[0]
    assert r["base_offset"] == big
    assert r["last_offset"] == big + 1
    assert r["producer_id"] == 2**53 + 1
    assert r["position"] == big
    assert r["create_time_ms"] == 2**53 + 3


def test_poison_tokens_route_to_corrupt(spark):
    """A token that is not a valid code point (surrogate, negative,
    > U+10FFFF) must never kill the job: its line decodes with U+FFFD,
    fails every grammar, and routes to the corrupt sink; valid rows in the
    same batch are untouched."""
    from pyspark.sql import functions as F

    from klog_spark.operators.parse import parse_sequences

    good = "baseOffset: 0 lastOffset: 0 count: 1 baseSequence: -1 lastSequence: -1 " \
           "producerId: -1 producerEpoch: -1 partitionLeaderEpoch: 0 " \
           "isTransactional: false isControl: false position: 0 CreateTime: 5 " \
           "size: 10 magic: 2 compresscodec: none crc: 1 isvalid: true"
    rows = [
        ("f.dump.txt:1", [ord(c) for c in good], "/tmp/kafka-logs/t-0/x.log"),
        ("f.dump.txt:2", [ord(c) for c in good[:20]] + [0xD800, -5, 0x110000, 2**31 - 1],
         "/tmp/kafka-logs/t-0/x.log"),
        ("f.dump.txt:3", [ord(c) for c in good], "/tmp/kafka-logs/t-0/x.log"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>, source string")
    parsed = parse_sequences(df).select("doc_id", "record_class").collect()
    by_id = {r["doc_id"]: r["record_class"] for r in parsed}
    assert by_id["f.dump.txt:1"] == "batch"
    assert by_id["f.dump.txt:3"] == "batch"
    assert by_id["f.dump.txt:2"] == "corrupt"


def test_fast_path_header_keys_greedy_semantics():
    """r9 split-based record extraction must reproduce the grammar's exact
    greedy `\\[(?P<hk>.*)\\]( payload:.*)?` semantics — including payloads
    containing ']' and '] payload:' — and the RE2-validated batch fast
    path must parse both deleteHorizonMs layouts. A digit run past its
    column's type (int64, or a narrow int32/int16/int8 field) is NULL."""
    import re

    import pyarrow as pa

    from klog_spark import grammar as g
    from klog_spark.operators.parse import _parse_arrow_batch

    cases = [
        "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: [a,b]",
        "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: [a b c]",
        "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: [] payload: hello world",
        "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: [a] payload: x[1]",
        "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: [a] payload: x] payload: y",
        "| offset: 1 createTime: 2 keysize: -1 valuesize: -1 sequence: -1 headerkeys: [x]]",
        "baseOffset: 1 lastOffset: 2 count: 1 baseSequence: -1 lastSequence: -1"
        " producerId: -1 producerEpoch: -1 partitionLeaderEpoch: 0 isTransactional: false"
        " isControl: false deleteHorizonMs: OptionalLong.empty position: 0 CreateTime: 123"
        " size: 70 magic: 2 compresscodec: none crc: 111 isvalid: true",
        "baseOffset: 99999999999999999999 lastOffset: 2 count: 1 baseSequence: -1"
        " lastSequence: -1 producerId: -1 producerEpoch: -1 partitionLeaderEpoch: 0"
        " isTransactional: false isControl: false position: 0 CreateTime: 123 size: 70"
        " magic: 2 compresscodec: none crc: 111 isvalid: true",
    ]
    # narrow fields exactly at their type bound, then one past it
    # (count int32, producerEpoch int16, magic int8; keySize int32)
    for count, epoch, magic, key_size in ((2**31 - 1, 2**15 - 1, 127, 2**31 - 1),
                                          (2**31, 2**15, 128, 2**31)):
        cases.append(
            f"baseOffset: 1 lastOffset: 2 count: {count} baseSequence: -1 lastSequence: -1"
            f" producerId: 7 producerEpoch: {epoch} partitionLeaderEpoch: 0"
            " isTransactional: false isControl: false position: 0 CreateTime: 123 size: 70"
            f" magic: {magic} compresscodec: none crc: 111 isvalid: true")
        cases.append(f"| offset: 1 CreateTime: 2 keySize: {key_size} valueSize: 4 sequence: 5"
                     " headerKeys: []")
    rows = [(f"f.dump.txt:{i + 3}", [ord(c) for c in ln], len(ln),
             "/tmp/kafka-logs/t-0/0.log") for i, ln in enumerate(cases)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array([r[0] for r in rows]),
         pa.array([r[1] for r in rows], type=pa.list_(pa.int32())),
         pa.array([r[2] for r in rows], type=pa.int32()),
         pa.array([r[3] for r in rows])],
        names=["doc_id", "tokens", "n_tok", "source"])
    d = _parse_arrow_batch(batch).to_pydict()
    pat = re.compile(r"^(?:%s)$" % g.DATA_RECORD_PATTERN.pattern)
    for i, ln in enumerate(cases[:6]):
        m = pat.match(ln)
        assert d["record_class"][i] == "data_msg"
        assert d["header_keys"][i] == m.group("header_keys")
    # dhm layout parses; the empty sentinel maps to NULL
    assert d["record_class"][6] == "batch" and d["delete_horizon_ms"][6] is None
    # >int64 digit run: still a batch row, field NULL (corrupt-not-crash)
    assert d["record_class"][7] == "batch" and d["base_offset"][7] is None
    assert d["last_offset"][7] == 2
    # a narrow field past its bound is NULL, never wrapped; the row keeps
    # its class and its other fields
    assert [d[c][8] for c in ("record_class", "count", "producer_epoch", "magic")] == \
        ["batch", 2**31 - 1, 2**15 - 1, 127]
    assert [d[c][9] for c in ("record_class", "key_size", "value_size")] == ["data_msg", 2**31 - 1, 4]
    assert [d[c][10] for c in ("record_class", "count", "producer_epoch", "magic", "producer_id")] == \
        ["batch", None, None, None, 7]
    assert [d[c][11] for c in ("record_class", "key_size", "value_size")] == ["data_msg", None, 4]
