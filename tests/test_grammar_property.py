"""Property-based parse tests: random grammar-valid lines must classify and
extract identically in the vectorized Spark parser and the Python oracle —
including hostile-but-legal field contents (any payload tail, any header
keys, extreme numerics at their type bounds)."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from klog_spark import grammar as g
from klog_spark import oracle
from klog_spark.operators.parse import _parse_arrow_batch

# full int64 range: the parser must be exact past 2^53 (no float round-trip)
nat = st.integers(min_value=0, max_value=2**63 - 1)
i32 = st.integers(min_value=-(2**31), max_value=2**31 - 1)
i16 = st.integers(min_value=-(2**15), max_value=2**15 - 1)
u32 = st.integers(min_value=0, max_value=2**32 - 1)
boolean = st.sampled_from(["true", "false"])
codec = st.sampled_from(["none", "ZSTD", "GZIP", "SNAPPY"])
hdr = st.text(alphabet="abcdefz-,0123456789", max_size=12)
payload_tail = st.one_of(st.just(""), st.text(alphabet="abc xyz:=[]|", max_size=20).map(lambda s: " payload: " + s))


@st.composite
def batch_lines(draw):
    dh = draw(st.sampled_from(["", " deleteHorizonMs: OptionalLong.empty", " deleteHorizonMs: 123456"]))
    return (
        f"baseOffset: {draw(nat)} lastOffset: {draw(nat)} count: {draw(st.integers(0, 10**6))} "
        f"baseSequence: {draw(i32)} lastSequence: {draw(i32)} producerId: {draw(st.integers(-1, 2**63 - 1))} "
        f"producerEpoch: {draw(i16)} partitionLeaderEpoch: {draw(st.integers(0, 2**31 - 1))} "
        f"isTransactional: {draw(boolean)} isControl: {draw(boolean)}{dh} "
        f"position: {draw(nat)} CreateTime: {draw(nat)} size: {draw(st.integers(0, 2**31 - 1))} "
        f"magic: {draw(st.integers(0, 127))} compresscodec: {draw(codec)} crc: {draw(u32)} "
        f"isvalid: {draw(boolean)}"
    )


@st.composite
def data_lines(draw):
    ct = draw(st.sampled_from(["CreateTime", "createTime"]))
    ks = draw(st.sampled_from(["keySize", "keysize"]))
    hk = draw(st.sampled_from(["headerKeys", "headerkeys"]))
    return (
        f"| offset: {draw(nat)} {ct}: {draw(nat)} {ks}: {draw(i32)} valueSize: {draw(i32)} "
        f"sequence: {draw(i32)} {hk}: [{draw(hdr)}]{draw(payload_tail)}"
    )


@st.composite
def snapshot_lines(draw):
    cur = draw(st.sampled_from(["None", f"Some({draw(nat)})"]))
    lt = draw(st.sampled_from(["", f" lastTimestamp: {draw(nat)}"]))
    return (
        f"producerId: {draw(nat)} producerEpoch: {draw(st.integers(0, 2**15 - 1))} "
        f"coordinatorEpoch: {draw(st.integers(0, 2**31 - 1))} currentTxnFirstOffset: {cur}{lt} "
        f"firstSequence: {draw(st.integers(0, 2**31 - 1))} lastSequence: {draw(st.integers(0, 2**31 - 1))} "
        f"lastOffset: {draw(nat)} offsetDelta: {draw(st.integers(0, 2**31 - 1))} timestamp: {draw(nat)}"
    )


gname = st.text(alphabet="abcdef-_.0123456789", max_size=10)


@st.composite
def offset_commit_lines(draw):
    grp, topic = draw(gname), draw(gname)
    kind = draw(st.sampled_from(["commit", "tombstone", "bad"]))
    if kind == "tombstone":
        payload = "<DELETE>"
    elif kind == "bad":  # digit-free: can never match the payload grammar
        payload = draw(st.text(alphabet="abc=,x ", max_size=15))
    else:
        le = draw(st.sampled_from(["Optional.empty", f"Optional[{draw(st.integers(0, 2**31 - 1))}]"]))
        exp = draw(st.sampled_from(["None", str(draw(nat))]))
        payload = (
            f"offset={draw(nat)},leader_epoch={le},metadata={draw(st.text(alphabet='abcz-0123456789', max_size=8))},"
            f"commit_timestamp={draw(nat)},expire_timestamp={exp}"
        )
    return (
        f"| offset: {draw(nat)} CreateTime: {draw(nat)} keySize: {draw(i32)} valueSize: {draw(i32)} "
        f"sequence: {draw(i32)} headerKeys: [{draw(hdr)}] "
        f"key: offset_commit::group={grp},topic={topic},partition={draw(st.integers(0, 2**31 - 1))} "
        f"payload: {payload}"
    )


@st.composite
def group_metadata_lines(draw):
    kind = draw(st.sampled_from(["meta", "tombstone", "bad"]))
    if kind == "tombstone":
        payload = "<DELETE>"
    elif kind == "bad":
        payload = draw(st.text(alphabet="abc=, x", max_size=15))
    else:
        payload = (
            f"protocolType={draw(gname)},generation={draw(st.integers(0, 2**31 - 1))},"
            f"protocol={draw(gname)},leader={draw(gname)},members={draw(st.integers(0, 2**31 - 1))}"
        )
    return (
        f"| offset: {draw(nat)} CreateTime: {draw(nat)} keySize: {draw(i32)} valueSize: {draw(i32)} "
        f"sequence: {draw(i32)} headerKeys: [{draw(hdr)}] "
        f"key: group_metadata::group={draw(gname)} payload: {payload}"
    )


@st.composite
def control_lines(draw):
    return (
        f"| offset: {draw(nat)} CreateTime: {draw(nat)} keySize: {draw(i32)} valueSize: {draw(i32)} "
        f"sequence: {draw(i32)} headerKeys: [{draw(hdr)}]{draw(payload_tail)} "
        f"endTxnMarker: {draw(st.sampled_from(['COMMIT', 'ABORT']))} "
        f"coordinatorEpoch: {draw(st.integers(0, 2**31 - 1))}"
    )


@st.composite
def txn_state_lines(draw):
    kind = draw(st.sampled_from(["state", "tombstone", "bad"]))
    if kind == "tombstone":
        payload = "<DELETE>"
    elif kind == "bad":  # digit-free: can never match the payload grammar
        payload = draw(st.text(alphabet="abc=,x ", max_size=15))
    else:
        payload = (
            f"producerId:{draw(nat)},producerEpoch:{draw(st.integers(0, 2**15 - 1))},"
            f"state={draw(st.sampled_from(g.TXN_STATES))},"
            f"partitions=[{draw(st.text(alphabet='abc-,0123456789', max_size=12))}],"
            f"txnLastUpdateTimestamp={draw(nat)},txnTimeoutMs={draw(nat)}"
        )
    return (
        f"| offset: {draw(nat)} CreateTime: {draw(nat)} keySize: {draw(i32)} valueSize: {draw(i32)} "
        f"sequence: {draw(i32)} headerKeys: [{draw(hdr)}]{draw(payload_tail)} "
        f"key: transaction_metadata::transactionalId={draw(gname)} payload: {payload}"
    )


def _parse_lines(lines):
    docs = [f"f.log.dump.txt:{i + 3}" for i in range(len(lines))]
    src = "/tmp/kafka-logs/t-0/00000000000000000000.log"
    tok = [[ord(c) for c in ln] for ln in lines]
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array(docs, pa.string()),
            "tokens": pa.array(tok, pa.list_(pa.int32())),
            "n_tok": pa.array([len(t) for t in tok], pa.int32()),
            "source": pa.array([src] * len(lines), pa.string()),
        }
    )
    out = _parse_arrow_batch(batch).to_pandas()
    want = [oracle.classify_and_parse(ln, d, "f.log.dump.txt", i + 3, src)
            for i, (ln, d) in enumerate(zip(lines, docs))]
    return out, want


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(batch_lines(), data_lines(), snapshot_lines(),
                          offset_commit_lines(), group_metadata_lines(),
                          control_lines(), txn_state_lines(),
                          st.text(alphabet="abc|: 0123456789", max_size=40)), min_size=1, max_size=20))
def test_parse_matches_oracle_on_random_lines(lines):
    out, want = _parse_lines(lines)
    for i, w in enumerate(want):
        assert out.loc[i, "record_class"] == w.record_class, (lines[i], out.loc[i, "record_class"], w.record_class)
        for field, val in w.fields.items():
            if field in ("reason",):
                continue
            got = out.loc[i, field]
            if isinstance(got, float) and pd.isna(got):
                got = None
            elif isinstance(got, (np.integer,)):
                got = int(got)
            elif isinstance(got, (np.bool_,)):
                got = bool(got)
            assert got == val, (lines[i], field, got, val)


# --- lineage parity: the kernel's five lineage columns vs the JVM ------------

def _jvm_lineage(df):
    """The five JVM expressions that derived lineage after the Arrow map
    before the kernel emitted them itself (the reference for the property
    below)."""
    from pyspark.sql import functions as F

    doc_matched = F.col("doc_id").rlike(r"^.*:[0-9]+$")
    return df.select(
        F.when(doc_matched,
               F.regexp_extract(F.col("doc_id"), r"^(.*):([0-9]+)$", 1)).alias("file"),
        F.when(doc_matched,
               F.regexp_extract(F.col("doc_id"), r"^(.*):([0-9]+)$", 2)
               .cast("int")).otherwise(F.lit(0)).alias("line_no"),
        F.when(F.col("source").rlike(r"/__transaction_state-[0-9]+/[^/]+$"), F.lit("txn_state"))
        .when(F.col("source").rlike(r"/__consumer_offsets-[0-9]+/[^/]+$"), F.lit("consumer_offsets"))
        .otherwise(F.lit("data")).alias("segment_type"),
        F.regexp_extract(F.col("source"), r".*/([a-zA-Z0-9_.-]+)-([0-9]+)/[^/]+$", 1).alias("topic"),
        F.regexp_extract(F.col("source"), r".*/([a-zA-Z0-9_.-]+)-([0-9]+)/[^/]+$", 2)
        .cast("int").alias("partition"),
    )


near_2_31 = st.integers(min_value=2**31 - 3, max_value=2**31 + 3).map(str)
number = st.one_of(st.integers(0, 999).map(str), near_2_31, st.just("99999999999"),
                   st.tuples(st.sampled_from(["0", "000"]), near_2_31).map("".join))
path_part = st.text(alphabet="abz09._-", min_size=1, max_size=6)
topic_name = st.one_of(st.text(alphabet="aZ09._-", min_size=1, max_size=8),
                       st.sampled_from(["__transaction_state", "__consumer_offsets", "my.topic_2"]))


@st.composite
def lineage_rows(draw):
    dirs = "/".join(draw(st.lists(path_part, max_size=3)))
    topic = draw(topic_name)
    seg = draw(st.one_of(
        st.tuples(st.just(topic + "-"), number).map("".join),
        st.just(topic), path_part))
    source = draw(st.sampled_from(["/", ""])) + (dirs + "/" if dirs else "") + seg + "/" + draw(path_part)
    source = draw(st.one_of(st.just(source), st.just(source + "/"), path_part))
    doc = draw(path_part) + draw(st.sampled_from([":", "::", ":x:", ""])) + draw(number)
    return doc, source


@settings(max_examples=25, deadline=None)
@given(st.lists(lineage_rows(), min_size=1, max_size=30))
def test_lineage_matches_jvm_reference(spark, rows):
    """Where the JVM expressions answer, the kernel gives the same five
    values. Where they would fail the job (an ANSI int cast of '' or of a
    number past int32), the kernel gives NULL fields instead: the reference
    runs with ANSI off, so a NULL cast result marks those rows."""
    ref_df = spark.createDataFrame(rows, "doc_id string, source string")
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        ref = [r.asDict() for r in _jvm_lineage(ref_df).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array([d for d, _ in rows], pa.string()),
        "tokens": pa.array([[ord("x")]] * len(rows), pa.list_(pa.int32())),
        "source": pa.array([s for _, s in rows], pa.string()),
    })
    got = _parse_arrow_batch(batch).select(list(ref[0])).to_pylist()
    for row, want, have in zip(rows, ref, got):
        doc_raises = want["line_no"] is None
        src_raises = want["partition"] is None
        if doc_raises:
            want.update(file=None, line_no=0)
        if src_raises:
            want.update(topic=None, partition=None)
        assert have == want, (row, have, want)
