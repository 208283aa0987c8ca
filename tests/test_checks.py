"""W1-W8 ordered checks + routing + javahash + checkpoint/resume tests."""

import pytest
from pyspark.sql import functions as F

from klog_spark import oracle
from klog_spark.javahash import coordinating_partition_np, java_string_hash_np
from klog_spark.operators import checks
from klog_spark.operators.route import apply_validity_routing


def test_state_machine_violations_match_oracle(parsed_df, oracle_parsed):
    got = sorted(r["doc_id"] for r in checks.state_machine_violations(parsed_df).collect())
    want = sorted(oracle.state_machine_violations(oracle_parsed))
    assert got == want
    assert len(got) > 0  # fixture injects some


def test_state_machine_lookup_semantics(spark):
    """The validPrevious lookup flags a transition from a state outside the
    predecessor set, and never flags a state the table does not know."""
    states = ["Empty", "PrepareCommit", "Bogus", "Ongoing", "PrepareCommit"]
    df = spark.createDataFrame(
        [(f"f:{i}", "f", i, "txn_state", "t", 7, 0, st) for i, st in enumerate(states, 1)],
        "doc_id string, file string, line_no int, record_class string, transactional_id string, "
        "txn_producer_id long, txn_producer_epoch int, state string",
    )
    got = [(r["line_no"], r["prev_state"], r["state"])
           for r in checks.state_machine_violations(df).orderBy("line_no").collect()]
    assert got == [(2, "Empty", "PrepareCommit"), (4, "Bogus", "Ongoing")]


def test_position_monotonic_holds_on_fixture(parsed_df):
    # generator emits strictly increasing positions per file
    assert checks.position_monotonic_violations(parsed_df).count() == 0


def test_leader_epoch_monotonic_holds_on_fixture(parsed_df):
    assert checks.leader_epoch_monotonic_violations(parsed_df).count() == 0


def test_batch_message_count_check(parsed_df):
    # corrupt injections can orphan messages; flagged batches must each be
    # adjacent to at least one corrupt line in the same file — sanity: the
    # check runs and returns a DataFrame with the right shape
    df = checks.batch_message_count_check(parsed_df)
    assert set(df.columns) == {"batch_doc_id", "file", "line_no", "count", "n_messages"}
    flagged = df.count()
    corrupt = parsed_df.filter(F.col("record_class") == "corrupt").count()
    assert flagged <= 2 * corrupt + 1


def _sequential_message_count_check(rows) -> list[tuple]:
    """klog's sequential cursor (SegmentDumpReader.java:182-203): walk each
    file's lines in order, keep the current batch and count the message
    lines under it; flag a batch whose ``count`` differs, in files that hold
    any message line."""
    from klog_spark.operators.aggregates import MSG_CLASSES

    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r["file"], []).append(r)
    flagged = []
    for file, lines in by_file.items():
        if not any(r["record_class"] in MSG_CLASSES for r in lines):
            continue
        counted = []  # [batch row, message lines under it]
        for r in sorted(lines, key=lambda r: r["line_no"]):
            if r["record_class"] == "batch":
                counted.append([r, 0])
            elif r["record_class"] in MSG_CLASSES and counted:
                counted[-1][1] += 1
        flagged += [(b["doc_id"], file, b["line_no"], b["count"], n) for b, n in counted
                    if b["count"] is not None and b["count"] != n]
    return sorted(flagged)


def test_batch_message_count_matches_sequential_cursor(spark, fixture_dir, tmp_path):
    """The one-window message-count check equals klog's sequential cursor
    on the fixture, unstaged and staged, and its staged plan is one scan
    and one window with no join."""
    import contextlib
    import io
    import re

    from klog_spark.pipeline import Pipeline

    direct = Pipeline(spark, fixture_dir)
    want = _sequential_message_count_check(direct.parsed_raw().select(
        "record_class", "file", "line_no", "doc_id", "count").collect())
    assert want
    staged = Pipeline(spark, fixture_dir).stage(str(tmp_path / "staged"))
    for p in (direct, staged):
        got = p.all_checks()["batch_message_count"]
        assert sorted(map(tuple, got.collect())) == want

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        staged.all_checks()["batch_message_count"].explain("simple")
    plan = buf.getvalue()
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("FileScan") == 1, plan


def test_validity_routing(parsed_df, oracle_parsed):
    routed = apply_validity_routing(parsed_df)
    n_crc = routed.filter(F.col("corrupt_reason") == "crc_invalid").count()
    want = sum(
        1 for p in oracle_parsed
        if p.record_class == "batch" and not p.fields["is_valid"]
    )
    assert n_crc == want
    assert n_crc > 0
    # no invalid batches survive in the batch class
    assert routed.filter((F.col("record_class") == "batch") & ~F.col("is_valid")).count() == 0


# --- javahash (F5) -----------------------------------------------------------

def _java_hash_ref(s: str) -> int:
    utf16 = s.encode("utf-16-le")
    h = 0
    for unit in [int.from_bytes(utf16[i:i + 2], "little") for i in range(0, len(utf16), 2)]:
        h = (31 * h + unit) & 0xFFFFFFFF
    return h - 0x100000000 if h >= 0x80000000 else h


@pytest.mark.parametrize(
    "s,expected",
    [
        ("", 0),
        ("a", 97),
        ("my-txn-1", None),          # checked against the formula
        ("transactional-id-xyz", None),
        ("é漢字", None),  # non-ASCII UTF-16 units
        ("line one\nline two\nline three", None),
        ("emoji 🎉 and CJK 漢字 mixed", None),  # surrogate pair
        ("tab\tand\rcarriage", None),
    ],
)
def test_java_string_hash(s, expected):
    import pandas as pd

    got = int(java_string_hash_np(pd.Series([s]))[0])
    want = expected if expected is not None else _java_hash_ref(s)
    assert got == want


def test_coordinating_partition_matches_reference_rule():
    import pandas as pd

    ids = pd.Series(["my-txn-1", "txn-app-3", "x", ""])
    parts = coordinating_partition_np(ids, 50)
    for s, p in zip(ids, parts):
        h = _java_hash_ref(s)
        a = 0 if h == -0x80000000 else abs(h)
        assert int(p) == a % 50


# --- checkpoint / resume ------------------------------------------------------

def test_checkpoint_resume_idempotent(spark, fixture_dir, tmp_path):
    """Idempotent resume. The body retries ONCE on PySpark's own exception
    types only — the documented ~1/10 full-suite environmental flake on
    this VM (CLAUDE.md): a loaded-box Spark error is not an idempotence
    violation. AssertionErrors (real regressions: re-processed files,
    duplicated rows) propagate immediately with no retry."""
    from pyspark.errors import PySparkException

    from klog_spark.checkpoint import Checkpoint, run_incremental

    last_env_err = None
    for attempt in range(2):
        out = tmp_path / f"routed_out{attempt}"
        try:
            ckpt = Checkpoint(out / "_checkpoint")
            r1 = run_incremental(spark, f"{fixture_dir}/sequences.parquet", str(out), ckpt)
            assert r1["n_files"] > 0
            total1 = sum(r1["sink_counts"].values())
            # resume: everything already processed -> zero new rows
            r2 = run_incremental(spark, f"{fixture_dir}/sequences.parquet", str(out), ckpt)
            assert r2["n_files"] == 0
            routed = spark.read.parquet(str(out / "routed"))
            assert routed.count() == total1  # no duplicates after re-run
            return
        except PySparkException as e:  # noqa: PERF203 - environmental only
            last_env_err = e
    raise last_env_err


def test_monotonic_checks_flag_planted_violations(spark):
    """W2/W3 positive path: a position regression and a leader-epoch
    regression in one file are flagged — and only they are."""
    from klog_spark.operators import checks
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.schemas import INPUT_SCHEMA

    batch = (
        "baseOffset: {o} lastOffset: {o} count: 0 baseSequence: 0 lastSequence: 0 "
        "producerId: 7 producerEpoch: 0 partitionLeaderEpoch: {le} isTransactional: false "
        "isControl: false position: {pos} CreateTime: 1000 size: 10 magic: 2 "
        "compresscodec: none crc: 1 isvalid: true"
    )
    lines = [
        "Dumping /tmp/kafka-logs/t-0/00000000000000000000.log",
        "Log starting offset: 0",
        batch.format(o=0, le=1, pos=0),
        batch.format(o=1, le=1, pos=100),
        batch.format(o=2, le=1, pos=50),    # position regression (line 5)
        batch.format(o=3, le=0, pos=200),   # leader-epoch regression (line 6)
    ]
    src = "/tmp/kafka-logs/t-0/00000000000000000000.log"
    rows = [(f"f:{i + 1}", [ord(c) for c in ln], len(ln), src) for i, ln in enumerate(lines)]
    parsed = parse_sequences(spark.createDataFrame(rows, INPUT_SCHEMA))

    pv = checks.position_monotonic_violations(parsed).collect()
    assert [(r["line_no"], r["position"], r["prev_position"]) for r in pv] == [(5, 50, 100)]
    lv = checks.leader_epoch_monotonic_violations(parsed).collect()
    assert [(r["line_no"], r["partition_leader_epoch"], r["prev_le"]) for r in lv] == [(6, 0, 1)]


def test_incremental_staging_gives_exact_read_committed(spark, fixture_dir, tmp_path):
    """The boundary streaming.py documents: read-committed visibility is a
    batch query over the committed sink, which checkpoint.run_incremental
    stages in whole-file runs. Stage the corpus in TWO file batches, then
    read-committed group offsets over the staged table must equal the
    single-pass batch result — even though some transactions' markers land
    in the second batch."""
    from pyspark.sql import functions as F

    from klog_spark.checkpoint import Checkpoint, run_incremental
    from klog_spark.operators.group_offsets import read_committed_group_offsets
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing

    full = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    files = sorted(
        r["f"] for r in full.select(
            F.regexp_extract("doc_id", r"^(.*):[0-9]+$", 1).alias("f")
        ).distinct().collect()
    )
    first_half = set(files[: len(files) // 2])
    part1 = str(tmp_path / "part1.parquet")
    full.filter(
        F.regexp_extract("doc_id", r"^(.*):[0-9]+$", 1).isin(*first_half)
    ).write.parquet(part1)

    out = tmp_path / "inc_out"
    ckpt = Checkpoint(out / "_checkpoint")
    r1 = run_incremental(spark, part1, str(out), ckpt)
    r2 = run_incremental(spark, f"{fixture_dir}/sequences.parquet", str(out), ckpt)
    assert r1["n_files"] > 0 and r2["n_files"] > 0

    # post-routing staged view, classes pre-filtered for partition pruning —
    # the operator's input contract (no corrupt-restore here)
    staged = spark.read.parquet(str(out / "routed")).filter(
        F.col("record_class").isin("batch", "offset_commit", "control_msg")
    )
    got = {
        (r["group_id"], r["commit_topic"], r["commit_partition"]): r["committed_offset"]
        for r in read_committed_group_offsets(staged).collect()
    }
    want = {
        (r["group_id"], r["commit_topic"], r["commit_partition"]): r["committed_offset"]
        for r in read_committed_group_offsets(
            apply_validity_routing(parse_sequences(full))
        ).collect()
    }
    assert got == want and got
