"""``Pipeline`` builds each plan once per source and argument tuple: a
repeated call re-plans and re-executes its query, but does not rebuild it."""

import py4j.clientserver
import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(map(tuple, df.collect()))


class _Counted:
    """Counts the Spark jobs and the py4j commands sent inside a ``with``
    block. py4j's memory commands (``m``, garbage-collection traffic) vary
    from run to run and are not counted."""

    _n = 0

    def __init__(self, spark):
        self.sc = spark.sparkContext
        _Counted._n += 1
        self.group = f"pipeline-test-{_Counted._n}"
        self.sent = []

    def __enter__(self):
        conn = py4j.clientserver.ClientServerConnection
        self._send = send = conn.send_command
        sent = self.sent

        def counting(conn_self, command, *args, **kwargs):
            if not command.startswith("m\n"):
                sent.append(command)
            return send(conn_self, command, *args, **kwargs)

        self.sc.setJobGroup(self.group, self.group)
        conn.send_command = counting
        return self

    def __exit__(self, *exc):
        py4j.clientserver.ClientServerConnection.send_command = self._send
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def commands(self) -> int:
        return len(self.sent)

    @property
    def jobs(self) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))


@pytest.fixture(scope="module")
def half_input(spark, fixture_dir, tmp_path_factory):
    """Tokenized parquet of the first half of the fixture's dump files."""
    full = spark.read.parquet(f"{fixture_dir}/sequences.parquet")
    file = F.regexp_extract("doc_id", r"^(.*):[0-9]+$", 1)
    files = sorted(r[0] for r in full.select(file).distinct().collect())
    out = str(tmp_path_factory.mktemp("half") / "part.parquet")
    full.filter(file.isin(*files[: len(files) // 2])).write.parquet(out)
    return out


def test_stage_reads_its_input_with_the_declared_schema(spark, fixture_dir, tmp_path):
    """``stage()`` starts no footer-reading schema-inference job: it runs
    the routed write's jobs only (its pre-shuffle's map stage, when the
    session pre-shuffles, and the write) and stages the sink counts a read
    with an inferred schema gives."""
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing, resolve_pre_shuffle, sink_counts
    from klog_spark.pipeline import Pipeline

    with _Counted(spark) as c:
        p = Pipeline(spark, fixture_dir).stage(str(tmp_path / "staged"))
    pre_shuffle, _ = resolve_pre_shuffle(spark, None)
    assert c.jobs == 1 + pre_shuffle
    inferred = apply_validity_routing(parse_sequences(
        spark.read.parquet(f"{fixture_dir}/sequences.parquet")))
    assert _rows(p.sink_counts()) == _rows(sink_counts(inferred))


QUERIES = {
    "txn_stats": lambda p: [p.txn_stats()],
    "open_txn_abort_commands": lambda p: [p.open_txn_abort_commands()],
    "all_checks": lambda p: list(p.all_checks().values()),
    "group_lag": lambda p: [p.group_lag()],
    "group_offsets": lambda p: [p.group_offsets()],
    "group_metadata": lambda p: [p.group_metadata()],
    "enriched_batches": lambda p: [p.enriched_batches()],
    "cat_batches": lambda p: [p.cat_batches(pid=1)],
    "cat_producer_states": lambda p: [p.cat_producer_states()],
    "abort_commands": lambda p: [p.abort_commands(1, 0)],
    "sink_counts": lambda p: [p.sink_counts()],
}


def test_second_call_reuses_the_plan_and_reruns_it(spark, fixture_dir, tmp_path):
    """A repeated query call sends a few py4j commands, not a rebuild of its
    plan, and still runs every Spark job the first call ran (a reused
    QueryExecution would skip the shuffles already materialized), with the
    same rows."""
    from klog_spark.pipeline import Pipeline

    p = Pipeline(spark, fixture_dir).stage(str(tmp_path / "staged"))
    for name, query in QUERIES.items():
        calls = []
        for _ in range(2):
            with _Counted(spark) as built:
                dfs = query(p)
            with _Counted(spark) as ran:
                rows = [_rows(df) for df in dfs]
            calls.append((built.commands, ran.jobs, rows))
        (first_cmds, first_jobs, first_rows), (cmds, jobs, rows) = calls
        assert cmds <= 60 and cmds < first_cmds, (name, first_cmds, cmds)
        assert jobs == first_jobs > 0, (name, first_jobs, jobs)
        assert rows == first_rows, name


def test_plans_are_memoized_per_argument_tuple(spark, fixture_dir):
    """``cat_batches(pid=a)`` and ``cat_batches(pid=b)`` are two plans: each
    answers as a fresh Pipeline does, in either order."""
    from klog_spark.pipeline import Pipeline

    pids = [r[0] for r in Pipeline(spark, fixture_dir).parsed()
            .filter((F.col("record_class") == "batch") & (F.col("producer_id") >= 0))
            .select("producer_id").distinct().orderBy("producer_id").limit(2).collect()]
    p = Pipeline(spark, fixture_dir)
    got = {pid: _rows(p.cat_batches(pid=pid)) for pid in pids}
    a, b = pids
    assert got[a] and got[b] and got[a] != got[b]
    for pid in (b, a):
        assert _rows(p.cat_batches(pid=pid)) == got[pid] == _rows(Pipeline(spark, fixture_dir).cat_batches(pid=pid))


def test_persisted_base_view_serves_later_plans(spark, fixture_dir):
    """``parsed_raw()`` returns the memoized parse itself, so a caller's
    ``persist()`` on it serves a query plan built before the persist: a
    later call's plan reads the cache."""
    from klog_spark.pipeline import Pipeline

    p = Pipeline(spark, fixture_dir)
    assert "InMemoryTableScan" not in p.txn_stats()._jdf.queryExecution().executedPlan().toString()
    raw = p.parsed_raw().persist()
    try:
        assert p.parsed_raw() is raw
        assert "InMemoryTableScan" in p.txn_stats()._jdf.queryExecution().executedPlan().toString()
    finally:
        raw.unpersist()


def test_input_change_drops_the_memoized_plans(spark, fixture_dir, half_input):
    """An unstaged Pipeline whose ``fixture_dir`` changes answers from the
    new input only. (The staged case is
    ``test_staging.py::test_restage_drops_the_memoized_views``.)"""
    from klog_spark.pipeline import Pipeline

    p = Pipeline(spark, half_input)
    before = {"sink_counts": _rows(p.sink_counts()), "txn_stats": _rows(p.txn_stats())}
    p.fixture_dir = fixture_dir
    after = {"sink_counts": _rows(p.sink_counts()), "txn_stats": _rows(p.txn_stats())}
    fresh = Pipeline(spark, fixture_dir)
    assert after["sink_counts"] != before["sink_counts"]
    assert after == {"sink_counts": _rows(fresh.sink_counts()), "txn_stats": _rows(fresh.txn_stats())}
