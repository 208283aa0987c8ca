"""The two workloads, each driving ``klog_spark``'s public API.

* ``ingest_route`` — closed loop, 1 client: ``Pipeline.stage()`` (parse ->
  validity route -> one partitioned write) into a fresh directory per rep.
* ``staged_queries`` — the fixture is staged once in set-up; then a closed
  loop, 1 client, runs the reference's query surface through
  ``Pipeline(staging_dir=...)`` in a seeded, fixed order. One operation is
  one query; the latency reported is that of a pass over all of them.

Every output is compared with the oracle (``inputs.py``). A traced run
repeats the loop with spans on and then times each layer by prefixes of the
plan written to the ``noop`` sink: a layer's self time is its prefix minus
the previous prefix. The traced ``ingest_route`` run also probes the
checkpoint layer (``probe_checkpoint``): incremental runs over the
fixture's increments with one crashed run to recover from.
"""

from __future__ import annotations

import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from inputs import SINKS, Inputs, canon_df, sink_counts_canon
from tracing import (Tracer, median, read_event_logs, start_spark, stop_spark,
                     totals_by_span_name)

#: Fixture scale factor (66k dump lines).
SF = 0.01
#: Increments the checkpoint probe splits the fixture into.
INCREMENTS = 3
#: Stage reps run before ingest_route's timing starts (the JIT warms up).
WARMUP_STAGES = 2
#: Fewest untraced passes over the query surface in a staged_queries run.
#: After the one warm-up pass the next is still ~30% slower than the one
#: after it, so a run that stopped after one pass would report a statistic
#: of its own.
MIN_PASSES = 2
#: An operation slower than this counts as failed.
OP_TIMEOUT_S = 60.0
#: Layer-probe repetitions in a traced run (medians are reported).
PROBE_REPS = 2
#: Corrupt reasons that validity routing adds (``route.apply_validity_routing``).
ROUTE_REASONS = ("crc_invalid", "txn_state_segment_invariant",
                 "transactional_batch_without_session", "non_transactional_producer_state")

MB = 1024 * 1024

#: Per-layer metrics of a traced run -> unit; layers are named after modules.
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.scan_mb": "MB",
    "parse.self_s": "s", "parse.rows_in": "rows", "parse.rows_out": "rows",
    "parse.corrupt_ratio": "ratio", "parse.py_in_mb": "MB", "parse.py_out_mb": "MB",
    "parse.rows_per_s_serial": "rows/s",
    "route.tag_self_s": "s", "route.write_self_s": "s", "route.shuffle_mb": "MB",
    "route.spill_mb": "MB", "route.files": "count", "route.rerouted_rows": "rows",
    **{f"route.rows.{s}": "rows" for s in SINKS},
    "enrich.self_s": "s", "enrich.rows_in": "rows", "enrich.matched_ratio": "ratio",
    "aggregates.txn_stats_s": "s", "aggregates.open_txns_s": "s", "aggregates.shuffle_mb": "MB",
    "aggregates.window_rows": "rows",
    "checks.all_s": "s", "checks.violations": "rows",
    "group_offsets.lag_s": "s",
    "checkpoint.run_s": "s", "checkpoint.empty_run_s": "s", "checkpoint.rows_scanned": "rows",
    "checkpoint.rows_new": "rows", "checkpoint.useful_ratio": "ratio",
    "checkpoint.orphans_dropped": "count", "checkpoint.manifest_kb": "KB",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count", "spark.tasks_failed": "count",
    "spark.gc_s_per_op": "s", "spark.scaling_eff_1_to_4": "ratio",
    "trace.latency_s_p50": "s", "trace.overhead_pct": "%",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    """One benchmark run: inputs, session, counters and metrics."""

    work: Path
    inputs: Inputs
    seconds: float
    trace: bool
    seed: int
    cores: int
    spans_out: Path | None = None  # where a traced run writes its spans
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    layer: dict = field(default_factory=lambda: dict.fromkeys(PER_LAYER, 0.0))

    def check(self, what: str, got, want) -> None:
        if got != want:
            self.wrong += 1
            log(f"WRONG {what}: got {str(got)[:300]} want {str(want)[:300]}")

    def run_op(self, name: str, fn):
        """One measured operation; returns its latency, or None if it failed."""
        from klog_spark.cachereg import release_tracked

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(name):
                fn()
        except Exception:  # noqa: BLE001 — a failed operation is counted, the loop goes on
            self.failed += 1
            log(f"operation {name} failed:\n{traceback.format_exc()}")
            return None
        finally:
            release_tracked()
        dt = time.perf_counter() - t0
        if dt > OP_TIMEOUT_S:
            self.failed += 1
            log(f"operation {name} timed out ({dt:.1f}s)")
            return None
        return dt

    def start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = start_spark(self.work, self.cores, event_log=self.trace)
        self.tracer.sc = self.spark.sparkContext
        dt = time.perf_counter() - t0
        self.layer["session.start_s"] = dt
        return dt

    def set_traced(self, i: int) -> bool:
        """Tracing for the i-th operation: a traced run alternates operations
        with tracing off and on, so warm-up drift cannot pose as overhead."""
        self.tracer.enabled = self.trace and i % 2 == 1
        return self.tracer.enabled

    def record_overhead(self, plain: list[float], traced: list[float]) -> None:
        """Operation times with tracing off and on, from one traced run."""
        self.layer["trace.latency_s_p50"] = median(traced)
        if plain and traced:
            self.layer["trace.overhead_pct"] = 100.0 * (median(traced) / median(plain) - 1.0)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def sink_stats(path: Path, run_ids: set[str] | None = None) -> tuple[int, int, dict[str, int]]:
    """(files, bytes, rows per record_class) of a routed sink, read from
    parquet footers — no Spark job. ``run_ids`` restricts to those runs."""
    import pyarrow.parquet as pq

    files = size = 0
    rows = dict.fromkeys(SINKS, 0)
    for f in path.rglob("*.parquet"):
        parts = dict(p.split("=", 1) for p in f.relative_to(path).parts[:-1] if "=" in p)
        if run_ids is not None and parts.get("run_id") not in run_ids:
            continue
        files += 1
        size += f.stat().st_size
        cls = parts["record_class"]
        rows[cls] = rows.get(cls, 0) + pq.read_metadata(f).num_rows
    return files, size, rows


def _fill_route_rows(ctx: Ctx, rows: dict[str, int], files: int) -> None:
    for s in SINKS:
        ctx.layer[f"route.rows.{s}"] = float(rows.get(s, 0))
    ctx.layer["route.files"] = float(files)


# --- layer probes (traced runs) -------------------------------------------------

def probe_prefixes(ctx: Ctx, read, out: Path) -> None:
    """Time the plan prefixes scan -> parse -> route tag into the noop sink,
    and the routed write into ``out``; self time = prefix minus the previous
    prefix (a difference of medians: it can read slightly below 0 for a
    layer whose cost is under the noise)."""
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing, write_routed

    tr = ctx.tracer
    for r in range(PROBE_REPS):
        with tr.span("sources.scan"):
            noop(read())
        with tr.span("parse"):
            noop(parse_sequences(read()))
        with tr.span("route.tag"):
            noop(apply_validity_routing(parse_sequences(read())))
        with tr.span("route.write"):
            write_routed(apply_validity_routing(parse_sequences(read())), str(out / f"probe{r}"))
    scan, parse, tag = (median(tr.durations(n)) for n in ("sources.scan", "parse", "route.tag"))
    ctx.layer["sources.scan_s"] = scan
    ctx.layer["parse.self_s"] = parse - scan
    ctx.layer["route.tag_self_s"] = tag - parse
    ctx.layer["route.write_self_s"] = median(tr.durations("route.write")) - tag


def probe_routed_classes(ctx: Ctx, routed: Path, rows_out: int) -> None:
    """Rows validity routing re-classed, and the parse's own corrupt share."""
    from pyspark.sql import functions as F

    with ctx.tracer.span("probe.reasons"):
        reasons = {r["corrupt_reason"]: r["n"] for r in ctx.spark.read.parquet(str(routed))
                   .filter(F.col("record_class") == "corrupt")
                   .groupBy("corrupt_reason").agg(F.count("*").alias("n")).collect()}
    rerouted = sum(n for k, n in reasons.items() if k in ROUTE_REASONS)
    rows_in = ctx.inputs.expected["rows"]
    ctx.layer["route.rerouted_rows"] = float(rerouted)
    ctx.layer["parse.rows_in"] = float(rows_in)
    ctx.layer["parse.rows_out"] = float(rows_out)
    ctx.layer["parse.corrupt_ratio"] = (sum(reasons.values()) - rerouted) / rows_in


def finish_trace(ctx: Ctx) -> None:
    """Stop the session (finalising the event log) and attribute task
    metrics to spans; byte metrics are per span of the named kind."""
    stop_spark(ctx.spark)
    ctx.spark = None
    tr = ctx.tracer
    if ctx.spans_out is not None:
        ctx.spans_out.parent.mkdir(parents=True, exist_ok=True)
        tr.dump(ctx.spans_out)
        log(f"spans written to {ctx.spans_out}")
    groups = read_event_logs(ctx.work / "eventlog")
    by_name = totals_by_span_name(tr, groups)

    def mb_per_span(attr: str, *names: str) -> float:
        n = sum(len(tr.durations(name)) for name in names)
        total = sum(getattr(by_name[name], attr) for name in names if name in by_name)
        return total / n / MB if n else 0.0

    L = ctx.layer
    L["parse.py_in_mb"] = mb_per_span("py_sent_bytes", "parse")
    L["parse.py_out_mb"] = mb_per_span("py_returned_bytes", "parse")
    L["route.shuffle_mb"] = mb_per_span("shuffle_write_bytes", "route.write")
    L["route.spill_mb"] = mb_per_span("spill_bytes", "route.write")
    L["aggregates.shuffle_mb"] = mb_per_span("shuffle_write_bytes", "aggregates.txn_stats",
                                             "aggregates.open_txns")
    op_groups = {s.id for s in tr.spans if s.op}
    n_ops = max(1, len({s.op for s in tr.spans if s.op}))
    in_ops = [t for g, t in groups.items() if g in op_groups]
    L["spark.jobs_per_op"] = sum(t.jobs for t in in_ops) / n_ops
    L["spark.tasks_per_op"] = sum(t.tasks for t in in_ops) / n_ops
    L["spark.gc_s_per_op"] = sum(t.gc_ms for t in in_ops) / 1000.0 / n_ops
    L["spark.tasks_failed"] = float(sum(t.tasks_failed for t in groups.values()))


# --- ingest_route -----------------------------------------------------------------

def ingest_route(ctx: Ctx) -> dict:
    from klog_spark.pipeline import Pipeline

    fx = str(ctx.inputs.fx)
    want = sink_counts_canon(ctx.inputs.route_counts())
    reps = ctx.work / "stage"
    n = 0

    def stage_and_check():
        nonlocal n
        out = reps / f"rep{n}"
        n += 1
        dt = ctx.run_op("ingest_route", lambda: Pipeline(ctx.spark, fx).stage(str(out)))
        files, size, rows = sink_stats(out)
        if dt is not None:
            ctx.check("stage sink counts", sink_counts_canon(rows), want)
        shutil.rmtree(out, ignore_errors=True)
        return dt, files, size

    setup = ctx.start_session()
    t0 = time.perf_counter()
    warm = [stage_and_check()[0] for _ in range(WARMUP_STAGES)]
    log("warm-up stage latencies: " + " ".join(f"{x:.2f}" for x in warm if x is not None))
    ctx.layer["session.warmup_s"] = time.perf_counter() - t0
    setup += ctx.layer["session.warmup_s"]
    ctx.attempted = ctx.failed = 0

    lat: dict[bool, list[float]] = {False: [], True: []}  # traced? -> stage times
    files, sizes = [], []
    end, i = time.perf_counter() + ctx.seconds, 0
    while time.perf_counter() < end or len(lat[False]) < 2:
        traced = ctx.set_traced(i)
        i += 1
        dt, f, s = stage_and_check()
        if dt is not None:
            lat[traced].append(dt)
            files.append(f)
            sizes.append(s)
    plain = lat[False]
    log("stage latencies: " + " ".join(f"{x:.2f}" for x in plain))
    rows = ctx.inputs.expected["rows"]
    e2e = {"setup_s": setup, "latency_s_p50": median(plain), "rows_per_s": rows / median(plain),
           "sink_files": median(files), "sink_mb": median(sizes) / MB}
    if ctx.trace:
        ctx.tracer.enabled = True
        ctx.record_overhead(plain, lat[True])
        staged = ctx.work / "probe"
        probe_prefixes(ctx, lambda: Pipeline(ctx.spark, fx).input_df(), staged)
        ctx.layer["sources.scan_mb"] = (ctx.inputs.fx / "sequences.parquet").stat().st_size / MB
        pf, _, prow = sink_stats(staged / "probe0")
        probe_routed_classes(ctx, staged / "probe0", sum(prow.values()))
        _fill_route_rows(ctx, prow, pf)
        probe_checkpoint(ctx)
        serial_probe(ctx, median(plain))
        finish_trace(ctx)
    return e2e


def serial_probe(ctx: Ctx, stage_s_parallel: float) -> None:
    """The same stage at local[1]: the serial baseline and the north rule's
    N -> 4N scaling efficiency on the ingest stage."""
    from klog_spark.pipeline import Pipeline

    ctx.spark.stop()
    ctx.spark = start_spark(ctx.work, 1, event_log=True)
    ctx.tracer.sc = ctx.spark.sparkContext
    with ctx.tracer.span("serial.stage") as s:
        Pipeline(ctx.spark, str(ctx.inputs.fx)).stage(str(ctx.work / "serial"))
    ctx.layer["parse.rows_per_s_serial"] = ctx.inputs.expected["rows"] / s.dur
    ctx.layer["spark.scaling_eff_1_to_4"] = s.dur / (ctx.cores * stage_s_parallel)


# --- staged_queries ---------------------------------------------------------------

def _txn_stats_cols(df):
    from pyspark.sql import functions as F

    return df.select(*[F.round(c, 6).alias(c) if c.endswith("_avg") else F.col(c).cast("long")
                       for c in df.columns])


def _all_checks(p) -> dict:
    d = p.all_checks()
    return {
        "offset_gaps": canon_df(d["offset_gaps"].select("doc_id", "file", "line_no", "base_offset",
                                                        "prev_last_offset")),
        "position_monotonic": canon_df(d["position_monotonic"]),
        "leader_epoch_monotonic": canon_df(d["leader_epoch_monotonic"]),
        "state_machine": canon_df(d["state_machine"].select(
            "doc_id", "transactional_id", "producer_id", "producer_epoch", "prev_state", "state")),
        # no oracle exists for this check: its violations are only counted
        "batch_message_count": d["batch_message_count"].count(),
    }


def _enriched_team(p):
    from pyspark.sql import functions as F

    b = p.enriched_batches().filter((F.col("segment_type") == "data") & (F.col("producer_id") != -1))
    return canon_df(b.groupBy("team").agg(F.count("*").alias("n_batches"),
                                          F.countDistinct("producer_id").alias("n_producers")))


def staged_query_surface(hot_pid: int) -> dict:
    """name -> (layer span, query over a staged Pipeline returning canon rows)."""
    cat_cols = ("doc_id", "base_offset", "last_offset", "count", "producer_id", "producer_epoch",
                "is_transactional", "is_control", "create_time")
    return {
        "txn_stats": ("aggregates.txn_stats", lambda p: canon_df(_txn_stats_cols(p.txn_stats()))),
        "open_txn_abort_commands": ("aggregates.open_txns", lambda p: canon_df(p.open_txn_abort_commands())),
        "all_checks": ("checks.all", _all_checks),
        "group_lag": ("group_offsets.lag", lambda p: canon_df(p.group_lag())),
        "enriched_team": ("enrich", _enriched_team),
        "cat_batches_hot": ("filters.cat", lambda p: canon_df(p.cat_batches(pid=hot_pid).select(*cat_cols))),
        "sink_counts": ("route.sink_counts", lambda p: canon_df(p.sink_counts())),
    }


def staged_queries(ctx: Ctx) -> dict:
    from klog_spark.pipeline import Pipeline

    exp = ctx.inputs.expected
    surface = staged_query_surface(exp["hot_pid"])
    order = sorted(surface)
    random.Random(f"query-order-{ctx.seed}").shuffle(order)
    staged = ctx.work / "staged"

    setup = ctx.start_session()
    t0 = time.perf_counter()
    p = Pipeline(ctx.spark, str(ctx.inputs.fx)).stage(str(staged))
    files, size, rows = sink_stats(staged)
    ctx.check("staged sink counts", sink_counts_canon(rows), sink_counts_canon(ctx.inputs.route_counts()))
    results: dict[str, object] = {}

    def run_query(name: str):
        span, q = surface[name]

        def body():
            with ctx.tracer.span(span):
                results[name] = q(p)

        dt = ctx.run_op(name, body)
        if dt is None:
            return None
        got = results.pop(name)
        if name == "all_checks":
            for check, rows_ in got.items():
                if check in exp:
                    ctx.check(check, rows_, exp[check])
            ctx.layer["checks.violations"] = float(
                sum(len(v) for k, v in got.items() if k != "batch_message_count") + got["batch_message_count"])
        else:
            ctx.check(name, got, exp["route_counts" if name == "sink_counts" else name])
            if name == "enriched_team":
                counts = [(r.split("|")[2], int(r.split("|")[0])) for r in got]
                total = sum(n for _, n in counts)
                ctx.layer["enrich.rows_in"] = float(total)
                ctx.layer["enrich.matched_ratio"] = sum(n for t, n in counts if t != "-") / total
        return dt

    for name in order:  # warm-up pass
        run_query(name)
    ctx.layer["session.warmup_s"] = time.perf_counter() - t0
    setup += ctx.layer["session.warmup_s"]
    ctx.attempted = ctx.failed = 0

    # traced? -> query -> latencies
    lat: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
    end, i, pass_s = time.perf_counter() + ctx.seconds, 0, 0.0
    # whole passes only; the last starts if at least half of it fits
    passes = {False: 0, True: 0}
    while (time.perf_counter() + pass_s / 2 < end or passes[False] < MIN_PASSES
           or (ctx.trace and not passes[True])):
        traced = ctx.set_traced(i)
        i += 1
        t_pass = time.perf_counter()
        for name in order:
            dt = run_query(name)
            if dt is not None:
                lat[traced].setdefault(name, []).append(dt)
        passes[traced] += 1
        pass_s = time.perf_counter() - t_pass

    def pass_p50(by_query: dict[str, list[float]]) -> float:
        """Median time of one pass over the query surface, as the sum of
        each query's median: a median over the mixed queries would fall in
        the gap between two query kinds and jump between runs."""
        return sum(median(v) for v in by_query.values())

    log("query latencies: " + " ".join(f"{q}={median(v):.2f}" for q, v in lat[False].items()))
    suite_s = pass_p50(lat[False])
    e2e = {"setup_s": setup, "latency_s_p50": suite_s,
           "rows_per_s": exp["rows"] * len(surface) / suite_s,
           "sink_files": float(files), "sink_mb": size / MB}
    if ctx.trace:
        ctx.tracer.enabled = True
        ctx.layer["trace.latency_s_p50"] = pass_p50(lat[True])
        ctx.layer["trace.overhead_pct"] = 100.0 * (pass_p50(lat[True]) / suite_s - 1.0)
        tr = ctx.tracer
        for metric, span in (("aggregates.txn_stats_s", "aggregates.txn_stats"),
                             ("aggregates.open_txns_s", "aggregates.open_txns"),
                             ("checks.all_s", "checks.all"), ("group_offsets.lag_s", "group_offsets.lag"),
                             ("enrich.self_s", "enrich")):
            ctx.layer[metric] = median(tr.durations(span))
        from pyspark.sql import functions as F

        with tr.span("sources.scan"):
            noop(ctx.spark.read.parquet(str(staged)))
        ctx.layer["sources.scan_s"] = median(tr.durations("sources.scan"))
        ctx.layer["sources.scan_mb"] = size / MB
        with tr.span("probe.window_rows"):
            ctx.layer["aggregates.window_rows"] = float(p.parsed_raw().filter(
                (F.col("segment_type") == "data") & F.col("record_class").isin("batch", "control_msg")).count())
        _fill_route_rows(ctx, rows, files)
        probe_routed_classes(ctx, staged, sum(rows.values()))
        finish_trace(ctx)
    return e2e


# --- checkpoint probe (traced ingest_route run) -------------------------------------

def _inject_orphan(sink: Path, ckpt) -> str:
    """A run that appended but never committed (crash before the manifest
    commit): the shape ``checkpoint.drop_uncommitted_runs`` recovers from.
    Its partitions are copies of the last committed run's files under a
    run_id the manifest does not hold."""
    run_id = "orphan0crash"
    last = ckpt.load()["runs"][-1]["run_id"]
    for d in (sink / "routed").glob(f"record_class=*/run_id={last}"):
        shutil.copytree(d, d.with_name(f"run_id={run_id}"))
    return run_id


def probe_checkpoint(ctx: Ctx) -> None:
    """The checkpoint layer: the fixture's increments land one at a time,
    each ingested by ``checkpoint.run_incremental``. After the first commit
    one orphan ``run_id`` partition is injected; the next run must drop it
    and resume. The committed sink's counts and its ``txn_stats`` (over
    ``read_routed_committed``) are then checked against the oracle."""
    from klog_spark.checkpoint import Checkpoint, read_routed_committed, run_incremental
    from klog_spark.operators.aggregates import txn_stats
    from klog_spark.operators.route import routed_as_parsed

    inputs, exp, tr = ctx.inputs, ctx.inputs.expected, ctx.tracer
    landing, sink = ctx.work / "ckpt" / "landing", ctx.work / "ckpt" / "sink"
    landing.mkdir(parents=True)
    ckpt = Checkpoint(sink / "_checkpoint")
    scanned = new = orphans = 0
    orphan = None
    for i in range(inputs.k):
        shutil.copyfile(inputs.increment_path(i), landing / f"inc_{i:02d}.parquet")
        with tr.span("checkpoint.run"):
            summary = run_incremental(ctx.spark, str(landing), str(sink), ckpt)
        scanned += sum(exp["increment_rows"][: i + 1])  # the run reads every landed file
        new += sum(summary["sink_counts"].values())
        if orphan is not None:
            orphans += not any((sink / "routed").glob(f"record_class=*/run_id={orphan}"))
            orphan = None
        if i == 0:
            orphan = _inject_orphan(sink, ckpt)
    with tr.span("checkpoint.refresh"):
        refreshed = canon_df(_txn_stats_cols(txn_stats(routed_as_parsed(
            read_routed_committed(ctx.spark, str(sink), ckpt)))))
    ctx.check("committed txn_stats after resume", refreshed, exp["txn_stats"])
    files, _, rows = sink_stats(sink / "routed", ckpt.committed_run_ids())
    ctx.check("committed sink counts after resume", sink_counts_canon(rows),
              sink_counts_canon(inputs.route_counts()))
    ctx.check("orphan files left in the sink", sink_stats(sink / "routed")[0] - files, 0)
    ctx.check("orphans dropped", orphans, 1)
    with tr.span("checkpoint.empty_run") as s:
        run_incremental(ctx.spark, str(landing), str(sink), ckpt)
    L = ctx.layer
    L["checkpoint.run_s"] = median(tr.durations("checkpoint.run"))
    L["checkpoint.empty_run_s"] = s.dur
    L["checkpoint.rows_scanned"] = float(scanned)
    L["checkpoint.rows_new"] = float(new)
    L["checkpoint.useful_ratio"] = new / scanned
    L["checkpoint.orphans_dropped"] = float(orphans)
    L["checkpoint.manifest_kb"] = ckpt.state_path.stat().st_size / 1024


WORKLOADS = {
    "ingest_route": ingest_route,
    "staged_queries": staged_queries,
}
