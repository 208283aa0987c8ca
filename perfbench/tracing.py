"""Measurement plumbing: Spark session lifecycle, spans, the event-log
reader and the process-tree memory sampler.

Every layer is measured from outside: the benchmark opens a span around
each call it makes into a layer and labels the Spark jobs started inside
with ``SparkContext.setJobGroup(<span id>)``. Spark's event log (the UI is
disabled by ``klog_spark.session``) then attributes task metrics to spans.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# --- Spark session ------------------------------------------------------------

def start_spark(work: Path, cores: int, event_log: bool):
    """A ``klog_spark.session.get_spark`` session at ``local[cores]`` whose
    scratch files stay under ``work``."""
    from klog_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="klog-perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 20.0) -> None:
    """Stop the session, then the JVM it runs in, and wait for both and for
    the Python workers the JVM forked.

    ``spark.stop()`` already flushed the event log and released the
    session's files, so the JVM is killed rather than left to run its
    shutdown hooks (a graceful exit takes seconds). Its Python workers exit
    when their JVM's pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        spawned = _descendants(proc.pid)
        proc.kill()
        proc.wait(timeout)
        _wait_gone(spawned, timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children_gone(timeout: float = 20.0) -> None:
    """Block until no descendant process of this one is left."""
    deadline = time.monotonic() + timeout
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` (orphaned by their parent's exit) to end; kill
    what is left at the deadline."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in pids):
        time.sleep(0.05)


# --- memory -------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        children.setdefault(int(stat[stat.rindex(b")") + 2:].split()[1]), []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm", "rb") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_memory_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and its descendants.

    ``statm`` is read rather than ``smaps_rollup``: walking a JVM's mappings
    every sample takes its memory-map lock and would slow the measured run.
    A child the JVM has forked but not yet exec'd shares the JVM's address
    space: only the first ``java`` process (the JVM, a parent in the walk)
    counts."""
    total = 0
    jvm_seen = False
    for pid in [root, *_descendants(root)]:
        try:
            if os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java":
                if jvm_seen:
                    continue
                jvm_seen = True
            total += _rss_bytes(pid)
        except (OSError, ValueError):
            continue
    return total


class MemorySampler:
    """Peak memory of this process and all its descendants (driver, JVM,
    Python workers), sampled from ``/proc`` on a background thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- spans --------------------------------------------------------------------

@dataclass
class Span:
    id: str
    name: str
    op: str | None
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    Disabled, ``span`` only yields: the untraced measurement pays nothing.
    Enabled, each span also becomes the job group of the Spark jobs started
    inside it, so the event log can be attributed to spans."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _op: str | None = None

    @contextmanager
    def op(self, name: str):
        """A top-level operation: its spans share the operation's id."""
        if not self.enabled:
            yield
            return
        self._op = f"op{len(self.spans)}"
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, self._op, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", parent.id if parent else None)

    def durations(self, name: str) -> list[float]:
        return [s.dur for s in self.spans if s.name == name and s.end]

    def dump(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s.__dict__) for s in self.spans) + "\n")


# --- event log ----------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class TaskTotals:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_logs(log_dir: Path) -> dict[str | None, TaskTotals]:
    """Task metrics summed per job group (``None``: jobs outside any span)."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, TaskTotals] = {}
    for path in sorted(p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith("appstatus")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    out.setdefault(group, TaskTotals()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    t = out.setdefault(stage_group.get(ev.get("Stage ID")), TaskTotals())
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    t.tasks += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    t.tasks_failed += int(bool(info.get("Failed")) or reason not in (None, "Success"))
                    t.gc_ms += m.get("JVM GC Time", 0)
                    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == PY_SENT:
                            t.py_sent_bytes += int(acc.get("Update", 0))
                        elif acc.get("Name") == PY_RETURNED:
                            t.py_returned_bytes += int(acc.get("Update", 0))
    return out


def totals_by_span_name(tracer: Tracer, groups: dict[str | None, TaskTotals]) -> dict[str, TaskTotals]:
    """Fold per-group task totals onto span names (self metrics: a job is
    counted once, under the innermost span that started it)."""
    names = {s.id: s.name for s in tracer.spans}
    out: dict[str, TaskTotals] = {}
    for group, t in groups.items():
        if group in names:
            out.setdefault(names[group], TaskTotals()).add(t)
    return out
