"""Seeded benchmark inputs and their expected outputs, cached per key.

The cache key is (scale factor, seed, increment count, digest of the
fixture generator, the oracle SQL and this file), so a change to any of them
regenerates. Under the
key's directory:

* ``fx/`` — the klog fixture of ``datagen.generate_fixture(sf, fx, seed)``;
* ``expected.json`` — every expected output, computed by the DuckDB oracles
  of ``klog_spark.entry_queries`` over the TEXT rendition of the fixture
  (``sequences_text.parquet``); the oracle never reads the token arrays the
  engine parses;
* ``inc/inc_NN.parquet`` and ``increments.json`` — the dump files split
  into increments and their row counts, built only for the checkpoint
  probe of a traced ``ingest_route`` run.

Outputs are compared as canonical row lists: every value normalised to a
string, columns in name order, rows sorted.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import shutil
from pathlib import Path

#: Sinks of the routed table (``route.SINKS``); a sink with no rows counts 0.
SINKS = ("batch", "data_msg", "control_msg", "txn_state", "txn_deletion",
         "producer_state", "offset_commit", "group_metadata", "header", "corrupt")


def _norm(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def canon(rows, cols) -> list[str]:
    """Order-insensitive canonical form of a result table."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def canon_df(df) -> list[str]:
    """Collect a Spark DataFrame into :func:`canon` form."""
    return canon([tuple(r) for r in df.collect()], df.columns)


def sink_counts_canon(counts: dict[str, int]) -> list[str]:
    """Route counts as the oracle's ``(record_class, n_rows)`` rows."""
    return canon([(k, n) for k, n in counts.items() if n], ["record_class", "n_rows"])


# --- oracle SQL -------------------------------------------------------------

_FX_MARK = "@@FX@@"


def _oracle_templates() -> dict[str, str]:
    from klog_spark import entry_queries as eq

    return {
        "route_counts": eq.SQL_ROUTE_COUNTS,
        "txn_stats": eq.SQL_TXN_STATS,
        "batches_per_epoch": eq.SQL_BATCHES_PER_EPOCH,
        "offset_gaps": eq.SQL_OFFSET_GAPS,
        "group_lag": eq.SQL_GROUP_LAG,
        "open_txn_abort_commands": eq.SQL_OPEN_TXN_ABORT_CMDS,
        "position_monotonic": eq.SQL_POSITION_MONOTONIC,
        "leader_epoch_monotonic": eq.SQL_LEADER_EPOCH_MONOTONIC,
        "state_machine": eq.SQL_STATE_MACHINE.replace("{VALID_PREV}", eq._sql_valid_prev_case()),
        "enriched_team": eq.SQL_ENRICH_PRODUCER_TEAM,
        "cat_batches_hot": eq.SQL_CAT_PID,
    }


def oracle_sql(name: str, fx: Path) -> str:
    """The oracle for ``name`` pointed at fixture ``fx``."""
    from klog_spark import entry_queries as eq

    sql = _oracle_templates()[name]
    sql = sql.replace(eq.klog_txn_cte(), eq.klog_txn_cte(_FX_MARK))
    sql = sql.replace(eq.klog_base_cte(), eq.klog_base_cte(_FX_MARK))
    sql = sql.replace(f"{eq.FX}/producer_meta.parquet", f"{fx}/producer_meta.parquet")
    return sql.replace(_FX_MARK, str(fx))


def _run_oracle(con, sql: str) -> list[str]:
    cur = con.execute(sql)
    return canon(cur.fetchall(), [d[0] for d in cur.description])


# --- increments -------------------------------------------------------------

def split_increments(files: dict[str, tuple[str, int]], k: int, seed: int) -> list[list[str]]:
    """Assign dump files to ``k`` increments: balanced rows, every file kind
    in every increment when the kind has at least ``k`` files.

    ``files`` maps file -> (kind, rows). Within a kind, files go largest
    first (seeded tie order) to the increment holding the fewest files of
    that kind, and among those the fewest rows."""
    rng = random.Random(f"increments-{seed}")
    loads = [0] * k
    out: list[list[str]] = [[] for _ in range(k)]
    for kind in sorted({kd for kd, _ in files.values()}):
        names = sorted(f for f, (kd, _) in files.items() if kd == kind)
        rng.shuffle(names)
        names.sort(key=lambda f: -files[f][1])
        per_kind = [0] * k
        for f in names:
            i = min(range(k), key=lambda j: (per_kind[j], loads[j], j))
            out[i].append(f)
            per_kind[i] += 1
            loads[i] += files[f][1]
    return out


def _file_kinds(text_path: Path) -> dict[str, tuple[str, int]]:
    import pyarrow.parquet as pq

    t = pq.read_table(text_path, columns=["doc_id", "source"])
    files: dict[str, list] = {}
    for doc_id, source in zip(t["doc_id"].to_pylist(), t["source"].to_pylist()):
        f = doc_id.rsplit(":", 1)[0]
        if f not in files:
            seg = ("txn_state" if "/__transaction_state-" in source
                   else "consumer_offsets" if "/__consumer_offsets-" in source else "data")
            files[f] = [f"{seg}/{'snapshot' if 'snapshot' in f else 'log'}", 0]
        files[f][1] += 1
    return {f: (kind, n) for f, (kind, n) in files.items()}


def _write_increments(fx: Path, out: Path, groups: list[list[str]]) -> list[int]:
    """Write each increment's rows; returns their counts."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    t = pq.read_table(fx / "sequences.parquet")
    file_col = pc.replace_substring_regex(t["doc_id"], r":[0-9]+$", "")
    rows = []
    for i, group in enumerate(groups):
        part = t.filter(pc.is_in(file_col, value_set=pa.array(group)))
        pq.write_table(part, out / f"inc_{i:02d}.parquet", row_group_size=20_000)
        rows.append(part.num_rows)
    return rows


# --- the cache ----------------------------------------------------------------

def _write_json(path: Path, obj) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj))
    tmp.replace(path)


def _code_digest() -> str:
    """Digest of what the cached files depend on: the fixture generator,
    the oracle SQL as generated (it embeds the grammar) and this file."""
    import klog_spark.datagen as dg

    h = hashlib.sha256()
    for path in (dg.__file__, __file__):
        h.update(Path(path).read_bytes())
    for name, sql in sorted(_oracle_templates().items()):
        h.update(f"{name}\n{sql}".encode())
    return h.hexdigest()[:12]


class Inputs:
    """Fixture, increments and expected outputs for one (sf, seed)."""

    def __init__(self, cache_root: Path, sf: float, seed: int, increments: int):
        self.sf, self.seed, self.k = sf, seed, increments
        self.dir = cache_root / f"sf{sf:g}-seed{seed}-k{increments}-{_code_digest()}"
        self.fx = self.dir / "fx"
        self.inc_dir = self.dir / "inc"

    def ensure(self, increments: bool) -> "Inputs":
        """Build what is missing from the cache; the increments and their
        expected outputs only when ``increments`` asks for them."""
        done = self.dir / "expected.json"
        if not done.exists():
            shutil.rmtree(self.dir, ignore_errors=True)
            _write_json(done, self._build())
        self.expected = json.loads(done.read_text())
        if increments:
            inc_done = self.dir / "increments.json"
            if not inc_done.exists():
                _write_json(inc_done, self._build_increments())
            self.expected.update(json.loads(inc_done.read_text()))
        return self

    def _oracle(self):
        import duckdb

        return duckdb.connect(config={"threads": 4, "memory_limit": "1GB",
                                      "temp_directory": str(self.dir / "duckdb.tmp")})

    def _build(self) -> dict:
        import pyarrow.parquet as pq

        from klog_spark.datagen import generate_fixture

        generate_fixture(self.sf, self.fx, seed=self.seed)
        con = self._oracle()
        try:
            exp = {name: _run_oracle(con, oracle_sql(name, self.fx)) for name in _oracle_templates()
                   if name != "cat_batches_hot"}
            # the hot session: the producer with the most valid data batches
            per_pid: dict[str, int] = {}
            for row in exp["batches_per_epoch"]:
                n_batches, _epoch, pid = row.split("|")  # columns in name order
                per_pid[pid] = per_pid.get(pid, 0) + int(n_batches)
            hot = max(per_pid, key=lambda p: (per_pid[p], -int(p)))
            exp["hot_pid"] = int(hot)
            sql = oracle_sql("cat_batches_hot", self.fx)
            if "producer_id = 1\n" not in sql:
                raise RuntimeError("SQL_CAT_PID no longer filters on producer_id = 1")
            exp["cat_batches_hot"] = _run_oracle(con, sql.replace("producer_id = 1\n", f"producer_id = {hot}\n"))
        finally:
            con.close()
        exp["rows"] = pq.read_metadata(self.fx / "sequences.parquet").num_rows
        return exp

    def _build_increments(self) -> dict:
        groups = split_increments(_file_kinds(self.fx / "sequences_text.parquet"), self.k, self.seed)
        return {"increment_rows": _write_increments(self.fx, self.inc_dir, groups)}

    def increment_path(self, i: int) -> Path:
        return self.inc_dir / f"inc_{i:02d}.parquet"

    def route_counts(self) -> dict[str, int]:
        out = {s: 0 for s in SINKS}
        for row in self.expected["route_counts"]:
            n, cls = row.split("|")
            out[cls] = int(n)
        return out
