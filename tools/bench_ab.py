"""Round-over-round paired A/B bench arbitration (VERDICT r8 #2).

This VM's wall clock swings 2-3x across multi-minute windows, so a single
before/after comparison cannot separate a code regression from weather.
This harness INTERLEAVES the two trees in time: for each of N rounds it
runs the same query subset once in tree A (a git ref, checked out to a
worktree) and once in tree B (the working tree), in alternating fresh
processes, then reports the per-query PAIRED ratio per round and its
median — weather hits both sides of a pair, code differences persist
across rounds.

Usage:
  python tools/bench_ab.py <ref> [rounds] [query ...]
e.g.
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 \
  python tools/bench_ab.py e1e3fb9 3 klog_parse_only klog_txn_stats

The ref's worktree is created under /tmp/bench-ab-<ref> (reused if
present) with the gitignored data/ fixture dir symlinked from the working
tree so both sides read identical inputs. bench_extra.py (the per-query
noop-isolation runner) is copied into the old tree, so the HARNESS and
measurement methodology are identical on both sides — only klog_spark
differs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run_side(tree: Path, runs: int, queries: list[str]) -> dict[str, float]:
    env = dict(os.environ)
    cmd = [sys.executable, str(tree / "bench_extra.py"), str(runs), *queries]
    out = subprocess.run(cmd, cwd=tree, env=env, capture_output=True,
                         text=True, check=False)
    for line in reversed(out.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except json.JSONDecodeError:
            continue
    raise RuntimeError(f"no JSON from {tree}: {out.stderr[-2000:]}")


def main() -> None:
    ref = sys.argv[1]
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    queries = sys.argv[3:]

    wt = Path(f"/tmp/bench-ab-{ref}")
    if not wt.exists():
        subprocess.run(["git", "worktree", "add", str(wt), ref],
                       cwd=REPO, check=True)
    if not (wt / "data").exists():
        os.symlink(REPO / "data", wt / "data")
    # identical harness on both sides; only klog_spark differs
    shutil.copy(REPO / "bench_extra.py", wt / "bench_extra.py")

    pairs: dict[str, list[tuple[float, float]]] = {}
    for r in range(rounds):
        old = run_side(wt, 1, queries)
        new = run_side(REPO, 1, queries)
        for q in new:
            if q in old:
                pairs.setdefault(q, []).append((old[q], new[q]))
        print(f"round {r}: old={old} new={new}", flush=True)

    print(f"\n{'query':28s} {'old(med)':>9s} {'new(med)':>9s} "
          f"{'ratio new/old per round':>30s} {'median':>7s}")
    for q, ps in sorted(pairs.items()):
        ratios = [n / o for o, n in ps]
        old_med = statistics.median(o for o, _ in ps)
        new_med = statistics.median(n for _, n in ps)
        rs = " ".join(f"{x:.2f}" for x in ratios)
        print(f"{q:28s} {old_med:9.2f} {new_med:9.2f} {rs:>30s} "
              f"{statistics.median(ratios):7.2f}")


if __name__ == "__main__":
    main()
