"""Operator-owned cache registry (ADVICE r7).

An operator may ``persist()`` a bounded intermediate (the contamination
scan's split-joined shingle table) because multiple eager jobs — or one
expensive lazy plan referenced several times — consume it inside a
single invocation. The persist is the right call per invocation, but in
a LONG-LIVED session (the test suite, the query/oracle gate, the bench
loop, a user notebook) those blocks accumulate: nothing ever unpersisted
them, because the operator returns a lazy plan that still references the
cache, so it cannot release it before the caller materializes.

This registry makes the lifetime explicit without giving up in-invocation
reuse: operators register every persist via :func:`track`, and session
owners call :func:`release_tracked` at their natural checkpoint boundaries
(after a gate row, a bench query, a pytest). Releasing is always safe —
Spark recomputes an unpersisted plan — so the worst case of releasing too
early is lost reuse, never wrong results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-owned persisted DataFrame for later release."""
    _TRACKED.append(df)
    return df


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were released.

    Call at invocation boundaries (gate row done, bench query timed, test
    finished). Plans that still reference a released cache simply
    recompute — correctness is unaffected.
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # noqa: BLE001 — session may already be stopped
            pass
    return n
