"""Operator-owned cache registry (ADVICE r7).

An operator that ``persist()``s an intermediate inside a lazy plan cannot
release it before its caller materializes the plan, so in a long-lived
session (a test suite, a bench loop, a notebook) the blocks would pile up.
Such an operator registers the persist via :func:`track`, and the session
owner calls :func:`release_tracked` at an invocation boundary. Releasing is
always safe: Spark recomputes an unpersisted plan.

No operator tracks a persist today. The module stays because the
benchmark harness (``perfbench/workloads.py``) imports
:func:`release_tracked`.
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
