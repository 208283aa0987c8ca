"""Generic AS-OF join: for every left row, the newest right row at or
before it.

Spark has no built-in as-of join; the classic scalable construction is
union + running ``last_value``: tag the two sides, union them on the key
columns, and carry the latest right-side payload forward in event order.
One shuffle on the ``by`` keys, no range-condition explosion, no
driver-side state — O(n log n) per key group, the same shape this engine
already uses for parent-batch and txn-marker attribution
(aggregates.attach_parent_batch, group_offsets.read_committed_group_offsets).

DuckDB note (why the oracle mirrors this construction instead of using
DuckDB's native ``ASOF JOIN``): DuckDB pushes outer predicates into the
ASOF build side, which silently changes which right row is "latest" —
the union+window form keeps both engines on identical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str,
              by: list[str], right_cols: list[str],
              tolerance: int | None = None) -> DataFrame:
    """Attach to every ``left`` row the newest ``right`` row with
    ``right[on] <= left[on]`` within the same ``by`` keys.

    ``right_cols`` are carried over (nulled when no right row precedes).
    ``tolerance``: optional max allowed ``left[on] - right[on]`` — an older
    match is treated as absent (the pandas ``merge_asof`` contract).
    Ties on ``on`` prefer the right side (<= semantics); multiple right
    rows at one instant resolve to the last in ``right_cols`` order of
    appearance, so give ``right`` a deterministic secondary order column
    if that matters.
    """
    payload = F.struct(*[F.col(c) for c in right_cols], F.col(on).alias("_asof_on"))
    l_tag = left.withColumn("_tag", F.lit(1)).withColumn("_payload", F.lit(None).cast(
        "struct<" + ",".join([f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_cols])
        + f",_asof_on:{right.schema[on].dataType.simpleString()}>"
    ))
    r_tag = right.withColumn("_tag", F.lit(0)).withColumn("_payload", payload).select(
        *by, on, "_tag", "_payload"
    )
    common = [*by, on, "_tag", "_payload"]
    unioned = l_tag.select(*left.columns, "_tag", "_payload").unionByName(
        r_tag.select(*common), allowMissingColumns=True
    )
    w = Window.partitionBy(*by).orderBy(F.col(on).asc(), F.col("_tag").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    carried = F.last(F.when(F.col("_tag") == 0, F.col("_payload")), ignorenulls=True).over(w)
    out = unioned.withColumn("_carried", carried).filter(F.col("_tag") == 1)
    if tolerance is not None:
        out = out.withColumn(
            "_carried",
            F.when(
                F.col(on) - F.col("_carried._asof_on") <= tolerance, F.col("_carried")
            ),
        )
    return out.select(
        *left.columns,
        *[F.col(f"_carried.{c}").alias(c) for c in right_cols],
    )

