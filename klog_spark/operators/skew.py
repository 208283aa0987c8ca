"""Skew handling: salted two-phase aggregation + skewed-join salting.

Hot topic-partitions / producer sessions are the north rule's named skew
sources. For associative aggregates the classic fix is two-phase salting:
partial-aggregate on (keys + salt) — spreading one hot key over ``salt_buckets``
reducers — then final-aggregate on the keys alone. The salt is derived
deterministically from a high-cardinality column (lineage ``doc_id``), so
runs are reproducible.

AQE (enabled in session.py) already splits skewed *join* partitions at
runtime; these helpers cover the aggregation shapes AQE doesn't touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, salt_buckets: int = 16, from_col: str = "doc_id") -> DataFrame:
    """Deterministic salt column in [0, salt_buckets)."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(F.col(from_col)), F.lit(salt_buckets)))


def salted_count(df: DataFrame, keys: list[str], salt_buckets: int = 16,
                 from_col: str = "doc_id", out_col: str = "n") -> DataFrame:
    """count(*) per key via salted partial + final (hot keys spread over
    ``salt_buckets`` reduce tasks in phase one)."""
    partial = (
        with_salt(df, salt_buckets, from_col)
        .groupBy(*keys, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").cast("long").alias(out_col))


def salted_sum(df: DataFrame, keys: list[str], value_col: str, salt_buckets: int = 16,
               from_col: str = "doc_id", out_col: str | None = None) -> DataFrame:
    out_col = out_col or f"sum_{value_col}"
    partial = (
        with_salt(df, salt_buckets, from_col)
        .groupBy(*keys, "_salt")
        .agg(F.sum(value_col).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias(out_col))


def salted_batches_per_epoch(parsed: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """A9 with explicit salting — identical result to
    aggregates.batches_per_epoch, hot sessions spread in phase one."""
    b = parsed.filter(
        (F.col("segment_type") == "data") & (F.col("record_class") == "batch")
        & F.col("is_valid") & (F.col("producer_id") != -1)
    )
    return salted_count(b, ["producer_id", "producer_epoch"], salt_buckets, out_col="n_batches")


def broadcast_or_salted_join(big: DataFrame, small: DataFrame, on: list[str],
                             how: str = "left", salt_buckets: int = 0) -> DataFrame:
    """Join strategy helper: broadcast the small side when it fits (the
    engine's default for dimension enrichment); otherwise replicate the
    small side over an explicit salt to defuse hot keys in a shuffle join.

    ``salt_buckets = 0`` -> broadcast. Otherwise: big side gets a random-
    but-deterministic salt in [0, n); the small side is exploded n-fold so
    every (key, salt) bucket finds its match.
    """
    if salt_buckets <= 0:
        return big.join(F.broadcast(small), on, how)
    salted_big = with_salt(big, salt_buckets)
    exploded_small = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    out = salted_big.join(exploded_small, on + ["_salt"], how)
    return out.drop("_salt")
