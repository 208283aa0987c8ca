"""Bit-exact Java ``String.hashCode`` and klog's coordinating-partition rule.

klog computes the coordinating partition of ``__transaction_state`` /
``__consumer_offsets`` for an id as ``abs(id.hashCode()) % numPartitions``
with ``Integer.MIN_VALUE -> 0`` (reference:
command/TxnCoordinatingPartition.java:38-44,
command/GroupCoordinatingPartition.java:38-44). Spark's ``hash()`` is
Murmur3 and does NOT match, so this re-derives Java's polynomial hash
(``h = 31*h + c`` over UTF-16 code units, 32-bit wrap) vectorized in numpy:
the loop is over string *positions* (bounded, ~tens), each step vectorized
across all rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType


def java_string_hash_np(strings: pd.Series) -> np.ndarray:
    """Java String.hashCode for each string; int32 ndarray."""
    vals = strings.fillna("").tolist()
    n = len(vals)
    if n == 0:
        return np.zeros(0, dtype=np.int32)
    # UTF-16 code units, padded to the max length.
    units = [np.frombuffer(s.encode("utf-16-le"), dtype=np.uint16) for s in vals]
    lens = np.fromiter((len(u) for u in units), dtype=np.int64, count=n)
    max_len = int(lens.max()) if n else 0
    h = np.zeros(n, dtype=np.uint32)
    if max_len == 0:
        return h.astype(np.int32)
    padded = np.zeros((n, max_len), dtype=np.uint32)
    for i, u in enumerate(units):  # row count bounded by Arrow batch; cols vectorized
        padded[i, : len(u)] = u
    for pos in range(max_len):
        live = lens > pos
        h[live] = h[live] * np.uint32(31) + padded[live, pos]
    return h.astype(np.int32)


def coordinating_partition_np(ids: pd.Series, num_partitions: int = 50) -> np.ndarray:
    h = java_string_hash_np(ids).astype(np.int64)
    # Java abs() with the MIN_VALUE guard the reference applies.
    a = np.abs(h)
    a[h == np.iinfo(np.int32).min] = 0
    return (a % num_partitions).astype(np.int32)


def with_coordinating_partition(
    df: DataFrame, id_col: str, num_partitions: int = 50, out_col: str = "coordinating_partition"
) -> DataFrame:
    """Append the __transaction_state coordinating partition for ``id_col``."""

    @pandas_udf(IntegerType())
    def _part(s: pd.Series) -> pd.Series:
        return pd.Series(coordinating_partition_np(s, num_partitions), index=s.index)

    return df.withColumn(out_col, _part(F.col(id_col)))
