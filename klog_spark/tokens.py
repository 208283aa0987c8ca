"""Vectorized token <-> text codecs.

The engine's primary input is a table of pre-tokenized sequences
(``tokens:array<int32>``, per BASELINE.json input_hint). The token encoding
is the invertible codepoint encoding of the rendered dump-line text, so
"token-array equality" is exactly "routed the same line". Both directions
are implemented without per-row Python work on the character data: the
whole Arrow batch is encoded/decoded through one contiguous UTF-32 buffer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def texts_to_token_arrays(texts: list[str] | pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Encode N strings -> (flat int32 codepoints, int64 offsets of len N+1).

    Suitable for ``pyarrow.ListArray.from_arrays(offsets, values)``.
    """
    if isinstance(texts, pd.Series):
        texts = texts.tolist()
    joined = "".join(texts)
    values = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(np.int32)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return values, offsets


def token_series_to_texts(tokens: pd.Series) -> pd.Series:
    """Decode a pandas Series of int32 arrays into a Series of strings.

    One C-level ``utf-32`` decode of the concatenated codepoint buffer; the
    only Python-level loop is O(N) string slicing (no per-character work).
    """
    n = len(tokens)
    if n == 0:
        return pd.Series([], dtype=object)
    arrs = tokens.to_numpy()
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        return pd.Series([""] * n, index=tokens.index, dtype=object)
    flat = np.concatenate([np.asarray(a, dtype=np.uint32) for a in arrs]) if n > 1 else np.asarray(
        arrs[0], dtype=np.uint32
    )
    text = flat.tobytes().decode("utf-32-le")
    ends = np.cumsum(lens)
    starts = ends - lens
    out = [text[s:e] for s, e in zip(starts.tolist(), ends.tolist())]
    return pd.Series(out, index=tokens.index, dtype=object)


def pack_sequences(df, budget: int = 4096, id_col: str = "doc_id",
                   n_tok_col: str = "n_tok"):
    """Streaming token-budget packing: assign each sequence to a training
    pack of ~``budget`` tokens, preserving source order — the
    batch-construction step between a tokenized corpus and a trainer.

    pack_id = floor(prefix_tokens / budget) over (file, line_no) order,
    where prefix_tokens excludes the current row: a pack closes as soon as
    its budget is crossed, sequences are never split, and the assignment is
    a pure prefix-sum — deterministic, engine-replicable, and (unlike
    first-fit-decreasing) requiring NO global sort or driver state.

    Scale: the window keys on ``file`` (the input shard), so prefix sums
    never cross shard boundaries — at 10^12 sequences each shard packs
    independently, exactly how a real pipeline shards packing. Skew is
    bounded by shard size.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    parts = F.regexp_extract(F.col(id_col), r"^(.*):([0-9]+)$", 1)
    line_no = F.regexp_extract(F.col(id_col), r"^(.*):([0-9]+)$", 2).cast("int")
    w = Window.partitionBy("file").orderBy("line_no")
    prior = F.coalesce(
        F.sum(n_tok_col).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.col(n_tok_col).alias("n_tok"),
                  parts.alias("file"), line_no.alias("line_no"))
        .withColumn("pack_id", F.floor(prior / budget).cast("long"))
    )


def pack_stats(df, budget: int = 4096, id_col: str = "doc_id",
               n_tok_col: str = "n_tok"):
    """Per-pack rollup of ``pack_sequences``: sequence count, token count,
    and fill ratio vs the budget (exact int -> double division, so the ratio
    hashes identically across engines)."""
    from pyspark.sql import functions as F

    packed = pack_sequences(df, budget=budget, id_col=id_col, n_tok_col=n_tok_col)
    return packed.groupBy("file", "pack_id").agg(
        F.count("*").alias("n_seqs"),
        F.sum("n_tok").cast("long").alias("pack_tokens"),
        (F.sum("n_tok").cast("double") / F.lit(float(budget))).alias("fill_ratio"),
    )
