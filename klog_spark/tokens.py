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
