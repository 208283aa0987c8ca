"""Vectorized text -> token codec.

The engine's primary input is a table of pre-tokenized sequences
(``tokens:array<int32>``, per BASELINE.json input_hint). The token encoding
is the invertible codepoint encoding of the rendered dump-line text, so
"token-array equality" is exactly "routed the same line". The encoder here
feeds the dump-text reader and the fixture generator; the parse decodes
(``operators.parse._decode_tokens``). Neither direction does per-row Python
work on the character data: a whole batch goes through one contiguous
UTF-32 buffer.
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
