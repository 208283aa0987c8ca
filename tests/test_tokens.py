import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from klog_spark.operators.parse import _decode_tokens
from klog_spark.tokens import texts_to_token_arrays


def _decoded(values: np.ndarray, offsets: np.ndarray) -> list[str]:
    """The texts the parse decodes from the encoder's flat values and
    offsets, as one Arrow list array."""
    lines, n_tok = _decode_tokens(pa.ListArray.from_arrays(offsets, values))
    assert n_tok.tolist() == np.diff(offsets).tolist()
    return lines


def test_roundtrip_basic():
    texts = ["hello", "", "baseOffset: 12 lastOffset: 13", "uniçødé \U0001f600"]
    values, offsets = texts_to_token_arrays(texts)
    assert _decoded(values, offsets) == texts


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(max_size=50), max_size=20))
def test_roundtrip_property(texts):
    values, offsets = texts_to_token_arrays(texts)
    assert len(values) == sum(len(t) for t in texts)
    assert _decoded(values, offsets) == texts


def test_codepoint_encoding_is_invertible_identity():
    text = "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: []"
    values, _ = texts_to_token_arrays([text])
    assert values.tolist() == [ord(c) for c in text]

