import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from klog_spark.tokens import texts_to_token_arrays, token_series_to_texts


def test_roundtrip_basic():
    texts = ["hello", "", "baseOffset: 12 lastOffset: 13", "uniçødé \U0001f600"]
    values, offsets = texts_to_token_arrays(texts)
    series = pd.Series([values[offsets[i]:offsets[i + 1]] for i in range(len(texts))])
    assert token_series_to_texts(series).tolist() == texts


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(max_size=50), max_size=20))
def test_roundtrip_property(texts):
    values, offsets = texts_to_token_arrays(texts)
    assert len(values) == sum(len(t) for t in texts)
    series = pd.Series([np.asarray(values[offsets[i]:offsets[i + 1]]) for i in range(len(texts))])
    assert token_series_to_texts(series).tolist() == texts


def test_codepoint_encoding_is_invertible_identity():
    text = "| offset: 1 CreateTime: 2 keySize: 3 valueSize: 4 sequence: 5 headerKeys: []"
    values, _ = texts_to_token_arrays([text])
    assert values.tolist() == [ord(c) for c in text]

