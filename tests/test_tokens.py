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


def test_bpe_train_and_encode(spark):
    """Distributed BPE: the learned merges must equal an independent
    pure-Python reference BPE computed straight from the raw texts (no
    word-frequency detour), be partition-invariant, and the distributed
    encoder must reproduce the reference segmentation with exact fertility
    stats."""
    from klog_spark.datapipe.bpe import EOW, apply_bpe, train_bpe

    texts = [
        (0, "low low low low low"),
        (1, "lower lower newest newest newest"),
        (2, "newest newest newest widest widest"),
        (3, "the newest lowest the the"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    K = 12
    merges = train_bpe(df, n_merges=K)

    # independent reference: Sennrich-style BPE from raw lines
    from collections import Counter

    vocab = Counter()
    for _, t in texts:
        for w in t.lower().strip().split():
            vocab[tuple([*w, EOW])] += 1

    def ref_merge(v, a, b):
        out = Counter()
        for syms, f in v.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out[tuple(res)] += f
        return out

    want = []
    v = vocab
    for _ in range(K):
        counts = Counter()
        for syms, f in v.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        want.append((a, b, n))
        v = ref_merge(v, a, b)
    assert merges == want
    assert train_bpe(df.repartition(7), n_merges=K) == merges  # partition-invariant

    # distributed encoding: matches a direct reference encode per word
    enc = {r["doc_id"]: r for r in apply_bpe(df, merges).collect()}
    order = {(a, b): i for i, (a, b, _) in enumerate(merges)}

    def ref_encode(w):
        syms = [*w, EOW]
        while len(syms) > 1:
            ranked = [(order[(a, b)], j) for j, (a, b) in enumerate(zip(syms, syms[1:]))
                      if (a, b) in order]
            if not ranked:
                break
            r, _ = min(ranked)
            a, b = next(p for p in order if order[p] == r)
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    for doc_id, t in texts:
        words = t.lower().strip().split()
        want_toks = [s for w in words for s in ref_encode(w)]
        assert enc[doc_id]["bpe_tokens"] == want_toks, doc_id
        assert enc[doc_id]["n_tokens"] == len(want_toks)
        assert enc[doc_id]["n_words"] == len(words)
    # heavily repeated words compress: fertility well under char count
    assert enc[0]["n_tokens"] == 5  # 'low</w>' fully merged after 12 merges


def test_bpe_to_packing_end_to_end(spark):
    """Tokenizer -> trainer batch construction end to end: BPE-encode the
    corpus with learned merges, then pack the token sequences to a budget —
    every pack respects the budget (oversized docs stand alone) and token
    counts are conserved."""
    from pyspark.sql import functions as F

    from klog_spark.datapipe.bpe import apply_bpe, train_bpe
    from klog_spark.tokens import pack_sequences

    texts = [(i, ("lorem ipsum dolor sit amet " * ((i % 5) + 1)).strip())
             for i in range(40)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    merges = train_bpe(df, n_merges=20)
    enc = apply_bpe(df, merges).select(
        F.concat(F.lit("f:"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.col("n_tokens").alias("n_tok"),
    )
    budget = 40
    packed = pack_sequences(enc, budget=budget)
    stats = packed.groupBy("pack_id").agg(
        F.sum("n_tok").alias("tok"), F.count("*").alias("docs"),
        F.max("n_tok").alias("biggest"),
    ).collect()
    total = enc.agg(F.sum("n_tok")).collect()[0][0]
    assert sum(r["tok"] for r in stats) == total          # conservation
    # contract: a pack closes as soon as its budget is CROSSED — the
    # crossing sequence stays, so total minus one sequence is under budget
    for r in stats:
        assert r["tok"] - r["biggest"] < budget
    assert len(stats) >= total // (2 * budget)            # actually packs


def test_bpe_encode_gate_pin_matches_trainer(spark):
    """The gate's pinned merge table (entry_queries.BPE_ENCODE_MERGES) must
    equal `train_bpe(sf0.01 documents, 32)` exactly — if the driver fixture
    or the trainer ever changes, the oracle's embedded tokenizer would
    silently diverge from the Spark side; this pins the drift loudly. Also
    re-asserts the oracle's left != right precondition (the single-pass
    merge comprehension is only exact without same-symbol pairs)."""
    from klog_spark import entry_queries as eq
    from klog_spark.datapipe.bpe import train_bpe

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    trained = train_bpe(docs, len(eq.BPE_ENCODE_MERGES))
    assert trained == eq.BPE_ENCODE_MERGES
    assert all(l != r for l, r, _ in eq.BPE_ENCODE_MERGES)
