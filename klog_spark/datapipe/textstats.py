"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting — all JVM-side expressions (zero
Python in the hot path) except the fingerprint, which reuses the
numpy-vectorized polynomial hash from klog_spark.javahash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword sets (n-gram/stopword-vote heuristic)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "las", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im"],
}

_WORDS = lambda c: F.split(F.lower(F.trim(F.col(c))), r"\s+")  # noqa: E731


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a BPE-ish subword proxy (runs of letters /
    digits / single punctuation, the common pre-tokenizer regex)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_WORDS(text_col)).alias("n_ws_tokens"),
        F.cast("int", F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))).alias(
            "n_subword_tokens"
        ),
        F.length(text_col).alias("n_chars"),
    )


def quality_scores(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword heuristics (the classic pre-training
    quality filters), rounded for cross-engine comparability."""
    words = _WORDS(text_col)
    n_words = F.size(words)
    all_stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_arr = F.array(*[F.lit(w) for w in all_stops])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    avg_word_len = (F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / n_words)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        F.round(n_stop / n_words, 4).alias("stopword_ratio"),
        F.round(n_punct / F.length(text_col), 4).alias("punct_ratio"),
        ((n_words >= 5) & (n_stop / n_words >= 0.01) & (n_punct / F.length(text_col) < 0.3)).alias(
            "passes_quality"
        ),
    )


def wordlist_filter(docs: DataFrame, blocklist: list[str],
                    max_ppm: int = 100_000, text_col: str = "text",
                    id_col: str = "doc_id", method: str = "expr") -> DataFrame:
    """Blocked-wordlist filtering (the RefinedWeb / C4 badwords recipe):
    count occurrences of blocklisted words per document and keep documents
    whose blocked fraction stays under ``max_ppm`` parts-per-million — an
    all-integer accept test (``n_blocked * 1_000_000 <= max_ppm * n_words``),
    so both engines decide identically with zero float thresholds.

    Returns (doc_id, n_words, n_blocked, keep) for every document; empty
    documents keep (0 blocked of 0 words).

    Two physical strategies, identical results (parity pytest):

    * ``method='expr'`` — the blocklist as a plan-literal array probed with
      ``array_contains`` per word. O(|blocklist|) per word, zero shuffle,
      streams in append mode; right for the usual few-hundred-term lists.
    * ``method='join'`` — words explode once and hit a BROADCAST blocklist
      table, hits aggregate per doc, left join back. O(1) hash probe per
      word and the list never enters the plan tree; the shape for
      million-term lists where a literal array would not even compile
      (the packed-Bloom lesson, VERDICT r6 #1 on dedup.py:769).
    """
    if method not in ("expr", "join"):
        raise ValueError(f"method must be 'expr' or 'join', got {method!r}")
    words = F.filter(_WORDS(text_col), lambda w: w != "")
    base = docs.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
    if method == "expr":
        # the cast keeps an EMPTY blocklist analyzable: a bare F.array()
        # is array<void> and array_contains fails analysis (same
        # empty-literal trap as bloom_screen_broadcast's bit_arr)
        blk = F.array(*[F.lit(w) for w in sorted(set(blocklist))]).cast("array<string>")
        counted = base.select(
            "doc_id",
            F.size("_w").cast("long").alias("n_words"),
            F.size(F.filter("_w", lambda w: F.array_contains(blk, w)))
            .cast("long").alias("n_blocked"),
        )
    else:
        spark = docs.sparkSession
        bdf = spark.createDataFrame(
            [(w,) for w in sorted(set(blocklist))], "word: string"
        )
        hits = (
            base.select("doc_id", F.explode("_w").alias("word"))
            .join(F.broadcast(bdf), "word")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_blocked"))
        )
        counted = (
            base.select("doc_id", F.size("_w").cast("long").alias("n_words"))
            .join(hits, "doc_id", "left")
            .select(
                "doc_id", "n_words",
                F.coalesce("n_blocked", F.lit(0)).cast("long").alias("n_blocked"),
            )
        )
    return counted.select(
        "doc_id", "n_words", "n_blocked",
        (F.col("n_blocked") * F.lit(1_000_000)
         <= F.lit(int(max_ppm)) * F.col("n_words")).alias("keep"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic stopword-vote language guess: count distinct stopword
    hits per language, argmax with lexicographic tiebreak."""
    words = F.array_distinct(_WORDS(text_col))
    scores = []
    for lang in sorted(STOPWORDS):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        scores.append(F.size(F.array_intersect(words, arr)).alias(f"score_{lang}"))
    df = docs.select(F.col(id_col).alias("doc_id"), *scores)
    # argmax by (score desc, lang asc): fold over languages
    langs = sorted(STOPWORDS)
    best_lang = F.lit(langs[0])
    best_score = F.col(f"score_{langs[0]}")
    for lang in langs[1:]:
        cond = F.col(f"score_{lang}") > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, F.col(f"score_{lang}")).otherwise(best_score)
    return df.select(
        "doc_id", *[F.col(f"score_{lg}") for lg in langs],
        F.when(best_score > 0, best_lang).otherwise(F.lit("unknown")).alias("lang_guess"),
    )


def fingerprints(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit polynomial rolling-hash fingerprint of the full text (the Java
    String.hashCode recurrence — deterministic, replicable in any engine)."""
    from ..javahash import java_string_hash

    return docs.select(
        F.col(id_col).alias("doc_id"),
        java_string_hash(F.col(text_col)).alias("fingerprint"),
    )


def repetition_scores(docs: DataFrame, n: int = 2, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher-style intra-document repetition metrics: the fraction of word
    n-grams (and words) that are repeats of an earlier occurrence — the
    classic low-quality/boilerplate signal (high repetition => drop).

    All JVM higher-order-function expressions: no explode, no shuffle — a
    pure map over documents, trivially 100 TB-shaped. Ratios are exact
    integer->double divisions (deterministic across engines)."""
    words = _WORDS(text_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    n_words = F.size(words)
    n_grams = F.when(F.size(words) >= n, F.size(words) - (n - 1)).otherwise(F.lit(0))
    dup_words = n_words - F.size(F.array_distinct(words))
    # when size >= n the grams array has exactly size-(n-1) = n_grams slots;
    # shorter docs produce one partial-gram slot, masked by the n_grams=0 arm
    dup_grams = F.when(n_grams > 0, n_grams - F.size(F.array_distinct(grams))).otherwise(F.lit(0))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        dup_words.cast("long").alias("n_dup_words"),
        F.when(n_words > 0, dup_words.cast("double") / n_words).otherwise(F.lit(0.0)).alias(
            "dup_word_frac"
        ),
        n_grams.cast("long").alias("n_grams"),
        dup_grams.cast("long").alias("n_dup_grams"),
        F.when(n_grams > 0, dup_grams.cast("double") / n_grams).otherwise(F.lit(0.0)).alias(
            "dup_gram_frac"
        ),
    )


def unigram_lm_scores(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """CCNet-style unigram language-model quality scoring: train a unigram
    LM on the corpus itself (word -> count / total), then score every
    document by its average negative log-likelihood — low avg_nll ~ fluent,
    high ~ gibberish/boilerplate. The classic cheap LM filter in front of a
    pretraining corpus.

    Determinism across engines and partitionings: the per-WORD
    -ln(c/N) is rounded once to integer micro-nats (a pure function of the
    LM counts), documents integer-sum those micro-nats (order-independent,
    unlike a float sum), and the final average is the exact
    int-sum / (1e6 * n_words) double division. No ROUND-on-a-float-sum
    anywhere.

    Scale shape: explode -> count per word (one shuffle, map-side partial)
    is the LM; scoring joins the exploded words back on the word key (AQE
    broadcasts the LM when the vocabulary is small enough, plain equi-join
    otherwise — vocabulary grows ~O(corpus^0.5) by Heaps' law, never like
    the corpus); final per-doc aggregation is the third and last shuffle.
    Documents with no words carry no probability mass and are omitted, both
    here and in the oracle.
    """
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_WORDS(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    from ..cachereg import track

    # the LM is vocab-sized and read twice (total + per-word scores):
    # persist it so the corpus explode->count aggregation runs once
    lm = track(words.groupBy("w").agg(F.count("*").alias("c")).persist())
    total = lm.agg(F.sum("c").cast("long").alias("n_total"))
    word_nll = lm.crossJoin(F.broadcast(total)).select(
        "w",
        F.round(-F.log(F.col("c") / F.col("n_total")) * 1000000, 0)
        .cast("long").alias("nll_micro"),
    )
    return (
        words.join(word_nll, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("nll_micro").cast("long").alias("sum_nll_micro"),
        )
        .select(
            "doc_id", "n_words",
            (F.col("sum_nll_micro").cast("double")
             / (1000000.0 * F.col("n_words"))).alias("avg_nll"),
        )
    )


def bigram_lm_scores(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", lam: float = 0.9) -> DataFrame:
    """Interpolated BIGRAM language-model quality scoring — the next rung
    above :func:`unigram_lm_scores` toward the KenLM-style filters CCNet
    actually ships: position i >= 2 scores
    ``-ln(lam * c(w_{i-1} w_i)/c(w_{i-1}) + (1-lam) * c(w_i)/N)`` and the
    first word scores its unigram ``-ln(c(w_1)/N)``; the doc score is the
    average over all n_words positions. Interpolation with the unigram
    floor means every in-corpus word has positive mass, so no -inf.

    Determinism contract (same as the unigram gate): each per-POSITION
    nll is a pure function of LM counts, rounded ONCE to integer
    micro-nats; documents integer-sum those, so no float-sum order can
    differ between engines or partitionings.

    Scale shape: the bigram table is bigram-vocabulary-sized (Heaps-like,
    far sub-corpus); the score tables join back on (prev, w) / (w) keys —
    AQE broadcasts them when small, plain equi-joins otherwise. Docs with
    zero words carry no mass and are omitted (oracle too).
    """
    ws = F.filter(_WORDS(text_col), lambda w: w != "")
    wsdf = docs.select(
        F.col(id_col).alias("doc_id"), ws.alias("ws")
    ).filter(F.size("ws") > 0)
    pos = wsdf.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws")),
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i).alias("w"),
                    F.when(i > 1, F.element_at(F.col("ws"), i - 1)).alias("prev"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.w").alias("w"), F.col("t.prev").alias("prev"))

    uni = pos.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    tot = uni.agg(F.sum("c").cast("long").alias("n_total"))
    uni_nll = uni.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(-F.log(F.col("c").cast("double") / F.col("n_total")) * 1000000, 0)
        .cast("long").alias("nll_micro"),
    )
    bi = (
        pos.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").cast("long").alias("cb"))
    )
    bi_nll = (
        bi.join(uni.select(F.col("w").alias("prev"), F.col("c").alias("cl")), "prev")
        .join(uni.select("w", F.col("c").alias("cu")), "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev", "w",
            F.round(
                -F.log(
                    F.lit(lam) * F.col("cb").cast("double") / F.col("cl")
                    + F.lit(1.0 - lam) * F.col("cu").cast("double") / F.col("n_total")
                ) * 1000000, 0,
            ).cast("long").alias("nll_micro"),
        )
    )
    scored = (
        pos.filter(F.col("prev").isNull())
        .join(uni_nll, "w")
        .select("doc_id", "nll_micro")
        .unionByName(
            pos.filter(F.col("prev").isNotNull())
            .join(bi_nll, ["prev", "w"])
            .select("doc_id", "nll_micro")
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("nll_micro").cast("long").alias("sum_nll_micro"),
        )
        .select(
            "doc_id", "n_words",
            (F.col("sum_nll_micro").cast("double")
             / (1000000.0 * F.col("n_words"))).alias("avg_nll"),
        )
    )


# Conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# no backreferences, no lookaround, no \b ambiguity across engines.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
    "phone": r"(\+?[0-9]{1,3}[-. ]?)?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}",
    "ssn_like": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}
# fixed order: longer/more-specific first so e.g. an SSN inside a phone-ish
# context is not half-rewritten by a later pass
PII_ORDER = ["email", "ipv4", "phone", "ssn_like"]


def redact_pii(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Rule-based PII scrubbing (emails, IPv4s, phone-shaped numbers,
    SSN-shaped triples) — the mandatory hygiene pass in front of a
    pretraining corpus. Pure JVM ``regexp_replace`` chain (zero Python,
    codegen-friendly) with per-class hit counts so the pipeline can report
    redaction rates per source. Patterns are deliberately conservative and
    use only syntax with identical semantics in Java regex and RE2, which
    is what makes the DuckDB oracle able to replicate the rewrite
    byte-for-byte. NOT a substitute for a trained PII model — the same
    honestly-labeled stand-in contract as lang_id/quality_scores.

    Count semantics (ADVICE r5 #2): ``n_<class>`` are RAW-TEXT match counts —
    each pattern counted independently on the ORIGINAL text — while the
    rewrite applies the patterns sequentially in ``PII_ORDER``. A match
    consumed by an earlier rewrite (an IPv4 inside an email's domain) is
    therefore counted in ``n_ipv4`` yet never appears as ``<IPV4>`` in
    ``clean_text``; the counts answer "how much PII-shaped material does
    this text contain", not "how many tokens did the rewrite insert".
    ``had_pii`` is unaffected (any raw match implies at least one rewrite).
    """
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        *[
            F.cast("int", F.regexp_count(F.col(text_col), F.lit(p)))
            .alias(f"n_{name}")
            for name, p in PII_PATTERNS.items()
        ],
    )
    red = F.col("_t")
    for name in PII_ORDER:
        red = F.regexp_replace(red, PII_PATTERNS[name], f"<{name.upper()}>")
    return out.select(
        "doc_id",
        red.alias("clean_text"),
        *[F.col(f"n_{name}") for name in PII_PATTERNS],
        (sum(F.col(f"n_{name}") for name in PII_PATTERNS) > 0).alias("had_pii"),
    )


def compression_ratio_scores(docs: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """Compression-ratio quality signal (the Gopher-family heuristic):
    zlib-compressed size / raw size per document — highly compressible text
    is repetitive/templated, incompressible text is often binary junk; the
    healthy middle band is what a corpus filter keeps. Arrow-batched
    mapInPandas (zlib releases the GIL, the C deflate IS the work). Scores
    are deterministic for a fixed zlib/level (pytest-oracled against
    direct zlib; no cross-engine SQL oracle is possible since the ratio is
    definitionally the codec's output)."""
    import zlib

    from pyspark.sql.types import (
        DoubleType, IntegerType, LongType, StructField, StructType,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("raw_bytes", IntegerType()),
        StructField("compressed_bytes", IntegerType()),
        StructField("compression_ratio", DoubleType()),
    ])

    def gen(it):
        import pandas as pd

        for pdf in it:
            out = {"doc_id": [], "raw_bytes": [], "compressed_bytes": [],
                   "compression_ratio": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                raw = str(text).encode("utf-8")
                comp = zlib.compress(raw, level)
                out["doc_id"].append(doc_id)
                out["raw_bytes"].append(len(raw))
                out["compressed_bytes"].append(len(comp))
                out["compression_ratio"].append(
                    len(comp) / len(raw) if raw else None
                )
            yield pd.DataFrame(out)

    return docs.select(id_col, text_col).mapInPandas(gen, schema)


def doc_keywords(docs: DataFrame, k: int = 3, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """TF-IDF keyword extraction: the top-``k`` terms per document by
    tf * idf with idf = ln(N_docs / df) — the classic corpus summarization
    / topic-tagging primitive. Determinism across engines and
    partitionings via the LM-scorer trick: idf is rounded ONCE per term to
    integer micro-nats (a pure function of document frequencies), scores
    are exact integer products, and ranking ties break on (score DESC,
    word ASC). Scale shape: distinct (doc, word) explode -> one df-keyed
    groupBy for the IDF table -> join back on the word key -> one bounded
    per-doc window."""
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_WORDS(text_col)).alias("w"),
    ).filter(F.col("w") != "")
    tf = words.groupBy("doc_id", "w").agg(F.count("*").cast("long").alias("tf"))
    n_docs = docs.select(F.countDistinct(id_col).cast("long").alias("n_docs"))
    idf = (
        tf.groupBy("w").agg(F.countDistinct("doc_id").cast("long").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w",
            F.round(F.log(F.col("n_docs").cast("double") / F.col("df")) * 1000000, 0)
            .cast("long").alias("idf_micro"),
        )
    )
    from pyspark.sql import Window

    scored = tf.join(idf, "w").select(
        "doc_id", "w", "tf",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("w")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", F.col("rank").cast("int").alias("rank"),
                F.col("w").alias("keyword"), "tf",
                (F.col("score_micro").cast("double") / 1000000.0).alias("tfidf"))
    )


def chunk_documents(docs: DataFrame, max_words: int, overlap: int = 0,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Context-window chunking: split each document into word-boundary
    chunks of at most ``max_words`` words, consecutive chunks sharing
    ``overlap`` words (stride = max_words - overlap) — the standard prep
    step for fitting long documents into a model's context length while
    keeping boundary context. Chunk k covers word indices
    [k*stride, k*stride + max_words); a chunk is emitted only if it adds at
    least one word not already in the previous chunk (k == 0 or
    k*stride + overlap < n), so every word is covered exactly once beyond
    the shared overlaps, the final chunk may be shorter, and a doc of
    <= max_words words yields exactly one chunk. Documents with zero words
    are omitted.

    Scale shape: a pure per-row JVM expression (split -> sequence ->
    slice -> array_join exploded) — NO shuffle at any scale; output row
    count is sum(ceil(max(n_i - overlap, 1) / stride)).
    """
    if not 0 <= overlap < max_words:
        raise ValueError(f"need 0 <= overlap < max_words, got {overlap=} {max_words=}")
    stride = max_words - overlap
    ws = F.filter(_WORDS(text_col), lambda w: w != "")
    return (
        docs.select(F.col(id_col).alias("doc_id"), ws.alias("_ws"))
        .filter(F.size("_ws") > 0)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    # chunk indices k that add new words:
                    # 0 .. ceil(max(n - overlap, 1) / stride) - 1
                    F.sequence(
                        F.lit(0),
                        F.floor(
                            (F.greatest(F.size("_ws") - overlap, F.lit(1)) - 1)
                            / stride
                        ).cast("int"),
                    ),
                    lambda k: F.struct(
                        k.cast("long").alias("chunk_id"),
                        F.array_join(
                            F.slice(F.col("_ws"), k * stride + 1, max_words), " "
                        ).alias("chunk_text"),
                        F.least(F.size("_ws") - k * stride, F.lit(max_words))
                        .cast("long").alias("n_chunk_words"),
                    ),
                )
            ).alias("c"),
        )
        .select("doc_id", "c.chunk_id", "c.chunk_text", "c.n_chunk_words")
    )


def chunk_quality_filter(docs: DataFrame, weights: list[float],
                         stats: dict[str, tuple[float, float]],
                         max_words: int = 40, overlap: int = 0,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Chunk-granular quality filtering (the FineWeb-Edu-style refinement
    of a document-level filter): score every context-window chunk of a
    document with the PINNED quality model and decide per document on the
    WORST chunk — a long document with one boilerplate/garbage section
    fails even when its document-level average looks fine, which is
    exactly what document-granular filters miss.

    Features per chunk replicate ``quality_scores`` + the scored-filter
    fold bit-for-bit (4-dp ratio rounding, 6-dp f_len grid, the same
    literal weight/stat fold), so ``margin_micro`` per chunk is
    deterministic-identical across engines.

    Returns (doc_id, n_chunks, min_margin_micro, sum_margin_micro, keep)
    with ``keep = min_margin >= 0``; ``sum_margin_micro / n_chunks`` is the
    mean operating point for callers preferring the softer rule.

    Scale shape: chunking is the zero-shuffle per-row explode of
    ``chunk_documents``; scoring is a stateless JVM fold per chunk; the
    only shuffle is the final doc_id-keyed aggregation (map-side partial).
    """
    chunks = chunk_documents(docs, max_words=max_words, overlap=overlap,
                             text_col=text_col, id_col=id_col)
    words = _WORDS("chunk_text")
    n_words = F.size(words)
    all_stops = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_arr = F.array(*[F.lit(w) for w in all_stops])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    n_punct = F.regexp_count(F.col("chunk_text"), F.lit(r"[^\w\s]"))
    feats = {
        "f_stop": F.round(n_stop / n_words, 4),
        "f_punct": F.round(n_punct / F.length("chunk_text"), 4),
        "f_len": F.round(F.log1p(n_words) / 10.0, 6),
    }
    margin = F.lit(float(weights[0]))
    for w, (name, col) in zip(weights[1:], feats.items()):
        m, s = stats[name]
        margin = margin + F.lit(float(w)) * ((col - F.lit(float(m))) / F.lit(float(s)))
    scored = chunks.select(
        "doc_id", F.round(margin * 1000000).cast("long").alias("_mm")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.min("_mm").cast("long").alias("min_margin_micro"),
        F.sum("_mm").cast("long").alias("sum_margin_micro"),
        (F.min("_mm") >= 0).alias("keep"),
    )


def perplexity_buckets(docs: DataFrame, n_buckets: int = 3,
                       source_col: str = "source", text_col: str = "text",
                       id_col: str = "doc_id",
                       thresholds: dict[str, list[float]] | None = None,
                       on_unknown_source: str = "error") -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    interpolated bigram LM (:func:`bigram_lm_scores`) and split each source
    into ``n_buckets`` equal-count buckets by ascending avg_nll — bucket 1
    is the head (most LM-like), bucket ``n_buckets`` the tail, the split
    CCNet uses to keep head+middle and drop (or down-weight) the tail.

    Default (gate) path: rank-based ``ntile`` per source with a total-order
    tiebreak (avg_nll, doc_id) — exact equal-count semantics, identical in
    any SQL engine. Scale note: the ntile window sorts each source's score
    rows inside one partition; the rows are 3 narrow columns, but a single
    dominant source still serializes its sort. The 100-TB path is
    ``thresholds`` (from :func:`perplexity_bucket_thresholds`, an
    approx-percentile pass): assignment becomes a broadcast CASE
    comparison — per-row, no window, no per-source sort.

    Returns (doc_id, source, n_words, avg_nll, ppl_bucket).

    A source present in ``docs`` but absent from ``thresholds`` has no
    cutoffs to compare against; per the module's fail-loud convention
    (ADVICE r6) the default ``on_unknown_source='error'`` raises (one
    cheap anti-join + capped collect, run once at plan-build time) instead
    of silently emitting NULL buckets. ``on_unknown_source='tail'`` maps
    unknown sources to the tail bucket ``n_buckets`` — the conservative
    call (unvetted source = worst-perplexity treatment) for pipelines that
    must not fail on a late-arriving source.
    """
    from pyspark.sql import Window

    scores = bigram_lm_scores(docs, text_col=text_col, id_col=id_col)
    src = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(source_col).alias("source"))
    joined = src.join(scores, "doc_id")
    if thresholds is not None:
        if on_unknown_source not in ("error", "tail"):
            raise ValueError(
                f"on_unknown_source must be 'error'|'tail', got {on_unknown_source!r}"
            )
        if on_unknown_source == "error":
            unknown = [
                r["source"] for r in
                src.select("source").distinct()
                .filter(~F.col("source").isin(list(thresholds))).limit(20).collect()
            ]
            if unknown:
                raise ValueError(
                    f"sources without thresholds: {sorted(unknown)} — pass "
                    "cutoffs for them (perplexity_bucket_thresholds) or use "
                    "on_unknown_source='tail'"
                )
        # value-threshold assignment: bucket = 1 + #(cutoffs < avg_nll);
        # ties go LEFT (avg_nll == cutoff stays in the lower bucket),
        # mirroring "<= threshold" quantile-cut semantics.
        cut_map = F.create_map(*[
            lit for s, cuts in sorted(thresholds.items())
            for lit in (F.lit(s), F.array(*[F.lit(float(c)) for c in cuts]))
        ])
        bucket = (
            F.lit(1)
            + F.size(F.filter(cut_map[F.col("source")],
                              lambda c: c < F.col("avg_nll")))
        ).cast("int")
        if on_unknown_source == "tail":
            bucket = F.coalesce(bucket, F.lit(int(n_buckets)).cast("int"))
        return joined.select("doc_id", "source", "n_words", "avg_nll",
                             bucket.alias("ppl_bucket"))
    w = Window.partitionBy("source").orderBy(F.asc("avg_nll"), F.asc("doc_id"))
    return joined.select("doc_id", "source", "n_words", "avg_nll",
                         F.ntile(n_buckets).over(w).alias("ppl_bucket"))


def perplexity_bucket_thresholds(docs: DataFrame, n_buckets: int = 3,
                                 source_col: str = "source",
                                 text_col: str = "text",
                                 id_col: str = "doc_id",
                                 accuracy: int = 10000,
                                 max_sources: int = 100000) -> dict[str, list[float]]:
    """Per-source avg_nll bucket cutoffs for the threshold (100-TB) path of
    :func:`perplexity_buckets`: one ``approx_percentile`` aggregation over
    the score table (map-side-combinable sketch, no per-source sort),
    collected as a tiny dict — n_sources × (n_buckets - 1) floats. The
    collect is hard-capped at ``max_sources`` rows (source cardinality is
    a recipe-level constant, orders of magnitude under the cap); a corpus
    with more sources than the cap raises instead of silently truncating."""
    scores = bigram_lm_scores(docs, text_col=text_col, id_col=id_col)
    src = docs.select(F.col(id_col).alias("doc_id"),
                      F.col(source_col).alias("source"))
    probs = [i / n_buckets for i in range(1, n_buckets)]
    agg = (
        src.join(scores, "doc_id")
        .groupBy("source")
        .agg(F.percentile_approx("avg_nll", probs, accuracy).alias("cuts"))
    )
    rows = agg.limit(max_sources + 1).collect()
    if len(rows) > max_sources:
        raise ValueError(
            f"more than max_sources={max_sources} sources — raise the cap "
            "or bucket a coarser source grouping"
        )
    return {r["source"]: [float(c) for c in r["cuts"]] for r in rows}


def corpus_drift(old_docs: DataFrame, new_docs: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 top_k: int = 20) -> DataFrame:
    """Distribution drift between two corpus snapshots: per-word
    contribution to KL(new || old) over add-1-smoothed unigram LMs, the
    monitor that catches a source mix shifting under a recurring ingest
    (new crawl dump, changed filter) before a model trains on it.

    Returns the ``top_k`` drift-driving words by |contribution|:
    (word, c_old, c_new, contrib_micro_nats) where ``contrib =
    p_new * ln(p_new / p_old)`` on the integer micro-nat grid — per-word
    rounding BEFORE any cross-row arithmetic, so the total
    ``SUM(contrib_micro_nats)`` is an order-independent exact integer on
    any engine.

    Scale shape: two vocabulary-sized word-count aggregations (map-side
    partials; Heaps-law bounded), one full-outer join on the word key, one
    TakeOrdered top-k — no corpus-sized shuffle, no driver-side counts.
    """
    def _counts(df, alias):
        return (
            df.select(
                F.explode(
                    F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                             lambda w: w != "")
                ).alias("word")
            )
            .groupBy("word")
            .agg(F.count("*").cast("long").alias(alias))
        )

    old_lm = _counts(old_docs, "c_old")
    new_lm = _counts(new_docs, "c_new")
    from ..cachereg import track

    # j is vocab-sized and read twice (the scalar totals and the scored
    # output) — persist it so each corpus-sized word-count aggregation
    # runs once, not twice (VERDICT r8 #3)
    j = track(old_lm.join(new_lm, "word", "full_outer").select(
        "word",
        F.coalesce("c_old", F.lit(0)).cast("long").alias("c_old"),
        F.coalesce("c_new", F.lit(0)).cast("long").alias("c_new"),
    ).persist())
    # scalar totals over the vocab tables (bounded aggregations)
    tot = j.agg(
        F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new"),
        F.count("*").alias("v"),
    ).first()
    n_old, n_new, v = int(tot["n_old"]), int(tot["n_new"]), int(tot["v"])
    p_new = (F.col("c_new") + 1) / F.lit(float(n_new + v))
    p_old = (F.col("c_old") + 1) / F.lit(float(n_old + v))
    contrib = F.round(p_new * (F.log(p_new) - F.log(p_old)) * 1_000_000.0, 0)
    scored = j.select(
        "word", "c_old", "c_new",
        contrib.cast("long").alias("contrib_micro_nats"),
    )
    return (
        scored.orderBy(F.abs(F.col("contrib_micro_nats")).desc(), F.col("word").asc())
        .limit(int(top_k))
    )


def kneser_ney_doc_scores(docs: DataFrame, discount: float = 0.75,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Interpolated Kneser-Ney BIGRAM scoring — the smoothing real LM
    filters (KenLM) actually use, one rung above the count-interpolated
    bigram filter: position i >= 2 scores

        P(w_i | w_{i-1}) = max(c(w_{i-1} w_i) - d, 0) / c(w_{i-1})
                         + (d * r(w_{i-1}) / c(w_{i-1})) * (l(w_i) / B)

    with r(w1) = distinct right-continuations of w1, l(w2) = distinct
    left-contexts of w2 and B = distinct bigram count — the continuation
    probability that makes KN robust to 'San Francisco' artifacts. Scored
    self-corpus (every bigram seen at least once), so P > 0 everywhere.

    Determinism contract (the LM-family pattern): each per-position nll is
    a pure function of exact integer counts and the fixed discount,
    rounded ONCE to integer micro-nats; documents integer-sum those.
    Returns (doc_id, n_bigrams, sum_nll_micro, avg_nll_micro) for docs
    with >= 2 words.

    Scale shape: bigram-vocabulary-sized count tables (c12, c1, r, l —
    Heaps-like) plus two scalar constants; the score joins back on the
    (prev, w) key — never corpus x corpus."""
    ws = F.filter(_WORDS(text_col), lambda w: w != "")
    wsdf = docs.select(F.col(id_col).alias("doc_id"), ws.alias("ws")) \
        .filter(F.size("ws") >= 2)
    pairs = wsdf.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("ws")),
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i - 1).alias("prev"),
                    F.element_at(F.col("ws"), i).alias("w"),
                ),
            )
        ).alias("t"),
    ).select("doc_id", F.col("t.prev").alias("prev"), F.col("t.w").alias("w"))

    from ..cachereg import track

    # c12 is bigram-vocab-sized (Heaps-bounded) and feeds THREE consumers
    # (c1, lc, the type count, then the score join) — persist it so the
    # corpus-sized pair explode runs once for the model, not three times
    # (VERDICT r8 #3); released at the caller's invocation boundary
    c12 = track(
        pairs.groupBy("prev", "w").agg(F.count("*").cast("long").alias("c12"))
        .persist()
    )
    c1 = c12.groupBy("prev").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("r1"),       # distinct right types
    )
    lc = c12.groupBy("w").agg(F.count("*").cast("long").alias("l2"))
    n_bigram_types = c12.count()                      # scalar B (bounded agg)

    d = float(discount)
    p = (
        F.greatest(F.col("c12").cast("double") - F.lit(d), F.lit(0.0))
        / F.col("c1").cast("double")
        + (F.lit(d) * F.col("r1").cast("double") / F.col("c1").cast("double"))
        * (F.col("l2").cast("double") / F.lit(float(n_bigram_types)))
    )
    scored_pairs = (
        c12.join(c1, "prev").join(lc, "w")
        .select(
            "prev", "w",
            F.round(-F.log(p) * 1000000, 0).cast("long").alias("nll_micro"),
        )
    )
    return (
        pairs.join(scored_pairs, ["prev", "w"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("nll_micro").cast("long").alias("sum_nll_micro"),
        )
        .select(
            "doc_id", "n_bigrams", "sum_nll_micro",
            F.round(F.col("sum_nll_micro").cast("double") / F.col("n_bigrams"))
            .cast("long").alias("avg_nll_micro"),
        )
    )
