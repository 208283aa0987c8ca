"""Training-data pipeline operators: dedup (exact, near-dup, semantic),
Bloom screens, contamination, packing and novelty."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dup_corpus(spark):
    from klog_spark.entry_queries import _dup_corpus

    return _dup_corpus(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_finds_planted_dups(dup_corpus):
    from klog_spark.datapipe.dedup import exact_duplicates

    rows = exact_duplicates(dup_corpus).collect()
    # every doc_id % 10 == 0 got one exact copy -> both members flagged
    ids = {r["doc_id"] for r in rows}
    assert all(r["group_size"] == 2 for r in rows)
    originals = {r["keep_doc_id"] for r in rows}
    assert all(k % 10 == 0 and k < 1000000 for k in originals)
    assert all((i % 10 == 0) for i in ids if i < 1000000)


def test_minhash_recall_vs_exact_jaccard(dup_corpus):
    from klog_spark.datapipe.dedup import minhash_dedup, ngram_jaccard_pairs

    exact = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(dup_corpus, n=3, threshold=0.8).collect()
    }
    mh = {(r["id1"], r["id2"]) for r in minhash_dedup(dup_corpus, threshold=0.7).collect()}
    assert exact, "fixture must contain high-jaccard pairs"
    recall = len(exact & mh) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}"


def test_simhash_finds_near_dups(dup_corpus):
    from klog_spark.datapipe.dedup import simhash_near_pairs

    pairs = {(r["id1"], r["id2"]) for r in simhash_near_pairs(dup_corpus, max_hamming=3).collect()}
    # exact copies have hamming 0 and must all be found
    exact_pairs = {
        (r["doc_id"] - 1000000, r["doc_id"])
        for r in dup_corpus.filter((F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000)).collect()
    }
    assert exact_pairs <= pairs


def test_embedding_near_dups_planted(spark, emb):
    from klog_spark.datapipe.dedup import embedding_near_dups

    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    rows = embedding_near_dups(corpus, threshold=0.95).collect()
    planted = {(r["vec_id"] - 100000, r["vec_id"]) for r in dup.collect()}
    got = {(r["id1"], r["id2"]) for r in rows}
    assert planted == got  # identical vectors, nothing else is close


def test_ngram_max_df_cap_is_subquadratic_on_hot_shingle(spark):
    """Every doc shares one boilerplate shingle; with a df cap the candidate
    count must collapse from ~n^2/2 to the true near-dup pairs only."""
    from klog_spark.datapipe.dedup import _word_shingles, shingle_candidates

    n = 60
    rows = [(i, f"hot shingle boiler u{i} v{i} w{i} x{i} y{i} z{i}") for i in range(n)]
    rows.append((1000, rows[0][1]))  # one true dup pair
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    sh = _word_shingles(docs.select("doc_id", "text"), "text", 3)
    uncapped = shingle_candidates(sh, max_df=None).count()
    capped = shingle_candidates(sh, max_df=10).count()
    assert uncapped >= n * (n - 1) // 2  # the hot shingle pairs everyone
    assert capped == 1  # only the planted dup survives candidate generation


def test_ngram_max_df_does_not_change_results_below_cap(dup_corpus):
    """max_df above the fixture's max shingle df => identical exact output."""
    from klog_spark.datapipe.dedup import ngram_jaccard_pairs

    free = {tuple(r) for r in ngram_jaccard_pairs(dup_corpus, n=3, threshold=0.5).collect()}
    capped = {tuple(r) for r in ngram_jaccard_pairs(dup_corpus, n=3, threshold=0.5, max_df=20).collect()}
    assert free == capped and free


def test_minhash_java32_matches_planted_dups(dup_corpus):
    """The oracle-verifiable java32 hash variant must still find every exact
    copy (signature agreement 1.0)."""
    from klog_spark.datapipe.dedup import minhash_dedup

    got = {(r["id1"], r["id2"]) for r in minhash_dedup(dup_corpus, threshold=0.99, hash_fn="java32").collect()}
    exact_pairs = {
        (r["doc_id"] - 1000000, r["doc_id"])
        for r in dup_corpus.filter((F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000)).collect()
    }
    assert exact_pairs <= got


def test_minhash_word_hash_variant_matches_planted_dups(dup_corpus):
    """VERDICT r7 #5: the allocation-light 'xxhash64_words' signature path
    (per-word int64 hashes combined per shingle — NO n-gram strings) finds
    every planted exact copy at threshold 0.99 and agrees with the string
    path on the full detected pair set at the default threshold (same
    MinHash statistics, different-but-uniform hash family)."""
    from klog_spark.datapipe.dedup import minhash_dedup

    got = {(r["id1"], r["id2"])
           for r in minhash_dedup(dup_corpus, threshold=0.99,
                                  hash_fn="xxhash64_words").collect()}
    exact_pairs = {
        (r["doc_id"] - 1000000, r["doc_id"])
        for r in dup_corpus.filter(
            (F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000)).collect()
    }
    assert exact_pairs <= got

    base = {(r["id1"], r["id2"])
            for r in minhash_dedup(dup_corpus, threshold=0.5).collect()}
    words = {(r["id1"], r["id2"])
             for r in minhash_dedup(dup_corpus, threshold=0.5,
                                    hash_fn="xxhash64_words").collect()}
    # near-dup (non-exact) pairs may flip on hash-family boundaries; the
    # exact copies must be in both and the sets must agree on >= 95%
    assert exact_pairs <= base and exact_pairs <= words
    assert len(base & words) >= 0.95 * max(len(base), len(words))


def test_embedding_lsh_dedup_matches_exact(spark, emb):
    """The bucketed (no-O(n^2)) path must find the planted duplicates the
    exact cross-join path finds."""
    from klog_spark.datapipe.dedup import embedding_near_dups, embedding_near_dups_lsh

    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    exact = {(r["id1"], r["id2"]) for r in embedding_near_dups(corpus, threshold=0.95).collect()}
    lsh = {(r["id1"], r["id2"]) for r in
           embedding_near_dups_lsh(corpus, threshold=0.95, n_planes=8, n_tables=2).collect()}
    assert exact == lsh and exact  # exact dups always bucket-collide


def test_near_dup_clusters_transitive_chain(spark):
    """A~B and B~C (A!~C directly) must land in ONE cluster labelled by the
    min id — connected components, not just pair grouping."""
    from klog_spark.datapipe.dedup import near_dup_clusters, ngram_jaccard_pairs

    W = [f"w{i}" for i in range(12)]
    docs = spark.createDataFrame(
        [(10, " ".join(W[0:8])), (20, " ".join(W[2:10])), (30, " ".join(W[4:12])),
         (40, "totally unrelated text about other things entirely")],
        "doc_id: long, text: string",
    )
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    got = {(r["doc_id"], r["cluster_id"]) for r in near_dup_clusters(pairs).collect()}
    assert got == {(10, 10), (20, 10), (30, 10)}  # 40 has no pair -> no row


def test_ivf_kmeans_training_fixes_cell_balance():
    """On a fixture where the leading ids all sit in ONE cluster, first-N
    centroid init collapses whole far clusters into single cells (the IVF
    scaling pathology: one probe scans a quarter of the corpus). Sampled
    k-means training must keep cells balanced."""
    import numpy as np

    from klog_spark.datapipe.similarity import kmeans_centroids

    rng = np.random.default_rng(3)
    # four directional clusters (none at the origin: cosine ground truth
    # must respect the cluster structure)
    centers = np.zeros((4, 16))
    for i in range(4):
        centers[i, i] = 40.0
    corpus = np.concatenate([c + rng.standard_normal((200, 16)) for c in centers])
    # ids in cluster order: ids 0..199 are cluster 0 -> first-16 init is
    # 16 centroids inside one cluster

    def max_cell(cmat):
        d = (cmat * cmat).sum(axis=1)[None, :] - 2.0 * (corpus @ cmat.T)
        return int(np.bincount(np.argmin(d, axis=1), minlength=len(cmat)).max())

    first_n = corpus[:16]
    trained = kmeans_centroids(corpus[:1024], 16, seed=7)
    assert max_cell(first_n) >= 200        # >= one whole far cluster collapsed
    assert max_cell(trained) <= 120        # balanced: ~n/16 = 50 per cell


def test_near_dup_clusters_long_chain(spark):
    """A 200-node path graph: min-label propagation would need 199 rounds;
    the large-star/small-star alternation must converge inside the default
    max_iter (O(log^2 n) rounds). Also covers two components at once and
    reversed/self/duplicate pair noise."""
    from klog_spark.datapipe.dedup import near_dup_clusters

    chain = [(i, i + 1) for i in range(200, 400)]          # component min=200
    other = [(1000, 1001), (1001, 1000), (1002, 1001), (1002, 1002)]
    pairs = spark.createDataFrame(chain + other, "id1: long, id2: long")
    got = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert {d for d in got if d < 1000} == set(range(200, 401))
    assert all(got[d] == 200 for d in range(200, 401))
    assert got[1000] == got[1001] == got[1002] == 1000


def test_exact_dedup_keep_best_policy(spark):
    """Keeper = highest score, ties to lowest id; singletons keep themselves."""
    from pyspark.sql import functions as F

    from klog_spark.datapipe.dedup import exact_dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "aaa", 5), (2, "aaa", 9), (3, "aaa", 9), (4, "bbb", 1)],
        "doc_id: long, text: string, score: long",
    )
    got = {r["doc_id"]: (r["keep_doc_id"], r["kept"], r["group_size"])
           for r in exact_dedup_keep_best(docs, F.col("score")).collect()}
    assert got == {1: (2, False, 3), 2: (2, True, 3), 3: (2, False, 3), 4: (4, True, 1)}


def test_leakage_safe_split_keeps_dups_together(dup_corpus):
    """Exact copies must share a split; the ratio is roughly train_pct."""
    from klog_spark.datapipe.dedup import leakage_safe_split

    split = {r["doc_id"]: r["split"] for r in leakage_safe_split(dup_corpus, train_pct=80).collect()}
    copies = [d for d in split if 1000000 <= d < 2000000]
    assert copies
    for d in copies:
        assert split[d] == split[d - 1000000], d
    frac = sum(1 for s in split.values() if s == "train") / len(split)
    assert 0.7 <= frac <= 0.9, frac


def test_pack_sequences_python_oracle(spark):
    """Packing assignment must equal the sequential prefix-sum oracle, and
    per-file token totals must be conserved."""
    import random

    from klog_spark.tokens import pack_sequences, pack_stats

    rng = random.Random("pack-test")
    rows = []
    for f in ("fa", "fb"):
        for i in range(1, 200):
            rows.append((f"{f}:{i}", rng.randrange(0, 900)))
    df = spark.createDataFrame(rows, "doc_id string, n_tok int")
    budget = 1000
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(df, budget=budget).collect()
    }
    # sequential oracle
    want = {}
    for f in ("fa", "fb"):
        cum = 0
        for i in range(1, 200):
            did = f"{f}:{i}"
            n = dict(rows)[did]
            want[did] = cum // budget
            cum += n
    assert got == want
    stats = pack_stats(df, budget=budget).collect()
    per_file = {}
    for r in stats:
        per_file[r["file"]] = per_file.get(r["file"], 0) + r["pack_tokens"]
        assert r["fill_ratio"] == r["pack_tokens"] / budget
    for f in ("fa", "fb"):
        assert per_file[f] == sum(n for d, n in rows if d.startswith(f))


def test_contamination_report_detects_cross_split_copy(spark):
    from klog_spark.datapipe.dedup import contamination_report

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),                       # train original
            (2, base + " extra"),            # test near-copy -> contaminated
            (3, "totally different words with no overlap at all here"),  # test clean
        ],
        "doc_id long, text string",
    )
    split = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "test")], "doc_id long, split string"
    )
    rows = {r["test_doc"]: r for r in contamination_report(docs, split, n=5, min_common=3).collect()}
    assert set(rows) == {2}
    # doc 2 shares every 5-gram of the 10-word base: 6 shingles
    assert rows[2]["n_shared_shingles"] == 6
    assert rows[2]["n_train_docs"] == 1


def test_asof_join_matches_pandas_merge_asof(spark):
    """The generic as-of join must agree with pandas.merge_asof (the
    reference implementation) on random inputs, including the <=-tie case
    and the tolerance contract."""
    import random

    import pandas as pd

    from klog_spark.operators.asof import asof_join

    rng = random.Random("asof-test")
    right_rows, left_rows = [], []
    for key in ("a", "b", "c"):
        ts_pool = rng.sample(range(0, 500), 40)
        for t in sorted(ts_pool)[:20]:
            right_rows.append((key, t, t * 10 + hash(key) % 7))
        for _ in range(30):
            left_rows.append((len(left_rows), key, rng.randrange(0, 520)))
    rdf = spark.createDataFrame(right_rows, "k string, ts long, val long")
    ldf = spark.createDataFrame(left_rows, "lid long, k string, ts long")

    for tol in (None, 25):
        got = {
            r["lid"]: r["val"]
            for r in asof_join(ldf, rdf, on="ts", by=["k"], right_cols=["val"],
                               tolerance=tol).collect()
        }
        lpd = pd.DataFrame(left_rows, columns=["lid", "k", "ts"]).sort_values("ts")
        rpd = pd.DataFrame(right_rows, columns=["k", "ts", "val"]).sort_values("ts")
        merged = pd.merge_asof(lpd, rpd, on="ts", by="k",
                               tolerance=tol, allow_exact_matches=True)
        want = {
            int(r.lid): (None if pd.isna(r.val) else int(r.val))
            for r in merged.itertuples()
        }
        assert got == want


def test_repeated_ngram_spans(spark):
    """Cross-doc repeated 4-gram spans: planted shared passages are found
    with exact word offsets, overlapping repeats merge into maximal spans,
    unique text is never flagged, and the xxhash64-keyed scale variant
    equals the string-keyed one."""
    from klog_spark.datapipe.dedup import repeated_ngram_spans

    shared = "alpha beta gamma delta epsilon zeta"       # 6 words
    rows = [
        (1, f"u1a u1b {shared} u1c u1d"),                # span at words [2, 8)
        (2, f"{shared} completely different tail here"),  # span at [0, 6)
        (3, "totally unique words nothing repeated at all ever"),
        (4, f"x1 x2 x3 {shared} y1 {shared}"),            # two spans, gap 1 word
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_ngram_spans(df, n=4, min_df=2)
    got = {(r["doc_id"], r["span_start"], r["span_end"])
           for r in out.collect()}
    # doc4: spans [3,9) and [10,16); the 1-word gap means the two repeats
    # do NOT merge (no flagged 4-gram bridges them)
    assert got == {(1, 2, 8), (2, 0, 6), (4, 3, 9), (4, 10, 16)}
    hashed = {(r["doc_id"], r["span_start"], r["span_end"])
              for r in repeated_ngram_spans(df, n=4, min_df=2,
                                            hash_ngrams=True).collect()}
    assert hashed == got

    # adjacent repeats DO merge: two shared trigram-blocks overlapping
    rows2 = [(1, "p q r s t u v"), (2, "p q r s t u v end")]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {(r["doc_id"], r["span_start"], r["span_end"], r["n_flagged_positions"])
            for r in repeated_ngram_spans(df2, n=4, min_df=2).collect()}
    assert out2 == {(1, 0, 7, 4), (2, 0, 7, 4)}


def test_repeated_spans_property(spark):
    """Property: on random small corpora over a tiny vocabulary (forcing
    natural cross-doc n-gram repeats), the Spark construction equals a
    sequential Python oracle computing flagged positions and merged spans
    directly."""
    import random

    from klog_spark.datapipe.dedup import repeated_ngram_spans

    rng = random.Random("spans-prop")
    N = 4
    for trial in range(6):
        vocab = [f"w{j}" for j in range(rng.randint(3, 6))]
        docs = []
        for i in range(rng.randint(2, 7)):
            n_words = rng.randint(0, 20)
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n_words))))

        # sequential oracle
        grams = {}
        for i, t in docs:
            ws = [w for w in t.lower().strip().split() if w]
            for p in range(max(0, len(ws) - N + 1)):
                grams.setdefault(" ".join(ws[p:p + N]), set()).add(i)
        repeated = {g for g, ids in grams.items() if len(ids) >= 2}
        want = set()
        for i, t in docs:
            ws = [w for w in t.lower().strip().split() if w]
            flagged = [p for p in range(max(0, len(ws) - N + 1))
                       if " ".join(ws[p:p + N]) in repeated]
            spans, cur = [], None
            for p in flagged:
                if cur is not None and p < cur[1]:
                    cur = (cur[0], p + N, cur[2] + 1)
                else:
                    if cur:
                        spans.append(cur)
                    cur = (p, p + N, 1)
            if cur:
                spans.append(cur)
            want |= {(i, s, e, k) for s, e, k in spans}

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r["doc_id"], r["span_start"], r["span_end"], r["n_flagged_positions"])
               for r in repeated_ngram_spans(df, n=N, min_df=2).collect()}
        assert got == want, f"trial {trial}: {sorted(got)} != {sorted(want)}"


def test_remove_repeated_spans(spark):
    """The excision step: planted shared passages are spliced out at exact
    word offsets, untouched docs pass through whole, a fully-duplicated doc
    collapses to the empty string, and detection+removal composes with a
    precomputed span table identically to the fused path."""
    from klog_spark.datapipe.dedup import (
        remove_repeated_spans, repeated_ngram_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta"       # 6 words
    rows = [
        (1, f"u1a u1b {shared} u1c u1d"),
        (2, f"{shared} completely different tail here"),
        (3, "totally unique words nothing repeated at all ever"),
        (4, f"x1 x2 x3 {shared} y1 {shared}"),
        (5, shared), (6, shared),                         # fully duplicated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["cleaned_text"], r["n_removed_words"], r["n_kept_words"])
           for r in remove_repeated_spans(df, n=4, min_df=2).collect()}
    assert out[1] == ("u1a u1b u1c u1d", 6, 4)
    assert out[2] == ("completely different tail here", 6, 4)
    assert out[3] == ("totally unique words nothing repeated at all ever", 0, 8)
    # doc4: spans [3,9) and [10,16) -> words x1 x2 x3 + the 1-word gap y1
    assert out[4] == ("x1 x2 x3 y1", 12, 4)
    assert out[5] == ("", 6, 0) and out[6] == ("", 6, 0)
    # word-count conservation on every row
    for doc_id, (_, rem, kept) in out.items():
        n = len(dict(rows)[doc_id].split())
        assert rem + kept == n, doc_id

    spans = repeated_ngram_spans(df, n=4, min_df=2)
    via_table = {r["doc_id"]: (r["cleaned_text"], r["n_removed_words"],
                               r["n_kept_words"])
                 for r in remove_repeated_spans(df, spans=spans).collect()}
    assert via_table == out


def test_semdedup_embedding_clusters(spark):
    """SemDeDup keep/drop semantics on a hand-built corpus: exact-duplicate
    sets co-locate in one cell and keep exactly their lowest id (dup_of
    points at it), singletons survive, and cross-cluster vectors are never
    compared (orthogonal vectors share no cell at any threshold)."""
    from klog_spark.datapipe.dedup import semdedup_embedding

    e1, e2, e3 = [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]
    rows = [(0, e1), (1, e2), (2, e3),          # 3 orthogonal "centroids"
            (10, e1), (11, e1),                  # dups of e1 -> keep 0
            (20, e2),                            # dup of e2 -> keep 1
            (30, [0.7, 0.7, 0.14])]              # singleton, own direction
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["dup_of"], r["kept"])
           for r in semdedup_embedding(df, threshold=0.95, n_centroids=3).collect()}
    assert out[0] == (None, True) and out[1] == (None, True) and out[2] == (None, True)
    assert out[10] == (0, False) and out[11] == (0, False)
    assert out[20] == (1, False)
    assert out[30] == (None, True)
    assert len(out) == 7


def test_semdedup_kmeans_path_drops_exact_dups(spark):
    """The kmeans-trained (scale/balance) quantizer path: exact duplicates
    have identical vectors, so they land in the same cell under ANY
    quantizer and are always pruned with the lowest id as canonical —
    regardless of how the cells partition the rest of the corpus."""
    import random

    from klog_spark.datapipe.dedup import semdedup_embedding

    rng = random.Random("semdedup-km")
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100 + i, base[i]) for i in range(0, 40, 5)]   # 8 exact dups
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["dup_of"], r["kept"])
           for r in semdedup_embedding(df, threshold=0.999, n_centroids=4,
                                       train="kmeans", seed=3).collect()}
    assert len(out) == 48
    for i in range(0, 40, 5):
        assert out[100 + i] == (i, False)       # dup dropped, canonical = original
        assert out[i][1]                        # original kept


def test_bloom_screen_no_false_negatives(spark):
    """Bloom pre-screen contract: every exact copy of an indexed document
    is maybe_dup (no false negatives, ever), and composing the screen with
    the exact digest join yields the SAME duplicate set as running the
    join unscreened — the screen only removes definitely-new docs."""
    from klog_spark.datapipe.dedup import (
        bloom_bits, bloom_screen, incremental_exact_dups,
    )

    corpus = spark.createDataFrame(
        [(i, f"indexed document number {i} body") for i in range(200)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(1000 + i, f"indexed document number {i} body") for i in range(0, 200, 7)]
        + [(5000 + i, f"brand new text {i} zzz") for i in range(50)],
        "doc_id long, text string",
    )
    m, k = 8192, 4
    bits = bloom_bits(corpus, m=m, k=k)
    screen = {r["doc_id"]: r["maybe_dup"]
              for r in bloom_screen(incoming, bits, m=m, k=k).collect()}
    assert len(screen) == incoming.count()
    for i in range(0, 200, 7):
        assert screen[1000 + i]                     # true dup -> always flagged

    maybe_ids = [d for d, flag in screen.items() if flag]
    screened = incoming.filter(F.col("doc_id").isin(maybe_ids))
    via_screen = {(r["doc_id"], r["dup_of"])
                  for r in incremental_exact_dups(screened, corpus).collect()}
    unscreened = {(r["doc_id"], r["dup_of"])
                  for r in incremental_exact_dups(incoming, corpus).collect()}
    assert via_screen == unscreened == {(1000 + i, i) for i in range(0, 200, 7)}


def test_bloom_screen_broadcast_parity_and_streaming(spark, tmp_path_factory):
    """The broadcast (zero-shuffle, literal-set) Bloom screen returns
    exactly the relational form's (n_hits, maybe_dup) per doc, its plan
    has no Exchange, and the same expression screens a STREAM in append
    mode with identical results."""
    import contextlib
    import io

    from klog_spark.datapipe.dedup import (
        bloom_bits, bloom_screen, bloom_screen_broadcast,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus item {i} payload") for i in range(150)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(900 + i, f"corpus item {i} payload") for i in range(0, 150, 11)]
        + [(2000 + i, f"unseen {i} qqq") for i in range(40)],
        "doc_id long, text string",
    )
    m, k = 2048, 3
    bits = bloom_bits(corpus, m=m, k=k)
    want = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
            for r in bloom_screen(incoming, bits, m=m, k=k).collect()}
    bc = bloom_screen_broadcast(incoming, bits, m=m, k=k)
    got = {r["doc_id"]: (r["n_hits"], r["maybe_dup"]) for r in bc.collect()}
    assert got == want
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bc.explain("simple")
    assert "Exchange" not in buf.getvalue()

    src = tmp_path_factory.mktemp("bloom_stream")
    incoming.repartition(4).write.mode("overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        bloom_screen_broadcast(stream, bits, m=m, k=k)
        .writeStream.format("memory").queryName("bloom_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got_s = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
             for r in spark.sql("select * from bloom_stream").collect()}
    assert got_s == want


def test_bloom_screen_packed_parity_and_large_m(spark):
    """The PACKED broadcast Bloom screen (bitmap via SparkContext.broadcast,
    O(1) bit probes in an Arrow kernel) returns exactly the relational
    form's (n_hits, maybe_dup) at the gate size AND at m = 2^20 — a size
    the literal-array form cannot realistically plan (2^20 literals in the
    expression tree); no false negatives at either size."""
    from klog_spark.datapipe.dedup import (
        bloom_bits, bloom_pack, bloom_screen, bloom_screen_packed,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus item {i} payload") for i in range(300)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(900 + i, f"corpus item {i} payload") for i in range(0, 300, 13)]
        + [(2000 + i, f"unseen {i} qqq") for i in range(60)],
        "doc_id long, text string",
    )
    for m, k in ((2048, 3), (1 << 20, 4)):
        bits = bloom_bits(corpus, m=m, k=k)
        want = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
                for r in bloom_screen(incoming, bits, m=m, k=k).collect()}
        bitmap = bloom_pack(bits, m=m)
        assert len(bitmap) == (m + 7) // 8
        got = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
               for r in bloom_screen_packed(incoming, bitmap, m=m, k=k).collect()}
        assert got == want
        for i in range(0, 300, 13):
            assert got[900 + i] == (k, True)    # exact copy: all k probes hit

    # empty bit table: packed form screens everything as definitely-new
    empty = bloom_pack(bloom_bits(corpus.limit(0), m=2048, k=3), m=2048)
    got0 = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
            for r in bloom_screen_packed(incoming, empty, m=2048, k=3).collect()}
    assert all(v == (0, False) for v in got0.values())


def test_bloom_screen_packed_null_text_matches_relational(spark):
    """ADVICE r7: a NULL text row must screen to (n_hits=0, maybe_dup=false)
    in the packed form exactly as in the relational and broadcast forms —
    previously its NaN probes cast to garbage int64 bitmap indices."""
    from klog_spark.datapipe.dedup import (
        bloom_bits, bloom_pack, bloom_screen, bloom_screen_broadcast,
        bloom_screen_packed,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus item {i}") for i in range(50)], "doc_id long, text string"
    )
    incoming = spark.createDataFrame(
        [(100, "corpus item 7"), (101, None), (102, "unseen zzz")],
        "doc_id long, text string",
    )
    m, k = 2048, 3
    bits = bloom_bits(corpus, m=m, k=k)
    rel = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
           for r in bloom_screen(incoming, bits, m=m, k=k).collect()}
    bro = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
           for r in bloom_screen_broadcast(incoming, bits, m=m, k=k).collect()}
    pck = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
           for r in bloom_screen_packed(incoming, bloom_pack(bits, m=m),
                                        m=m, k=k).collect()}
    assert rel == bro == pck
    assert pck[101] == (0, False)
    assert pck[100] == (k, True)


def test_bloom_screen_packed_scale_m(spark):
    """VERDICT r7 #7: the packed-broadcast path at m = 2^27 (16 MiB bitmap —
    far past anything the literal or relational forms could plan; the
    design claim is 2^33 = 1 GiB with identical constant factors). The
    bitmap broadcasts once, every exact copy hits all k probes, no unseen
    doc false-positives at this fill rate, and the loose wall-clock guard
    catches a constant-factor regression (per-row Python, bitmap copies)."""
    import time as _t

    from klog_spark.datapipe.dedup import bloom_bits, bloom_pack, bloom_screen_packed

    m, k = 1 << 27, 4
    corpus = spark.createDataFrame(
        [(i, f"scale corpus item {i} payload") for i in range(2000)],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10_000 + i, f"scale corpus item {i} payload") for i in range(0, 2000, 7)]
        + [(50_000 + i, f"unseen scale {i} qq") for i in range(300)],
        "doc_id long, text string",
    )
    t0 = _t.time()
    bitmap = bloom_pack(bloom_bits(corpus, m=m, k=k), m=m)
    assert len(bitmap) == m // 8 == 16 * 1024 * 1024
    got = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
           for r in bloom_screen_packed(incoming, bitmap, m=m, k=k).collect()}
    elapsed = _t.time() - t0
    for i in range(0, 2000, 7):
        assert got[10_000 + i] == (k, True)
    # 8000 set bits in 2^27: P(all-4-probe FP) ~ (8e3/1.3e8)^4 ~ 1e-17
    assert all(not got[50_000 + i][1] for i in range(300))
    assert elapsed < 120, f"packed screen at m=2^27 took {elapsed:.1f}s"


def test_bloom_screen_broadcast_empty_bits(spark):
    """ADVICE r6: the literal-array broadcast form must not fail analysis
    on an EMPTY bit table (F.array() is array<void>) — every incoming doc
    is definitely-new."""
    from klog_spark.datapipe.dedup import bloom_bits, bloom_screen_broadcast

    incoming = spark.createDataFrame(
        [(1, "anything"), (2, "at all")], "doc_id long, text string"
    )
    empty_corpus = incoming.limit(0)
    out = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
           for r in bloom_screen_broadcast(
               incoming, bloom_bits(empty_corpus, m=512, k=3), m=512, k=3
           ).collect()}
    assert out == {1: (0, False), 2: (0, False)}


def test_semdedup_mega_cell_fails_loud(spark):
    """VERDICT r6 next #4: a degenerate embedding distribution that lands
    (nearly) everything in one cell must raise BEFORE the per-cell
    self-join runs — never a silent O(n^2) stage — and the error names the
    offending cell; with the cap lifted the same corpus still dedups."""
    from klog_spark.datapipe.dedup import semdedup_embedding

    # 120 near-identical vectors -> one mega-cell under any quantizer
    rows = [(i, [1.0, 0.0, 0.0, i * 1e-9]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_cell_size"):
        semdedup_embedding(df, threshold=0.99, n_centroids=4,
                           max_cell_size=50)
    out = semdedup_embedding(df, threshold=0.99, n_centroids=4,
                             max_cell_size=200).collect()
    assert len(out) == 120
    assert sum(0 if r["kept"] else 1 for r in out) > 0


def test_semdedup_pinned_centroids_match_live_trainer(spark):
    """Pin-parity (VERDICT r6 next #3, the SCORED_FILTER_WEIGHTS pattern):
    re-running the live kmeans trainer (similarity.kmeans_centroids, same
    sample/seed/iters as tools/pin_centroids.py) on the semdedup gate
    corpus reproduces entry_queries.SEMDEDUP_CENTROIDS bit-for-bit, so the
    pinned literals can never drift from the code that produced them."""
    import numpy as np

    from klog_spark import entry_queries as eq
    from klog_spark.datapipe.similarity import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    sample = np.array(
        [r["embedding"] for r in
         corpus.select("vec_id", "embedding").orderBy("vec_id").limit(4096).collect()],
        dtype=np.float64,
    )
    cents = kmeans_centroids(sample, 16, n_iter=10, seed=7)
    pinned = np.array(eq.SEMDEDUP_CENTROIDS, dtype=np.float64)
    assert cents.shape == pinned.shape == (16, 64)
    assert np.array_equal(cents, pinned)   # repr round-trips exactly


def test_decontaminate_drops_planted_contamination(spark):
    """Contamination REMOVAL (VERDICT r6 next #5): a train doc sharing >= 3
    distinct 5-gram shingles with the test side is dropped; clean train
    docs are kept with zero counts; test docs never appear in the decision
    table. The kept filter composed with contamination_report's detection
    is self-consistent: dropping the flagged docs leaves a corpus whose
    re-scan reports no contaminated test doc above the threshold."""
    from klog_spark.datapipe.dedup import contamination_report, decontaminate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),                                              # train, leaks into 2
            (2, base + " extra"),                                   # test near-copy
            (3, "totally different words with no overlap at all here whatsoever"),  # train clean
            (4, "yet another clean and unrelated training document body text"),     # train clean
            (5, "held out benchmark question that matches nothing in training"),    # test clean
        ],
        "doc_id long, text string",
    )
    split = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train"), (5, "test")],
        "doc_id long, split string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(docs, split, n=5, min_common=3).collect()}
    assert set(rows) == {1, 3, 4}                     # train side only
    assert rows[1]["kept"] is False
    assert rows[1]["n_test_shingles"] == 6 and rows[1]["n_test_docs"] == 1
    for d in (3, 4):
        assert rows[d]["kept"] is True
        assert rows[d]["n_test_shingles"] == 0 and rows[d]["n_test_docs"] == 0

    kept_ids = [d for d, r in rows.items() if r["kept"]]
    clean = docs.filter(F.col("doc_id").isin(kept_ids + [2, 5]))  # kept train + test side
    rescan = contamination_report(clean, split, n=5, min_common=3).collect()
    assert rescan == []


def test_remove_repeated_spans_empty_doc_counts_zero(spark):
    """ADVICE r6: an empty/whitespace-only document reports n_kept_words=0
    (the '' split artifact is filtered), matching the sibling word-count
    operators."""
    from klog_spark.datapipe.dedup import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_repeated_spans(docs, n=3, min_df=2).collect()}
    assert got[1]["n_kept_words"] == 0 and got[1]["cleaned_text"] == ""
    assert got[2]["n_kept_words"] == 0 and got[2]["cleaned_text"] == ""
    assert got[3]["n_kept_words"] == 3 and got[3]["cleaned_text"] == "real words here"


def test_packed_bloom_stream_parity(spark, tmp_path_factory):
    """The packed-bitmap Bloom screen (broadcast bitmap + Arrow kernel) is
    a stateless per-row kernel, so it applies UNCHANGED to a streaming
    DataFrame in append mode with batch-identical output."""
    from klog_spark.datapipe.dedup import bloom_bits, bloom_pack, bloom_screen_packed

    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(61)],
                                 "doc_id long, text string")
    m, k = 1 << 14, 3
    bitmap = bloom_pack(bloom_bits(docs.filter(F.col("doc_id") % 2 == 0), m=m, k=k), m=m)
    want_bl = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
               for r in bloom_screen_packed(docs, bitmap, m=m, k=k).collect()}

    base = tmp_path_factory.mktemp("bloom_stream")
    docs.repartition(3).write.mode("overwrite").parquet(f"{base}/docs")

    s_docs = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{base}/docs"))
    q = (bloom_screen_packed(s_docs, bitmap, m=m, k=k)
         .writeStream.format("memory").queryName("bl_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)
    got_bl = {r["doc_id"]: (r["n_hits"], r["maybe_dup"])
              for r in spark.sql("select * from bl_stream").collect()}
    assert got_bl == want_bl


def test_semdedup_keep_farthest_policy(spark):
    """keep='farthest' (D4-style prototypes): within a near-dup
    neighborhood the member farthest from its centroid survives and the
    cluster-typical member is dropped; exact copies still resolve to the
    original via the id tiebreak; min_id semantics are unchanged."""
    from klog_spark.datapipe.dedup import semdedup_embedding

    rows = [
        (1, [1.0, 0.0]),    # nearest the centroid -> dropped under farthest
        (2, [1.2, 0.0]),    # same direction, farther -> the kept prototype
        (3, [0.0, 1.0]),    # other cell, untouched
        (10, [1.2, 0.0]),   # exact copy of 2 -> tie, larger id loses
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    out_min = {r["vec_id"]: (r["dup_of"], r["kept"])
               for r in semdedup_embedding(df, 0.95, centroids=cents).collect()}
    out_far = {r["vec_id"]: (r["dup_of"], r["kept"])
               for r in semdedup_embedding(df, 0.95, centroids=cents,
                                           keep="farthest").collect()}
    assert out_min == {1: (None, True), 2: (1, False), 3: (None, True), 10: (1, False)}
    assert out_far == {1: (2, False), 2: (None, True), 3: (None, True), 10: (2, False)}
    with pytest.raises(ValueError, match="keep"):
        semdedup_embedding(df, 0.95, centroids=cents, keep="nope")


def test_dedup_paragraph_blocks(spark):
    """Paragraph-block dedup: exact duplicate docs come back empty, the
    first occurrence keeps its full text, within-doc repeated blocks keep
    only the first copy, empty docs report 0 blocks, and the xxhash64-keyed
    scale variant equals the string-keyed one. Verified against a
    sequential Python oracle replaying the first-(doc_id, block_idx) rule."""
    from klog_spark.datapipe.dedup import dedup_paragraph_blocks

    K = 3
    blk_a = "a1 a2 a3"
    blk_b = "b1 b2 b3"
    rows = [
        (1, f"{blk_a} {blk_b} tail1"),       # all blocks first-occurrence
        (2, f"{blk_a} {blk_b} tail1"),       # exact copy -> everything dropped
        (3, f"{blk_b} {blk_b} fresh"),       # within-doc repeat of b... but
        #   doc3 block0 = blk_b already seen in doc1 block1 -> dropped;
        #   doc3 block1 = blk_b dropped too; block2 = "fresh" kept
        (4, "   "),                          # whitespace-only -> 0 blocks
        (5, "solo"),                         # short doc, 1 partial block
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # sequential oracle
    seen, want = set(), {}
    for doc_id, text in rows:
        ws = [w for w in text.lower().strip().split() if w]
        blocks = [" ".join(ws[i:i + K]) for i in range(0, len(ws), K)]
        kept = []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        want[doc_id] = (len(blocks), len(kept), " ".join(kept))

    out = {r["doc_id"]: (r["n_blocks"], r["n_kept_blocks"], r["kept_text"])
           for r in dedup_paragraph_blocks(df, block_words=K).collect()}
    assert out == want
    assert out[2] == (3, 0, "")
    assert out[4] == (0, 0, "")

    hashed = {r["doc_id"]: (r["n_blocks"], r["n_kept_blocks"], r["kept_text"])
              for r in dedup_paragraph_blocks(df, block_words=K,
                                              hash_blocks=True).collect()}
    assert hashed == out


def test_ngram_novelty_semantics(spark):
    """Republished reference text scores 0 novelty; disjoint-vocab text
    scores 1e6; partial overlap is exact integer arithmetic."""
    from klog_spark.datapipe.dedup import ngram_novelty

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),   # exact republication
         (11, "one two three four five six"),           # fully novel
         (12, "alpha beta gamma one two three")],       # shingles: 4 total
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
           for r in ngram_novelty(tgt, ref, n=3).collect()}
    assert out[10] == (4, 0, 0)
    assert out[11] == (4, 4, 1_000_000)
    # doc 12: 'alpha beta gamma' seen; 'beta gamma one', 'gamma one two',
    # 'one two three' novel -> 3/4
    assert out[12] == (4, 3, 750_000)


def test_cross_source_dup_matrix_counts(spark):
    """Hand-computed duplicate-pair counts: 2x web + 1x wiki of text A,
    2x wiki of text B, unique text C -> web-wiki 2 pairs (1 text),
    web-web 1 pair, wiki-wiki 1 pair."""
    from klog_spark.datapipe.dedup import cross_source_dup_matrix

    rows = [(1, "text A", "web"), (2, "text A", "web"), (3, "text A", "wiki"),
            (4, "text B", "wiki"), (5, "text B", "wiki"), (6, "text C", "web")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): (r["n_dup_pairs"], r["n_texts"])
           for r in cross_source_dup_matrix(df).collect()}
    assert out == {
        ("web", "wiki"): (2, 1),
        ("web", "web"): (1, 1),
        ("wiki", "wiki"): (1, 1),
    }


def test_ngram_novelty_packed_matches_exact(spark):
    """The packed-Bloom novelty screen (zero-Exchange kernel) equals the
    exact reference-join operator at m = 2^20 (FP ~ 0 at this fill), and
    is CONSERVATIVE by construction: n_novel <= exact n_novel row-by-row
    at a deliberately tiny m where false positives do occur."""
    from klog_spark.datapipe.dedup import (
        bloom_pack, ngram_novelty, ngram_novelty_packed, shingle_bloom_bits,
    )

    ref = spark.createDataFrame(
        [(i, f"ref doc {i} alpha beta gamma {i} delta") for i in range(80)],
        "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(100 + i, f"ref doc {i} alpha beta gamma {i} delta") for i in range(0, 80, 7)]
        + [(500 + i, f"totally fresh words {i} qqq zzz www") for i in range(30)],
        "doc_id long, text string")
    exact = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
             for r in ngram_novelty(tgt, ref, n=3).collect()}

    m, k = 1 << 20, 4
    bitmap = bloom_pack(shingle_bloom_bits(ref, m=m, k=k, n=3), m=m)
    packed = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
              for r in ngram_novelty_packed(tgt, bitmap, m=m, k=k, n=3).collect()}
    assert packed == exact

    # tiny filter: FPs shrink novelty but never invent it (no false negatives)
    m2 = 256
    bm2 = bloom_pack(shingle_bloom_bits(ref, m=m2, k=2, n=3), m=m2)
    small = {r["doc_id"]: r["n_novel"]
             for r in ngram_novelty_packed(tgt, bm2, m=m2, k=2, n=3).collect()}
    assert all(small[d] <= exact[d][1] for d in exact)

    # zero-Exchange plan: the screen must stay a stateless per-row kernel
    plan_df = ngram_novelty_packed(tgt, bitmap, m=m, k=k, n=3)
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("simple")
    assert "Exchange" not in buf.getvalue()


def test_ngram_novelty_packed_xxhash_variant(spark):
    """The xxhash64 throughput probes (paired with an xxhash64-built
    bitmap) reproduce the exact operator's novelty at m = 2^20, like the
    java32 gate path — the dedup_minhash_lsh bench/gate hash split."""
    from klog_spark.datapipe.dedup import (
        bloom_pack, ngram_novelty, ngram_novelty_packed, shingle_bloom_bits,
    )

    ref = spark.createDataFrame(
        [(i, f"ref doc {i} aa bb cc {i}") for i in range(60)],
        "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(100 + i, f"ref doc {i} aa bb cc {i}") for i in range(0, 60, 5)]
        + [(500 + i, f"new stuff {i} xx yy zz") for i in range(25)],
        "doc_id long, text string")
    exact = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
             for r in ngram_novelty(tgt, ref, n=3).collect()}
    m, k = 1 << 20, 4
    bm = bloom_pack(shingle_bloom_bits(ref, m=m, k=k, n=3, hash_fn="xxhash64"), m=m)
    got = {r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
           for r in ngram_novelty_packed(tgt, bm, m=m, k=k, n=3,
                                         hash_fn="xxhash64").collect()}
    assert got == exact


def test_soft_dedup_weights_mass_conservation(spark):
    """SoftDeDup: every copy of a duplicated text carries 1e6/n_copies
    micro weight; per-text total mass stays ~1e6 (one doc's worth)."""
    from klog_spark.datapipe.dedup import soft_dedup_weights

    rows = [(1, "dup text"), (2, "dup text"), (3, "dup text"), (4, "unique")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_copies"], r["weight_micro"])
           for r in soft_dedup_weights(df).collect()}
    assert out == {1: (3, 333333), 2: (3, 333333), 3: (3, 333333),
                   4: (1, 1_000_000)}


