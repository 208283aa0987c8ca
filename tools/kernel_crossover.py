"""Doc-length crossover curve for the two minhash shingle kernels.

VERDICT r8 #6: the r8 in-session A/B found the word-hash kernel
(``hash_fn='xxhash64_words'``) wins big on many-short-doc corpora but
loses to the string kernel on few-long-doc corpora — a two-point
anecdote. This measures the curve: at a FIXED total word budget, vary
words-per-doc and time ONLY the signature kernel (scan -> shingles ->
64-perm minhash -> 1-row aggregate) for both kernels, alternating, best
of ``reps`` per cell.

Usage: python tools/kernel_crossover.py [total_words_M] [reps] [word_pad]
``word_pad`` appends that many extra chars to every word (default 0 =
the scaling corpus's ~5-char words) — the string kernel's cost scales
with shingle BYTES, so this probes whether the r8 string-kernel win was
a word-width effect rather than a doc-length one. Prints a markdown
table for BENCH/BASELINE.md. Corpora are generated JVM-side (no RNG)
and written to /dev/shm parquet OUTSIDE the timed window, mirroring
tools/scaling_job.py's dedup fixture role.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from klog_spark.session import get_spark  # noqa: E402
from klog_spark.datapipe.dedup import minhash_signatures  # noqa: E402

DOC_LENS = (20, 80, 200, 500, 1000)
KERNELS = ("xxhash64", "xxhash64_words")


def make_corpus(spark, n_docs: int, doc_len: int, out: str,
                word_pad: int = 0) -> None:
    words = F.transform(
        F.sequence(F.lit(0), F.lit(doc_len - 1)),
        lambda i: F.concat(
            F.lit("w" + "x" * word_pad),
            F.pmod(F.xxhash64(F.col("doc_id") * F.lit(997) + i), F.lit(4000)),
        ),
    )
    (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text"))
        .repartition(64)
        .write.mode("overwrite")
        .parquet(out)
    )


def time_kernel(docs, hash_fn: str) -> float:
    t0 = time.perf_counter()
    sigs = minhash_signatures(docs, num_hashes=64, shingle_n=3, hash_fn=hash_fn)
    sigs.agg(
        F.count("*").alias("n"),
        F.sum(F.element_at("signature", 1)).alias("s1"),
    ).collect()
    return time.perf_counter() - t0


def main() -> None:
    total_words = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 12_800_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    word_pad = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    spark = get_spark(app_name="kernel-crossover")
    rows = []
    for L in DOC_LENS:
        n_docs = total_words // L
        out = tempfile.mkdtemp(prefix=f"klog-xover-{L}-", dir="/dev/shm")
        try:
            make_corpus(spark, n_docs, L, f"{out}/docs", word_pad)
            docs = spark.read.parquet(f"{out}/docs")
            time_kernel(docs, KERNELS[0])  # untimed full pass: warm scan + codegen
            best = {k: float("inf") for k in KERNELS}
            sanity = {}
            for _ in range(reps):
                for k in KERNELS:  # alternate kernels within each rep
                    best[k] = min(best[k], time_kernel(docs, k))
            # presence-only sanity: both kernels emit one signature per doc
            # (signature VALUES are checked by the dedup recall pytests)
            for k in KERNELS:
                sanity[k] = minhash_signatures(docs, 64, 3, hash_fn=k).count()
            assert sanity["xxhash64"] == sanity["xxhash64_words"] == n_docs, sanity
            ratio = best["xxhash64_words"] / best["xxhash64"]
            rows.append((L, n_docs, best["xxhash64"], best["xxhash64_words"], ratio))
            print(
                f"L={L:5d} docs={n_docs:8,d}  strings={best['xxhash64']:6.2f}s  "
                f"word-hash={best['xxhash64_words']:6.2f}s  ratio={ratio:.2f}",
                flush=True,
            )
        finally:
            shutil.rmtree(out, ignore_errors=True)
    print("\n| words/doc | docs | strings kernel (s) | word-hash kernel (s) | word-hash/strings |")
    print("|---|---|---|---|---|")
    for L, n, s, w, r in rows:
        print(f"| {L} | {n:,} | {s:.2f} | {w:.2f} | **{r:.2f}** |")
    spark.stop()


if __name__ == "__main__":
    main()
