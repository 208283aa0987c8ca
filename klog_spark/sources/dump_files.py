"""Raw `kafka-dump-log` output as an engine input source.

The reference CLI consumes directories of dump-text files directly
(SegmentDumpReader walks `*.log.dump.txt`); the engine's native input is
the tokenized sequence table. This source bridges them: point it at a
directory/glob of dump files and it produces the exact (doc_id, tokens,
n_tok, source) table the rest of the pipeline consumes — so a klog user
can run every query against the files they already have, no offline
tokenization step.

IMPORTANT pitfall this source exists to avoid: Spark's Hadoop-based text
readers apply the hidden-file filter, which SILENTLY DROPS any file whose
name starts with ``_`` — and Kafka's internal topics
(``__consumer_offsets``, ``__transaction_state``) produce exactly such
dump-file names. Files are therefore listed explicitly (driver-side glob,
the same listing Spark's own file index does) and opened on the
executors, one task per dump file — a file is one segment dump, bounded
by segment size, the same granule checkpoint.py uses for lineage. The
listing is O(segment count) driver memory — fine to ~10^5 segments; at
10^6+ files swap the glob for a paginated listing (os.scandir batches)
feeding multiple createDataFrame unions, the shape is otherwise unchanged.

``doc_id`` is ``<path-relative-to-common-root>:<line_no>`` — relative
paths (not basenames) because klog's on-disk layout repeats basenames
across partition directories.

The line-split + codepoint encoding is one C-level UTF-32 pass per file
(tokens.texts_to_token_arrays), no per-line Python beyond O(lines)
slicing. ``source`` is taken from the file's ``Dumping <path>`` header —
the same path the reference's segment-type and topic inference read —
with the file name as fallback.
"""

from __future__ import annotations

import glob as _glob
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..schemas import INPUT_SCHEMA


def read_input(spark: SparkSession, path: str) -> DataFrame:
    """The one input resolver (``Pipeline.input_df``): a fixture directory
    reads its ``sequences.parquet`` (not its meta tables); tokenized-sequence
    parquet (a ``.parquet`` path, or a directory holding parquet files) is
    read as is, with its declared schema (inferring it would start a
    footer-reading Spark job on every read); anything else is a
    directory/glob of dump-text files."""
    if os.path.exists(os.path.join(path, "sequences.parquet")):
        path = os.path.join(path, "sequences.parquet")
    if path.endswith(".parquet") or (
        os.path.isdir(path) and _glob.glob(os.path.join(path, "*.parquet"))
    ):
        return spark.read.schema(INPUT_SCHEMA).parquet(path)
    return read_dump_files(spark, path)


def read_dump_files(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of dump-text files -> the tokenized sequence table."""
    from ..tokens import texts_to_token_arrays

    if os.path.isdir(path):
        path = os.path.join(path, "*.dump.txt")
    paths = sorted(_glob.glob(path, recursive=True))
    if not paths:
        raise FileNotFoundError(f"no dump files match {path!r}")
    # doc_id file part = path RELATIVE to the common root, not the basename:
    # klog's usual layout is <topic-partition>/00000000000000000000.log.dump.txt,
    # where a recursive glob yields many files with the SAME basename —
    # basename doc_ids would collide and silently corrupt every
    # doc_id-keyed join/window downstream. Relative paths of distinct files
    # are distinct by construction; for a flat directory the relative path
    # IS the basename, so existing doc_ids are unchanged.
    root = os.path.commonpath(paths)
    if not os.path.isdir(root):
        root = os.path.dirname(root)
    names = [os.path.relpath(p, root).replace(os.sep, "/") for p in paths]
    parallelism = spark.sparkContext.defaultParallelism
    pdf = spark.createDataFrame(
        list(zip(paths, names)), "path: string, name: string"
    ).repartition(min(len(paths), parallelism))

    def explode(it):
        for chunk in it:
            for fpath, name in zip(chunk["path"], chunk["name"]):
                # errors="replace": junk bytes in a dump become U+FFFD, the
                # poisoned line fails its grammar and routes to the corrupt
                # sink — one bad byte must never kill a 10^12-row job
                with open(fpath, encoding="utf-8", errors="replace") as fh:
                    text = fh.read()
                # CRLF tolerance: a dump produced/transferred on Windows
                # carries \r\n; the reference's BufferedReader.readLine
                # strips both, and an unstripped \r would fail every
                # grammar and silently route the whole file to corrupt
                lines = text.replace("\r\n", "\n").split("\n")
                if lines and lines[-1] == "":
                    lines.pop()
                if not lines:
                    continue
                source = (
                    lines[0][len("Dumping "):].strip()
                    if lines[0].startswith("Dumping ")
                    else name
                )
                values, offsets = texts_to_token_arrays(lines)
                toks = [values[offsets[i]:offsets[i + 1]] for i in range(len(lines))]
                yield pd.DataFrame(
                    {
                        "doc_id": [f"{name}:{i + 1}" for i in range(len(lines))],
                        "tokens": toks,
                        "n_tok": np.asarray(offsets[1:] - offsets[:-1], dtype=np.int32),
                        "source": source,
                    }
                )

    return pdf.mapInPandas(explode, INPUT_SCHEMA)
