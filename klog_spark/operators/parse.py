"""Vectorized detokenize + classify + regex-extract parse stage.

The Spark-first equivalent of klog's line-at-a-time regex dispatch
(segment/reader/SegmentDumpReader.java:167-311): one ``mapInArrow`` pass
per Arrow batch emits every column of ``PARSED_SCHEMA`` —

1. decode ``tokens:array<int32>`` to text straight off the Arrow list
   buffer (flat values + offsets -> one UTF-32 decode; zero per-character
   Python and no pandas materialization of the token arrays),
2. derive lineage with Arrow's RE2 kernels: ``file``/``line_no`` from one
   extract over ``doc_id``; ``segment_type``/``topic``/``partition``
   (SegmentDumpReader.java:340-361) from the batch's *distinct* ``source``
   values (one per segment file), taken back by dictionary index — so the
   source regexes cost O(files), not O(rows),
3. classify lines with vectorized prefix/substring tests (the klog
   dispatch: batch header / record / control / txn-state / snapshot /
   headers / corrupt),
4. extract fields per class with ``pd.Series.str.extract`` on the same
   tolerant named-group grammars klog compiles
   (SegmentDumpReader.java:66-104, SnapshotDumpReader.java:36-45),
5. build output columns as numpy data+mask pairs handed directly to Arrow
   (pandas nullable-array construction was the profile's hot spot at ~70%
   of parse time),
6. lines the reference would *throw* on (SegmentDumpReader.java:246,266,...)
   become ``record_class='corrupt'`` rows with a reason — the north rule's
   corrupt sink instead of a crash. Lineage never fails the job either: a
   ``doc_id`` without an int32 ``:<n>`` suffix gives ``file`` NULL and
   ``line_no`` 0; an unmatched ``source`` or a partition past int32 gives
   ``topic``/``partition`` NULL.

Lineage is emitted here rather than by JVM expressions after the map:
per-row JVM regexes over ``doc_id``/``source`` cost about 0.32 s per 66k
rows (4 vCPU, sf0.01), while shipping the five columns back through Arrow
costs about nothing.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from .. import grammar as g
from ..schemas import PARSED_SCHEMA

_ANCHORED = {
    "batch": re.compile(r"^(?:%s)$" % g.BATCH_PATTERN.pattern),
    "data": re.compile(r"^(?:%s)$" % g.DATA_RECORD_PATTERN.pattern),
    "control": re.compile(r"^(?:%s)$" % g.CONTROL_RECORD_PATTERN.pattern),
    "txn": re.compile(r"^(?:%s)$" % g.TXN_RECORD_PATTERN.pattern),
    "payload": re.compile(r"^(?:%s)$" % g.TXN_PAYLOAD_PATTERN.pattern),
    "oc": re.compile(r"^(?:%s)$" % g.OFFSET_COMMIT_RECORD_PATTERN.pattern),
    "oc_payload": re.compile(r"^(?:%s)$" % g.OFFSET_COMMIT_PAYLOAD_PATTERN.pattern),
    "gm": re.compile(r"^(?:%s)$" % g.GROUP_METADATA_RECORD_PATTERN.pattern),
    "gm_payload": re.compile(r"^(?:%s)$" % g.GROUP_METADATA_PAYLOAD_PATTERN.pattern),
    "snapshot": re.compile(r"^(?:%s)$" % g.SNAPSHOT_PATTERN.pattern),
    "hdr2": re.compile(r"^.*starting offset: (?P<starting_offset>[0-9]+)$", re.IGNORECASE),
}


def _unnamed_to_noncapturing(pattern: str) -> str:
    """Turn unnamed capturing groups into non-capturing ones — Arrow's
    extract_regex requires every group to be named, and only the NAMED
    groups are consumed downstream (pandas .str.extract maps them to
    columns by name), so the rewrite is extraction-equivalent."""
    out = []
    i, in_class = 0, False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            out.append(pattern[i:i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and not pattern.startswith("(?", i):
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


#: Grammars allowed on Arrow's C++ extract_regex kernel. Measured on
#: sf0.01 single-thread: moving the vectorized classify tests + doc_id
#: extraction to Arrow kernels took the parse 53k -> 81k rows/s, but
#: running the WIDE grammars (batch/data/control/txn/snapshot, ~20 named
#: groups each) through RE2's capture engine was a net LOSS (68k) — RE2
#: falls off its DFA onto the bitstate captures path there, and its
#: non-participating-optional-group result ('' rather than null) differs
#: from pandas for snapshot's optional lastTimestamp. So only the small
#: fixed-shape grammars (no optional groups) are eligible.
_RE2_ELIGIBLE = {"oc", "gm"}


def _re2_compatible() -> dict[str, str]:
    """Eligible grammar keys whose anchored pattern compiles under Arrow's
    RE2; any incompatible pattern silently keeps the pandas path. The same
    pattern STRINGS already run under RE2 in the DuckDB oracles, so
    engine/oracle regex semantics stay aligned by construction."""
    ok: dict[str, str] = {}
    probe = pa.array(["x"], type=pa.string())
    for key, rx in _ANCHORED.items():
        if key not in _RE2_ELIGIBLE:
            continue
        pat = _unnamed_to_noncapturing(rx.pattern)
        try:
            pc.extract_regex(probe, pattern=pat)
            ok[key] = pat
        except pa.lib.ArrowException:
            pass
    return ok


_RE2_KEYS = _re2_compatible()

# Lineage patterns (RE2 search semantics, like the JVM's find()). The
# number group skips leading zeros and takes at most 10 digits, so it
# always fits the int64 cast; `_name_and_int32` then drops values past
# int32.
_DOC_ID_PATTERN = r"^(?P<file>.*):0*(?P<line_no>[0-9]{1,10})$"
_TOPIC_PATTERN = r".*/(?P<topic>[a-zA-Z0-9_.-]+)-0*(?P<partition>[0-9]{1,10})/[^/]+$"
#: First match wins; every other source is a `data` segment (Segment.Type).
_SEGMENT_TYPES = (("txn_state", r"/__transaction_state-[0-9]+/[^/]+$"),
                  ("consumer_offsets", r"/__consumer_offsets-[0-9]+/[^/]+$"))
_INT32_MAX = 2**31 - 1


def _re2_match_pattern(key: str) -> str | None:
    """Anchored MATCH-ONLY form of a wide grammar for RE2's DFA.

    The r8 finding stands: RE2's *capture* path (bitstate) loses to pandas
    on the wide grammars — but pure matching stays on the DFA, which is
    fast at any width. The r9 batch fast path therefore VALIDATES with one
    `match_substring_regex` and then extracts positionally with C++
    `split_pattern`/`list_element` (every batch value is space-free by
    grammar construction), never touching RE2 captures. Returns None if
    the pattern does not compile under RE2 (callers fall back to pandas).
    """
    pat = _unnamed_to_noncapturing(_ANCHORED[key].pattern)
    try:
        pc.match_substring_regex(pa.array(["x"], type=pa.string()), pattern=pat)
        return pat
    except pa.lib.ArrowException:  # pragma: no cover - RE2 always has these
        return None


_BATCH_MATCH_RE2 = _re2_match_pattern("batch")
_DATA_MATCH_RE2 = _re2_match_pattern("data")

_INT_TYPES: dict[str, tuple] = {
    "base_offset": (np.int64, pa.int64()), "last_offset": (np.int64, pa.int64()),
    "count": (np.int32, pa.int32()), "base_sequence": (np.int32, pa.int32()),
    "last_sequence": (np.int32, pa.int32()), "producer_id": (np.int64, pa.int64()),
    "producer_epoch": (np.int16, pa.int16()), "partition_leader_epoch": (np.int32, pa.int32()),
    "delete_horizon_ms": (np.int64, pa.int64()), "position": (np.int64, pa.int64()),
    "create_time_ms": (np.int64, pa.int64()), "size": (np.int32, pa.int32()),
    "magic": (np.int8, pa.int8()), "crc": (np.int64, pa.int64()),
    "offset": (np.int64, pa.int64()), "msg_create_time_ms": (np.int64, pa.int64()),
    "key_size": (np.int32, pa.int32()), "value_size": (np.int32, pa.int32()),
    "sequence": (np.int32, pa.int32()), "coordinator_epoch": (np.int32, pa.int32()),
    "txn_producer_id": (np.int64, pa.int64()), "txn_producer_epoch": (np.int16, pa.int16()),
    "txn_last_update_ms": (np.int64, pa.int64()), "txn_timeout_ms": (np.int64, pa.int64()),
    "current_txn_first_offset": (np.int64, pa.int64()), "last_timestamp_ms": (np.int64, pa.int64()),
    "first_sequence": (np.int32, pa.int32()), "offset_delta": (np.int32, pa.int32()),
    "timestamp_ms": (np.int64, pa.int64()),
    "commit_partition": (np.int32, pa.int32()), "committed_offset": (np.int64, pa.int64()),
    "committed_leader_epoch": (np.int32, pa.int32()), "commit_timestamp_ms": (np.int64, pa.int64()),
    "expire_timestamp_ms": (np.int64, pa.int64()), "generation": (np.int32, pa.int32()),
    "num_members": (np.int32, pa.int32()),
}
_BOOL_COLS = ("is_transactional", "is_control", "is_valid", "commit", "is_deletion")
_STR_COLS = ("compress_codec", "header_keys", "transactional_id", "state", "partitions",
             "group_id", "commit_topic", "commit_metadata", "protocol_type", "protocol",
             "leader", "corrupt_reason")


class _Cols:
    """numpy data+mask column store -> Arrow arrays without pandas boxing."""

    def __init__(self, n: int):
        self.n = n
        self.int_data = {c: np.zeros(n, dtype=t[0]) for c, t in _INT_TYPES.items()}
        self.int_mask = {c: np.ones(n, dtype=bool) for c in self.int_data}  # True = null
        self.bool_data = {c: np.zeros(n, dtype=bool) for c in _BOOL_COLS}
        self.bool_mask = {c: np.ones(n, dtype=bool) for c in _BOOL_COLS}
        self.str_data = {c: np.full(n, None, dtype=object) for c in _STR_COLS}

    def set_int(self, col: str, rows: np.ndarray, values: pd.Series) -> None:
        """rows: bool row-mask; values: extracted strings (positionally aligned).

        Exact int64 path: the reference parses with Long.parseLong, so a
        float64 round-trip would silently lose precision for values >= 2^53
        (base_offset, position, timestamps). Non-null extracts are digit
        strings by grammar construction, so they parse straight to int64
        (object->int64 astype; 7x faster than a to_numeric double-pass).
        The coercing fallback only runs if a non-numeric string ever slips
        through (it would mean a grammar bug, not an input problem).
        """
        nan = values.isna().to_numpy(dtype=bool)
        out = np.zeros(len(values), dtype=np.int64)
        good = ~nan
        if good.any():
            try:
                out[good] = values[good].to_numpy(dtype=object).astype(np.int64)
            except (ValueError, TypeError, OverflowError):
                # rare batch with a non-numeric or >int64 digit string:
                # per-value exact conversion, out-of-range -> NULL (the
                # float round-trip pandas fallback used here before both
                # LOST precision above 2^53 and still raised on >int64 —
                # at 10^12 rows such a line WILL exist; corrupt-not-crash)
                def _i64(v):
                    try:
                        iv = int(v)
                    except (TypeError, ValueError):
                        return None
                    return iv if -(1 << 63) <= iv < (1 << 63) else None

                conv = [_i64(v) for v in values[good]]
                sub_nan = np.array([c is None for c in conv], dtype=bool)
                sub_out = np.array([0 if c is None else c for c in conv],
                                   dtype=np.int64)
                nan = nan.copy()
                nan[good] = sub_nan
                out[good] = sub_out
                good = ~nan
        self.int_data[col][rows] = out.astype(self.int_data[col].dtype)
        self.int_mask[col][rows] = nan

    def set_bool(self, col: str, rows: np.ndarray, values: np.ndarray) -> None:
        self.bool_data[col][rows] = values
        self.bool_mask[col][rows] = False

    def set_str(self, col: str, rows: np.ndarray, values: np.ndarray) -> None:
        self.str_data[col][rows] = values


def _decode_tokens(col) -> tuple:
    """ListArray<int32> -> (lines, n_tok) via one UTF-32 decode of the flat
    value buffer (zero-copy token access).

    Poison-token hardening: a token that is not a valid code point (negative,
    surrogate, > U+10FFFF) must not kill the decode — and at 10^12 rows one
    WILL exist. The validity mask is one vectorized pass; offending tokens
    become U+FFFD, whose line then fails every grammar and routes to the
    corrupt sink like any other malformed input (never silently parses:
    FFFD appears in no grammar)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    la = col
    offsets = la.offsets.to_numpy()
    # int32 view is fine: the raw little-endian bytes are what utf-32-le
    # decodes, and signedness never changes them (an astype(uint32) here
    # measured 4.6-11.8s per sf0.1 batch — a 535 MB elementwise cast for
    # nothing)
    values = la.values.to_numpy(zero_copy_only=False)
    # fast screen: two reduces; the full mask only runs when a token could
    # be invalid (log text is overwhelmingly < U+D800)
    if len(values) and (int(values.min()) < 0 or int(values.max()) >= 0xD800):
        u = values.view(np.uint32)
        bad = (u > 0x10FFFF) | ((u - np.uint32(0xD800)) < np.uint32(0x800))
        if bad.any():
            values = np.where(bad, np.int32(0xFFFD), values)
    start = offsets[0]
    text = values[start:offsets[-1]].tobytes().decode("utf-32-le")
    rel = offsets - start
    lines = [text[rel[i]:rel[i + 1]] for i in range(len(rel) - 1)]
    n_tok = (offsets[1:] - offsets[:-1]).astype(np.int32)
    return lines, n_tok


def _name_and_int32(ext: pa.StructArray) -> tuple[pa.Array, pa.Array]:
    """(name, number) groups of a lineage extract; both NULL where the
    pattern missed or the number is past int32 (corrupt-not-crash: an
    int32 cast there would fail the whole job)."""
    num = pc.cast(pc.struct_field(ext, [1]), pa.int64())
    ok = pc.less_equal(num, _INT32_MAX)
    return (pc.if_else(ok, pc.struct_field(ext, [0]), None),
            pc.cast(pc.if_else(ok, num, None), pa.int32()))


def _lineage(doc_id: pa.Array, source: pa.Array) -> dict[str, pa.Array]:
    """file/line_no per row from doc_id; segment_type/topic/partition per
    distinct source, taken back by dictionary index."""
    file, line_no = _name_and_int32(pc.extract_regex(doc_id, pattern=_DOC_ID_PATTERN))
    src = pc.dictionary_encode(source)
    names = src.dictionary
    seg = np.full(len(names), "data", dtype=object)
    for kind, pat in reversed(_SEGMENT_TYPES):
        seg[pc.match_substring_regex(names, pattern=pat).to_numpy(zero_copy_only=False)] = kind
    topic, partition = _name_and_int32(pc.extract_regex(names, pattern=_TOPIC_PATTERN))
    return {
        "file": file,
        "line_no": pc.fill_null(line_no, 0),
        "segment_type": pc.fill_null(pc.take(pa.array(seg, pa.string()), src.indices), "data"),
        "topic": pc.take(topic, src.indices),
        "partition": pc.take(partition, src.indices),
    }


def _parse_arrow_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    n = batch.num_rows
    doc_id = batch.column(batch.schema.get_field_index("doc_id"))
    source = batch.column(batch.schema.get_field_index("source"))
    lines_list, n_tok = _decode_tokens(batch.column(batch.schema.get_field_index("tokens")))
    lines = pd.Series(lines_list, dtype=object)
    arr = pa.array(lines_list, type=pa.string())  # one UTF-8 encode, reused
    # by every C++ classify/extract kernel below

    arrays = _lineage(doc_id, source)
    line_no = arrays["line_no"].to_numpy(zero_copy_only=False)

    cls = np.full(n, "corrupt", dtype=object)
    reason = np.full(n, None, dtype=object)
    cols = _Cols(n)

    def _starts(prefix: str) -> np.ndarray:
        return pc.starts_with(arr, pattern=prefix).to_numpy(zero_copy_only=False)

    is_hdr1 = _starts("Dumping ")
    # hdr2 can only be a line-2 row: run the regex on those rows only (one
    # or two per file, vs every row — ~25% of the kernel before this)
    is_hdr2 = np.zeros(n, dtype=bool)
    cand2 = line_no == 2
    if cand2.any():
        is_hdr2[cand2] = lines[cand2].str.match(_ANCHORED["hdr2"]).to_numpy(dtype=bool)
    # Header rule wins first, exactly as the sequential dispatch does
    # (SegmentDumpReader.java:167-189): a line-2 record line whose text ends
    # in 'starting offset: <n>' is a header, never a batch/record/snapshot.
    not_hdr = ~(is_hdr1 | is_hdr2)
    is_batch = not_hdr & _starts("baseOffset: ")
    is_msg = not_hdr & _starts("| ")
    is_snap = not_hdr & _starts("producerId: ")
    # record-type substring tests only ever apply to "| " record lines —
    # run them on that subset, not the whole batch (~60% of rows skipped)
    msg_idx = np.flatnonzero(is_msg)
    msg_arr = arr.take(pa.array(msg_idx)) if len(msg_idx) else None

    def _has(sub: str) -> np.ndarray:
        out = np.zeros(n, dtype=bool)
        if msg_arr is not None:
            out[msg_idx] = pc.match_substring(
                msg_arr, pattern=sub).to_numpy(zero_copy_only=False)
        return out

    is_txn_msg = _has(" key: transaction_metadata::transactionalId=")
    is_oc_msg = ~is_txn_msg & _has(" key: offset_commit::group=")
    is_gm_msg = ~is_txn_msg & ~is_oc_msg & _has(" key: group_metadata::group=")
    is_ctl_msg = is_msg & ~is_txn_msg & ~is_oc_msg & ~is_gm_msg & _has(" endTxnMarker: ")
    is_data_msg = is_msg & ~is_txn_msg & ~is_oc_msg & ~is_gm_msg & ~is_ctl_msg

    cls[is_hdr1 | is_hdr2] = "header"

    def extract(mask: np.ndarray, key: str, required: str):
        """Run the anchored extract over masked rows; returns (good_mask,
        extracted-DataFrame-of-good-rows). RE2-compatible grammars run on
        Arrow's C++ extract_regex; others keep the pandas re.search loop.
        A row is 'good' iff the anchored pattern matches — `required` is a
        non-optional group in every grammar, so the two paths agree."""
        if key in _RE2_KEYS:
            sub = arr.take(pa.array(np.flatnonzero(mask)))
            res = pc.extract_regex(sub, pattern=_RE2_KEYS[key])
            ok = pc.is_valid(res).to_numpy(zero_copy_only=False)
            good = mask.copy()
            good[mask] = ok
            matched = res.take(pa.array(np.flatnonzero(ok)))
            ext = pd.DataFrame(
                {f.name: matched.field(i).to_pandas()
                 for i, f in enumerate(matched.type)}
            )
            return good, ext
        sub = lines[mask]
        ext = sub.str.extract(_ANCHORED[key])
        ok = ext[required].notna().to_numpy(dtype=bool)
        good = mask.copy()
        good[mask] = ok
        return good, ext[ok]

    # --- batch headers -----------------------------------------------------
    def _batch_pandas(mask: np.ndarray) -> None:
        """Reference extraction path (pandas re.search per row)."""
        good, ge = extract(mask, "batch", "base_offset")
        bad = mask & ~good
        cls[good] = "batch"
        reason[bad] = "batch_regex_mismatch"
        for c in ("base_offset", "last_offset", "count", "base_sequence", "last_sequence",
                  "producer_id", "producer_epoch", "partition_leader_epoch", "position",
                  "create_time_ms", "size", "magic", "crc"):
            cols.set_int(c, good, ge[c])
        cols.set_int("delete_horizon_ms", good, ge["delete_horizon_ms"].where(
            ge["delete_horizon_ms"] != "OptionalLong.empty"))
        cols.set_str("compress_codec", good, ge["compress_codec"].to_numpy(dtype=object))
        for c in ("is_transactional", "is_control", "is_valid"):
            cols.set_bool(c, good, (ge[c] == "true").to_numpy(dtype=bool))

    def _batch_split(mask: np.ndarray) -> None:
        """Fast path: one RE2 DFA full-match validation, then positional
        C++ split extraction. Extraction-equivalent to `_batch_pandas`:
        the anchored grammar guarantees single-space-separated, space-free
        values, so token position i is group i; the two layouts (with /
        without the optional `deleteHorizonMs`) split on token count
        (exactly 36 vs 34 for a matched line). Int parsing happens in
        Arrow (`cast` string->int64), never in Python."""
        bidx = np.flatnonzero(mask)
        sub = arr.take(pa.array(bidx))
        okb = pc.match_substring_regex(
            sub, pattern=_BATCH_MATCH_RE2).to_numpy(zero_copy_only=False)
        good = mask.copy()
        good[mask] = okb
        cls[good] = "batch"
        reason[mask & ~good] = "batch_regex_mismatch"
        if not okb.any():
            return
        toks = pc.split_pattern(sub.filter(pa.array(okb)), pattern=" ")
        lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
        gidx = bidx[okb]
        for has_dhm in (False, True):
            m = lens == (36 if has_dhm else 34)
            if not m.any():
                continue
            rows = np.zeros(n, dtype=bool)
            rows[gidx[m]] = True
            t = toks.filter(pa.array(m))

            def el(i: int):
                return pc.list_element(t, i)

            def put_int(cname: str, s) -> None:
                a = pc.cast(s, pa.int64())
                nullm = pc.is_null(a).to_numpy(zero_copy_only=False)
                vals = pc.fill_null(a, 0).to_numpy(zero_copy_only=False)
                cols.int_data[cname][rows] = vals.astype(cols.int_data[cname].dtype)
                cols.int_mask[cname][rows] = nullm

            for cname, i in (("base_offset", 1), ("last_offset", 3), ("count", 5),
                             ("base_sequence", 7), ("last_sequence", 9),
                             ("producer_id", 11), ("producer_epoch", 13),
                             ("partition_leader_epoch", 15)):
                put_int(cname, el(i))
            t0 = 23 if has_dhm else 21
            for cname, off in (("position", 0), ("create_time_ms", 2), ("size", 4),
                               ("magic", 6), ("crc", 10)):
                put_int(cname, el(t0 + off))
            if has_dhm:
                dh = el(21)
                put_int("delete_horizon_ms",
                        pc.if_else(pc.equal(dh, "OptionalLong.empty"),
                                   pa.scalar(None, pa.string()), dh))
            cols.set_str("compress_codec", rows,
                         el(t0 + 8).to_numpy(zero_copy_only=False))
            cols.set_bool("is_transactional", rows,
                          pc.equal(el(17), "true").to_numpy(zero_copy_only=False))
            cols.set_bool("is_control", rows,
                          pc.equal(el(19), "true").to_numpy(zero_copy_only=False))
            cols.set_bool("is_valid", rows,
                          pc.equal(el(t0 + 12), "true").to_numpy(zero_copy_only=False))

    if is_batch.any():
        if _BATCH_MATCH_RE2 is not None:
            try:
                _batch_split(is_batch)
            except (pa.lib.ArrowException, ValueError, OverflowError):
                # pathological batch (e.g. >int64 digit runs): reset every
                # partially-written cell for the mask, then redo on the
                # reference path — corrupt-not-crash
                cls[is_batch] = "corrupt"
                reason[is_batch] = None
                for c in cols.int_mask:
                    cols.int_mask[c][is_batch] = True
                for c in cols.bool_mask:
                    cols.bool_mask[c][is_batch] = True
                for c in cols.str_data:
                    cols.str_data[c][is_batch] = None
                _batch_pandas(is_batch)
        else:  # pragma: no cover - RE2 ships with Arrow
            _batch_pandas(is_batch)

    # --- record lines ------------------------------------------------------
    def base_msg_fields(good: np.ndarray, ge: pd.DataFrame) -> None:
        for c in ("offset", "msg_create_time_ms", "key_size", "value_size", "sequence"):
            cols.set_int(c, good, ge[c])
        cols.set_str("header_keys", good, ge["header_keys"].to_numpy(dtype=object))

    def _data_pandas(mask: np.ndarray) -> None:
        good, ge = extract(mask, "data", "offset")
        reason[mask & ~good] = "data_regex_mismatch"
        cls[good] = "data_msg"
        base_msg_fields(good, ge)

    def _data_split(mask: np.ndarray) -> None:
        """Fast path for the dominant record class: RE2 DFA validation +
        positional split of the fixed numeric prefix. header_keys follows
        the grammar's exact greedy semantics — `\\[(?P<hk>.*)\\]( payload:.*)?`
        takes hk to the LAST ']' when the line ends with ']', else to the
        last '] payload:' occurrence (the remainder must then be the
        payload tail); RE2 validation guarantees one of the two holds."""
        bidx = np.flatnonzero(mask)
        sub = arr.take(pa.array(bidx))
        ok = pc.match_substring_regex(
            sub, pattern=_DATA_MATCH_RE2).to_numpy(zero_copy_only=False)
        good = mask.copy()
        good[mask] = ok
        cls[good] = "data_msg"
        reason[mask & ~good] = "data_regex_mismatch"
        if not ok.any():
            return
        oksub = sub.filter(pa.array(ok))
        toks = pc.split_pattern(oksub, pattern=" ", max_splits=12)
        rows = np.zeros(n, dtype=bool)
        rows[bidx[ok]] = True

        def put_int(cname: str, s) -> None:
            a = pc.cast(s, pa.int64())
            vals = pc.fill_null(a, 0).to_numpy(zero_copy_only=False)
            cols.int_data[cname][rows] = vals.astype(cols.int_data[cname].dtype)
            cols.int_mask[cname][rows] = pc.is_null(a).to_numpy(zero_copy_only=False)

        for cname, i in (("offset", 2), ("msg_create_time_ms", 4), ("key_size", 6),
                         ("value_size", 8), ("sequence", 10)):
            put_int(cname, pc.list_element(toks, i))
        rest = pc.list_element(toks, 12).to_numpy(zero_copy_only=False)
        hk = np.empty(len(rest), dtype=object)
        for i, r in enumerate(rest):
            if r.endswith("]"):
                hk[i] = r[1:-1]
            else:
                hk[i] = r[1:r.rfind("] payload:")]
        cols.set_str("header_keys", rows, hk)

    if is_data_msg.any():
        if _DATA_MATCH_RE2 is not None:
            try:
                _data_split(is_data_msg)
            except (pa.lib.ArrowException, ValueError, OverflowError):
                cls[is_data_msg] = "corrupt"
                reason[is_data_msg] = None
                for c in cols.int_mask:
                    cols.int_mask[c][is_data_msg] = True
                for c in cols.str_data:
                    cols.str_data[c][is_data_msg] = None
                _data_pandas(is_data_msg)
        else:  # pragma: no cover - RE2 ships with Arrow
            _data_pandas(is_data_msg)

    if is_ctl_msg.any():
        good, ge = extract(is_ctl_msg, "control", "offset")
        reason[is_ctl_msg & ~good] = "control_regex_mismatch"
        cls[good] = "control_msg"
        base_msg_fields(good, ge)
        cols.set_bool("commit", good, (ge["end_txn_marker"] == "COMMIT").to_numpy(dtype=bool))
        cols.set_int("coordinator_epoch", good, ge["coordinator_epoch"])

    def split_payload(good: np.ndarray, payload: pd.Series, pat_key: str, required: str):
        """(deletion_mask, payload_ok_mask, payload_bad_mask, extracted)."""
        is_del = (payload == "<DELETE>").to_numpy(dtype=bool)
        del_mask = good.copy()
        del_mask[good] = is_del
        chg_mask = good.copy()
        chg_mask[good] = ~is_del
        if (~is_del).any():
            pext = payload[~is_del].str.extract(_ANCHORED[pat_key])
            pok = pext[required].notna().to_numpy(dtype=bool)
            chg_ok = chg_mask.copy()
            chg_ok[chg_mask] = pok
            return del_mask, chg_ok, chg_mask & ~chg_ok, pext[pok]
        return del_mask, np.zeros(n, dtype=bool), np.zeros(n, dtype=bool), None

    if is_txn_msg.any():
        good, ge = extract(is_txn_msg, "txn", "offset")
        reason[is_txn_msg & ~good] = "txn_record_regex_mismatch"
        base_msg_fields(good, ge)
        cols.set_str("transactional_id", good, ge["transactional_id"].to_numpy(dtype=object))
        del_mask, chg_ok, chg_bad, pe = split_payload(good, ge["payload"], "payload", "state")
        cls[del_mask] = "txn_deletion"
        cls[chg_ok] = "txn_state"
        cls[chg_bad] = "corrupt"
        reason[chg_bad] = "txn_payload_mismatch"
        cols.set_bool("is_deletion", del_mask, np.ones(int(del_mask.sum()), dtype=bool))
        if pe is not None and len(pe):
            cols.set_bool("is_deletion", chg_ok, np.zeros(int(chg_ok.sum()), dtype=bool))
            for c in ("txn_producer_id", "txn_producer_epoch", "txn_last_update_ms", "txn_timeout_ms"):
                cols.set_int(c, chg_ok, pe[c])
            cols.set_str("state", chg_ok, pe["state"].to_numpy(dtype=object))
            cols.set_str("partitions", chg_ok, pe["partitions"].to_numpy(dtype=object))

    # --- __consumer_offsets records (beyond the reference: Segment.java:28
    # leaves these a TODO; grammar = kafka-dump-log --offsets-decoder) ------
    if is_oc_msg.any():
        good, ge = extract(is_oc_msg, "oc", "offset")
        reason[is_oc_msg & ~good] = "offset_commit_regex_mismatch"
        base_msg_fields(good, ge)
        cols.set_str("group_id", good, ge["group_id"].to_numpy(dtype=object))
        cols.set_str("commit_topic", good, ge["commit_topic"].to_numpy(dtype=object))
        cols.set_int("commit_partition", good, ge["commit_partition"])
        del_mask, chg_ok, chg_bad, pe = split_payload(good, ge["payload"], "oc_payload", "committed_offset")
        cls[del_mask] = "offset_commit"   # tombstone stays in the sink, flagged
        cls[chg_ok] = "offset_commit"
        cls[chg_bad] = "corrupt"
        reason[chg_bad] = "offset_payload_mismatch"
        cols.set_bool("is_deletion", del_mask, np.ones(int(del_mask.sum()), dtype=bool))
        if pe is not None and len(pe):
            cols.set_bool("is_deletion", chg_ok, np.zeros(int(chg_ok.sum()), dtype=bool))
            cols.set_int("committed_offset", chg_ok, pe["committed_offset"])
            cols.set_int("commit_timestamp_ms", chg_ok, pe["commit_timestamp_ms"])
            # Optional.empty -> null, Optional[n] -> n
            le = pe["committed_leader_epoch"]
            cols.set_int("committed_leader_epoch", chg_ok,
                         le.where(le != "Optional.empty").str.replace(r"[^\d]", "", regex=True))
            et = pe["expire_timestamp_ms"]
            cols.set_int("expire_timestamp_ms", chg_ok, et.where(et != "None"))
            cols.set_str("commit_metadata", chg_ok, pe["commit_metadata"].to_numpy(dtype=object))

    if is_gm_msg.any():
        good, ge = extract(is_gm_msg, "gm", "offset")
        reason[is_gm_msg & ~good] = "group_metadata_regex_mismatch"
        base_msg_fields(good, ge)
        cols.set_str("group_id", good, ge["group_id"].to_numpy(dtype=object))
        del_mask, chg_ok, chg_bad, pe = split_payload(good, ge["payload"], "gm_payload", "generation")
        cls[del_mask] = "group_metadata"  # tombstone stays in the sink, flagged
        cls[chg_ok] = "group_metadata"
        cls[chg_bad] = "corrupt"
        reason[chg_bad] = "group_metadata_payload_mismatch"
        cols.set_bool("is_deletion", del_mask, np.ones(int(del_mask.sum()), dtype=bool))
        if pe is not None and len(pe):
            cols.set_bool("is_deletion", chg_ok, np.zeros(int(chg_ok.sum()), dtype=bool))
            cols.set_int("generation", chg_ok, pe["generation"])
            cols.set_int("num_members", chg_ok, pe["num_members"])
            for c in ("protocol_type", "protocol", "leader"):
                cols.set_str(c, chg_ok, pe[c].to_numpy(dtype=object))

    # --- producer-snapshot lines --------------------------------------------
    if is_snap.any():
        good, ge = extract(is_snap, "snapshot", "producer_id")
        reason[is_snap & ~good] = "snapshot_regex_mismatch"
        cls[good] = "producer_state"
        for c in ("producer_id", "producer_epoch", "coordinator_epoch", "first_sequence",
                  "last_sequence", "last_offset", "offset_delta", "timestamp_ms"):
            cols.set_int(c, good, ge[c])
        # None -> 0, Some(n) -> n (SnapshotDumpReader.java:102-104)
        cur = ge["current_txn_first_offset"].str.replace("None", "0", regex=False).str.replace(
            r"[^\d]", "", regex=True
        )
        cols.set_int("current_txn_first_offset", good, cur)
        # missing lastTimestamp -> 0 (SnapshotDumpReader.java:105-106)
        cols.set_int("last_timestamp_ms", good, ge["last_timestamp_ms"].fillna("0"))

    unmatched = (cls == "corrupt") & (reason == None)  # noqa: E711
    reason[unmatched] = "unrecognised_line"

    arrays.update({
        "doc_id": doc_id,
        "source": source,
        "n_tok": pa.array(n_tok, type=pa.int32()),
        "record_class": pa.array(cls, type=pa.string()),
        "corrupt_reason": pa.array(reason, type=pa.string()),
    })
    for c, data in cols.int_data.items():
        arrays[c] = pa.array(data, type=_INT_TYPES[c][1], mask=cols.int_mask[c])
    for c in _BOOL_COLS:
        arrays[c] = pa.array(cols.bool_data[c], type=pa.bool_(), mask=cols.bool_mask[c])
    for c in _STR_COLS:
        if c != "corrupt_reason":
            arrays[c] = pa.array(cols.str_data[c], type=pa.string())
    return pa.RecordBatch.from_arrays([arrays[c] for c in PARSED_SCHEMA.names],
                                      names=PARSED_SCHEMA.names)


def parse_sequences(df: DataFrame) -> DataFrame:
    """input (doc_id, tokens, source) -> wide parsed DataFrame.

    One narrow Arrow map (no shuffle) emits every output column; ``n_tok``
    is recounted from the token offsets, so only the three columns the
    kernel reads cross into Python.
    """

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            if batch.num_rows:
                yield _parse_arrow_batch(batch)

    return df.select("doc_id", "tokens", "source").mapInArrow(gen, PARSED_SCHEMA)
