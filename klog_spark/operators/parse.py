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
4. extract fields on the same tolerant named-group grammars klog compiles
   (SegmentDumpReader.java:66-104, SnapshotDumpReader.java:36-45), one
   path per line class: batch headers and data records are validated by
   one RE2 DFA full match and split positionally; ``oc``/``gm`` records
   run on RE2 captures; control, txn-state and snapshot lines and the
   three payloads run on pandas ``str.extract``,
5. convert every integer field once, in Arrow (``_to_int``: one cast per
   array, an exact per-value parse only if it raises; a value outside the
   column's type is NULL, never wrapped), and build output columns as
   numpy data+mask pairs handed directly to Arrow (pandas nullable-array
   construction was the profile's hot spot at ~70% of parse time),
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
from pyspark.sql.pandas.types import to_arrow_type

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

#: Grammars extracted with RE2 captures (Arrow's C++ extract_regex).
#: Measured on sf0.01 single-thread: moving the vectorized classify tests
#: + doc_id extraction to Arrow kernels took the parse 53k -> 81k rows/s,
#: but running the WIDE grammars (batch/data/control/txn/snapshot, ~20
#: named groups each) through RE2's capture engine was a net LOSS (68k) —
#: RE2 falls off its DFA onto the bitstate captures path there, and its
#: non-participating-optional-group result ('' rather than null) differs
#: from pandas for snapshot's optional lastTimestamp. So only the small
#: fixed-shape grammars (no optional groups) run on RE2 captures. The same
#: pattern STRINGS already run under RE2 in the DuckDB oracles, so
#: engine/oracle regex semantics stay aligned by construction; a pattern
#: RE2 cannot compile fails the parse loudly.
_RE2_KEYS = {k: _ANCHORED[k].pattern for k in ("oc", "gm")}

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


#: The parsed-value columns (every field after the lineage + routing block
#: of ``PARSED_SCHEMA``) by kind; ints keep their Arrow type.
_VALUE_TYPES = {f.name: to_arrow_type(f.dataType)
                for f in PARSED_SCHEMA.fields[PARSED_SCHEMA.names.index("base_offset"):]}
_INT_TYPES = {c: t for c, t in _VALUE_TYPES.items() if pa.types.is_integer(t)}
_BOOL_COLS = [c for c, t in _VALUE_TYPES.items() if pa.types.is_boolean(t)]
_STR_COLS = [c for c, t in _VALUE_TYPES.items() if pa.types.is_string(t)]


def _to_int(strings: pa.Array, typ: pa.DataType) -> pa.Array:
    """Extracted digit strings -> the column's Arrow integer type, exactly.

    The reference parses with Long.parseLong / Integer.parseInt, so there
    is no float64 round-trip (it would lose precision at 2^53: base_offset,
    position, timestamps). One Arrow cast converts the whole array; only
    if it raises does an exact per-value parse run. NULL stays NULL, and a
    value outside ``typ``'s range becomes NULL, never a wrapped narrow
    integer: corrupt-not-crash, and at 10^12 rows such a line WILL exist.
    """
    try:
        return pc.cast(strings, typ)
    except pa.ArrowInvalid:
        info = np.iinfo(typ.to_pandas_dtype())

        def exact(s):
            try:
                v = int(s)
            except (TypeError, ValueError):
                return None
            return v if info.min <= v <= info.max else None

        return pa.array([exact(s) for s in strings.to_pylist()], typ)


def _null_if(strings: pa.Array, sentinel: str) -> pa.Array:
    return pc.if_else(pc.equal(strings, sentinel), pa.scalar(None, pa.string()), strings)


def _digits(strings: pa.Array) -> pa.Array:
    return pc.replace_substring_regex(strings, pattern=r"[^0-9]", replacement="")


def _extract(key: str, sub: pa.Array) -> tuple[np.ndarray, dict[str, pa.Array]]:
    """Anchored grammar ``key`` over ``sub``: (matched mask, the named groups
    of the matched rows as Arrow strings). ``_RE2_KEYS`` run on Arrow's C++
    extract_regex, the other grammars on pandas ``str.extract`` (a
    non-participating optional group is NULL). The first named group is
    required in every grammar, so it is non-null exactly on a match."""
    if key in _RE2_KEYS:
        res = pc.extract_regex(sub, pattern=_RE2_KEYS[key])
        ok = pc.is_valid(res).to_numpy(zero_copy_only=False)
        matched = res.filter(pa.array(ok))
        return ok, {f.name: matched.field(i) for i, f in enumerate(matched.type)}
    rx = _ANCHORED[key]
    ext = pd.Series(sub.to_numpy(zero_copy_only=False), dtype=object).str.extract(rx)
    ok = ext[next(iter(rx.groupindex))].notna().to_numpy(dtype=bool)
    return ok, {c: pa.array(ext[c].to_numpy(dtype=object)[ok], pa.string(), from_pandas=True)
                for c in rx.groupindex}


class _Cols:
    """numpy data+mask column store -> Arrow arrays without pandas boxing.
    Each setter takes a bool row mask and the values of those rows, in
    order."""

    def __init__(self, n: int):
        self.int_data = {c: np.zeros(n, dtype=t.to_pandas_dtype()) for c, t in _INT_TYPES.items()}
        self.int_mask = {c: np.ones(n, dtype=bool) for c in _INT_TYPES}  # True = null
        self.bool_data = {c: np.zeros(n, dtype=bool) for c in _BOOL_COLS}
        self.bool_mask = {c: np.ones(n, dtype=bool) for c in _BOOL_COLS}
        self.str_data = {c: np.full(n, None, dtype=object) for c in _STR_COLS}

    def set_int(self, col: str, rows: np.ndarray, strings: pa.Array) -> None:
        a = _to_int(strings, _INT_TYPES[col])
        self.int_data[col][rows] = pc.fill_null(a, 0).to_numpy()
        self.int_mask[col][rows] = pc.is_null(a).to_numpy(zero_copy_only=False)

    def set_bool(self, col: str, rows: np.ndarray, values) -> None:
        self.bool_data[col][rows] = np.asarray(values)
        self.bool_mask[col][rows] = False

    def set_str(self, col: str, rows: np.ndarray, values) -> None:
        self.str_data[col][rows] = np.asarray(values, dtype=object)

    def arrays(self) -> dict[str, pa.Array]:
        out = {c: pa.array(d, type=_INT_TYPES[c], mask=self.int_mask[c])
               for c, d in self.int_data.items()}
        out.update({c: pa.array(self.bool_data[c], type=pa.bool_(), mask=self.bool_mask[c])
                    for c in _BOOL_COLS})
        out.update({c: pa.array(d, type=pa.string()) for c, d in self.str_data.items()})
        return out


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

    def row_mask(idx: np.ndarray) -> np.ndarray:
        out = np.zeros(n, dtype=bool)
        out[idx] = True
        return out

    def extract(mask: np.ndarray, key: str, mismatch: str):
        """Extract grammar ``key`` over the rows of ``mask``; a row it does
        not match is corrupt with reason ``mismatch``. Returns (matched row
        mask, groups of the matched rows)."""
        idx = np.flatnonzero(mask)
        ok, groups = _extract(key, arr.take(pa.array(idx)))
        reason[idx[~ok]] = mismatch
        return row_mask(idx[ok]), groups

    # --- batch headers and data records ------------------------------------
    # The r8 finding stands: RE2's *capture* path (bitstate) loses to pandas
    # on the wide grammars — but pure matching stays on the DFA, which is
    # fast at any width. The two dominant classes therefore VALIDATE with
    # one `match_substring_regex` and then extract positionally with C++
    # `split_pattern`/`list_element` (every batch value is space-free by
    # grammar construction), never touching RE2 captures.
    def validate(mask: np.ndarray, key: str, good_cls: str, mismatch: str):
        """(row indices, lines) of the rows of ``mask`` the anchored
        grammar ``key`` matches, classed ``good_cls``; the rest are corrupt
        with reason ``mismatch``."""
        idx = np.flatnonzero(mask)
        sub = arr.take(pa.array(idx))
        ok = pc.match_substring_regex(
            sub, pattern=_ANCHORED[key].pattern).to_numpy(zero_copy_only=False)
        reason[idx[~ok]] = mismatch
        cls[idx[ok]] = good_cls
        return idx[ok], sub.filter(pa.array(ok))

    if is_batch.any():
        # The anchored grammar guarantees single-space-separated, space-free
        # values, so token position i is group i; the two layouts (with /
        # without the optional `deleteHorizonMs`) split on token count
        # (exactly 36 vs 34 for a matched line).
        bidx, valid = validate(is_batch, "batch", "batch", "batch_regex_mismatch")
        toks = pc.split_pattern(valid, pattern=" ")
        lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
        for has_dhm in (False, True):
            m = lens == (36 if has_dhm else 34)
            if not m.any():
                continue
            rows = row_mask(bidx[m])
            t = toks.filter(pa.array(m))

            def el(i: int):
                return pc.list_element(t, i)

            t0 = 23 if has_dhm else 21
            for cname, i in (("base_offset", 1), ("last_offset", 3), ("count", 5),
                             ("base_sequence", 7), ("last_sequence", 9),
                             ("producer_id", 11), ("producer_epoch", 13),
                             ("partition_leader_epoch", 15), ("position", t0),
                             ("create_time_ms", t0 + 2), ("size", t0 + 4),
                             ("magic", t0 + 6), ("crc", t0 + 10)):
                cols.set_int(cname, rows, el(i))
            if has_dhm:
                cols.set_int("delete_horizon_ms", rows, _null_if(el(21), "OptionalLong.empty"))
            cols.set_str("compress_codec", rows, el(t0 + 8))
            for cname, i in (("is_transactional", 17), ("is_control", 19), ("is_valid", t0 + 12)):
                cols.set_bool(cname, rows, pc.equal(el(i), "true"))

    if is_data_msg.any():
        # header_keys follows the grammar's exact greedy semantics —
        # `\[(?P<hk>.*)\]( payload:.*)?` takes hk to the LAST ']' when the
        # line ends with ']', else to the last '] payload:' occurrence (the
        # remainder must then be the payload tail); RE2 validation
        # guarantees one of the two holds.
        didx, valid = validate(is_data_msg, "data", "data_msg", "data_regex_mismatch")
        toks = pc.split_pattern(valid, pattern=" ", max_splits=12)
        rows = row_mask(didx)
        for cname, i in (("offset", 2), ("msg_create_time_ms", 4), ("key_size", 6),
                         ("value_size", 8), ("sequence", 10)):
            cols.set_int(cname, rows, pc.list_element(toks, i))
        rest = pc.list_element(toks, 12).to_numpy(zero_copy_only=False)
        cols.set_str("header_keys", rows, [r[1:-1] if r.endswith("]") else r[1:r.rfind("] payload:")]
                                           for r in rest])

    # --- the other record lines --------------------------------------------
    def msg_fields(rows: np.ndarray, ge: dict) -> None:
        for c in ("offset", "msg_create_time_ms", "key_size", "value_size", "sequence"):
            cols.set_int(c, rows, ge[c])
        cols.set_str("header_keys", rows, ge["header_keys"])

    if is_ctl_msg.any():
        good, ge = extract(is_ctl_msg, "control", "control_regex_mismatch")
        cls[good] = "control_msg"
        msg_fields(good, ge)
        cols.set_bool("commit", good, pc.equal(ge["end_txn_marker"], "COMMIT"))
        cols.set_int("coordinator_epoch", good, ge["coordinator_epoch"])

    def split_payload(good: np.ndarray, payload: pa.Array, key: str,
                      tomb_cls: str, ok_cls: str, mismatch: str):
        """Route keyed records by payload: a ``<DELETE>`` tombstone is
        ``tomb_cls`` with ``is_deletion``; a payload grammar ``key``
        matches is ``ok_cls``; any other payload is corrupt with reason
        ``mismatch``. Returns (decoded row mask, payload groups)."""
        idx = np.flatnonzero(good)
        is_del = pc.equal(payload, "<DELETE>").to_numpy(zero_copy_only=False)
        cls[idx[is_del]] = tomb_cls
        cols.set_bool("is_deletion", row_mask(idx[is_del]), True)
        ok, pe = _extract(key, payload.filter(pa.array(~is_del)))
        chg = idx[~is_del]
        cls[chg[ok]] = ok_cls
        cls[chg[~ok]] = "corrupt"
        reason[chg[~ok]] = mismatch
        decoded = row_mask(chg[ok])
        cols.set_bool("is_deletion", decoded, False)
        return decoded, pe

    if is_txn_msg.any():
        good, ge = extract(is_txn_msg, "txn", "txn_record_regex_mismatch")
        msg_fields(good, ge)
        cols.set_str("transactional_id", good, ge["transactional_id"])
        ok, pe = split_payload(good, ge["payload"], "payload",
                               "txn_deletion", "txn_state", "txn_payload_mismatch")
        for c in ("txn_producer_id", "txn_producer_epoch", "txn_last_update_ms", "txn_timeout_ms"):
            cols.set_int(c, ok, pe[c])
        for c in ("state", "partitions"):
            cols.set_str(c, ok, pe[c])

    # --- __consumer_offsets records (beyond the reference: Segment.java:28
    # leaves these a TODO; grammar = kafka-dump-log --offsets-decoder);
    # a tombstone stays in its sink, flagged ---------------------------------
    if is_oc_msg.any():
        good, ge = extract(is_oc_msg, "oc", "offset_commit_regex_mismatch")
        msg_fields(good, ge)
        for c in ("group_id", "commit_topic"):
            cols.set_str(c, good, ge[c])
        cols.set_int("commit_partition", good, ge["commit_partition"])
        ok, pe = split_payload(good, ge["payload"], "oc_payload",
                               "offset_commit", "offset_commit", "offset_payload_mismatch")
        for c in ("committed_offset", "commit_timestamp_ms"):
            cols.set_int(c, ok, pe[c])
        # Optional.empty -> null, Optional[n] -> n
        cols.set_int("committed_leader_epoch", ok,
                     _digits(_null_if(pe["committed_leader_epoch"], "Optional.empty")))
        cols.set_int("expire_timestamp_ms", ok, _null_if(pe["expire_timestamp_ms"], "None"))
        cols.set_str("commit_metadata", ok, pe["commit_metadata"])

    if is_gm_msg.any():
        good, ge = extract(is_gm_msg, "gm", "group_metadata_regex_mismatch")
        msg_fields(good, ge)
        cols.set_str("group_id", good, ge["group_id"])
        ok, pe = split_payload(good, ge["payload"], "gm_payload",
                               "group_metadata", "group_metadata", "group_metadata_payload_mismatch")
        for c in ("generation", "num_members"):
            cols.set_int(c, ok, pe[c])
        for c in ("protocol_type", "protocol", "leader"):
            cols.set_str(c, ok, pe[c])

    # --- producer-snapshot lines --------------------------------------------
    if is_snap.any():
        good, ge = extract(is_snap, "snapshot", "snapshot_regex_mismatch")
        cls[good] = "producer_state"
        for c in ("producer_id", "producer_epoch", "coordinator_epoch", "first_sequence",
                  "last_sequence", "last_offset", "offset_delta", "timestamp_ms"):
            cols.set_int(c, good, ge[c])
        # None -> 0, Some(n) -> n (SnapshotDumpReader.java:102-104)
        cols.set_int("current_txn_first_offset", good,
                     _digits(pc.replace_substring(ge["current_txn_first_offset"], "None", "0")))
        # missing lastTimestamp -> 0 (SnapshotDumpReader.java:105-106)
        cols.set_int("last_timestamp_ms", good, pc.fill_null(ge["last_timestamp_ms"], "0"))

    unmatched = (cls == "corrupt") & (reason == None)  # noqa: E711
    reason[unmatched] = "unrecognised_line"

    arrays.update(cols.arrays())
    arrays.update({
        "doc_id": doc_id,
        "source": source,
        "n_tok": pa.array(n_tok, type=pa.int32()),
        "record_class": pa.array(cls, type=pa.string()),
        "corrupt_reason": pa.array(reason, type=pa.string()),
    })
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
