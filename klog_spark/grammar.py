"""Line grammars of ``kafka-dump-log.sh`` output.

These are the same tolerant patterns the reference compiles
(segment/reader/SegmentDumpReader.java:66-104,
snapshot/reader/SnapshotDumpReader.java:36-45): batch headers, data /
control / transaction-state records (Kafka 2.x and 3.x variants:
optional ``deleteHorizonMs``, ``keySize`` vs ``keysize`` casing, optional
snapshot ``lastTimestamp``), expressed once here and shared by the
vectorized parser, the synthetic data generator and the pure-Python oracle.

Python ``re`` named groups are used; the patterns are anchored with
``fullmatch`` semantics by the callers (the reference uses
``Matcher.matches()``).
"""

from __future__ import annotations

import re

# Batch header line — 17 named groups; `deleteHorizonMs` appears only in
# Kafka 3.x dumps (SegmentDumpReader.java:66-83).
BATCH_PATTERN = re.compile(
    r"baseOffset: (?P<base_offset>[0-9]+) "
    r"lastOffset: (?P<last_offset>[0-9]+) "
    r"count: (?P<count>[0-9]+) "
    r"baseSequence: (?P<base_sequence>-?[0-9]+) "
    r"lastSequence: (?P<last_sequence>-?[0-9]+) "
    r"producerId: (?P<producer_id>-?[0-9]+) "
    r"producerEpoch: (?P<producer_epoch>-?[0-9]+) "
    r"partitionLeaderEpoch: (?P<partition_leader_epoch>[0-9]+) "
    r"isTransactional: (?P<is_transactional>true|false) "
    r"isControl: (?P<is_control>true|false)"
    r"( deleteHorizonMs: (?P<delete_horizon_ms>OptionalLong\.empty|[0-9]+))? "
    r"position: (?P<position>[0-9]+) "
    r"CreateTime: (?P<create_time_ms>[0-9]+) "
    r"size: (?P<size>[0-9]+) "
    r"magic: (?P<magic>[0-9]+) "
    r"compresscodec: (?P<compress_codec>none|[A-Z]+) "
    r"crc: (?P<crc>[0-9]+) "
    r"isvalid: (?P<is_valid>true|false)"
)

# Record line shared prefix — tolerates `keysize`/`keySize` casing and an
# ignored `payload:` tail (SegmentDumpReader.java:85-90).
_RECORD_CORE = (
    r"\| offset: (?P<offset>[0-9]+) "
    r"[Cc]reateTime: (?P<msg_create_time_ms>[0-9]+) "
    r"key[Ss]ize: (?P<key_size>-?[0-9]+) "
    r"value[Ss]ize: (?P<value_size>-?[0-9]+) "
    r"sequence: (?P<sequence>-?[0-9]+) "
    r"header[Kk]eys: \[(?P<header_keys>.*)\]"
)

DATA_RECORD_PATTERN = re.compile(_RECORD_CORE + r"( payload:.*)?")

CONTROL_RECORD_PATTERN = re.compile(
    _RECORD_CORE + r"( payload:.*)? "
    r"endTxnMarker: (?P<end_txn_marker>COMMIT|ABORT) "
    r"coordinatorEpoch: (?P<coordinator_epoch>[0-9]+)"
)

TXN_RECORD_PATTERN = re.compile(
    _RECORD_CORE + r"( payload:.*)? "
    r"key: transaction_metadata::transactionalId=(?P<transactional_id>.*) "
    r"payload: (?P<payload>.*)"
)

TXN_STATES = ("Ongoing", "PrepareCommit", "PrepareAbort", "CompleteCommit", "CompleteAbort", "Empty", "Dead")

TXN_PAYLOAD_PATTERN = re.compile(
    r"producerId:(?P<txn_producer_id>[0-9]+),"
    r"producerEpoch:(?P<txn_producer_epoch>[0-9]+),"
    r"state=(?P<state>" + "|".join(TXN_STATES) + r"),"
    r"partitions=\[(?P<partitions>.*)\],"
    r"txnLastUpdateTimestamp=(?P<txn_last_update_ms>[0-9]+),"
    r"txnTimeoutMs=(?P<txn_timeout_ms>[0-9]+)"
)

# __consumer_offsets records — BEYOND the reference surface (the reference
# leaves the type a TODO, segment/reader/Segment.java:28). The grammar is
# the `kafka-dump-log.sh --offsets-decoder` output of Kafka's
# DumpLogSegments OffsetsMessageParser (offset_commit:: / group_metadata::
# decorated keys), mirroring the transaction_metadata:: shape the reference
# DOES parse (SegmentDumpReader.java:97-98).
OFFSET_COMMIT_RECORD_PATTERN = re.compile(
    _RECORD_CORE +
    r" key: offset_commit::group=(?P<group_id>[^,]*),"
    r"topic=(?P<commit_topic>[^,]*),partition=(?P<commit_partition>[0-9]+) "
    r"payload: (?P<payload>.*)"
)

OFFSET_COMMIT_PAYLOAD_PATTERN = re.compile(
    r"offset=(?P<committed_offset>[0-9]+),"
    r"leader_epoch=(?P<committed_leader_epoch>Optional\.empty|Optional\[[0-9]+\]),"
    r"metadata=(?P<commit_metadata>[^,]*),"
    r"commit_timestamp=(?P<commit_timestamp_ms>[0-9]+),"
    r"expire_timestamp=(?P<expire_timestamp_ms>None|[0-9]+)"
)

GROUP_METADATA_RECORD_PATTERN = re.compile(
    _RECORD_CORE +
    r" key: group_metadata::group=(?P<group_id>[^ ]*) "
    r"payload: (?P<payload>.*)"
)

GROUP_METADATA_PAYLOAD_PATTERN = re.compile(
    r"protocolType=(?P<protocol_type>[^,]*),"
    r"generation=(?P<generation>[0-9]+),"
    r"protocol=(?P<protocol>[^,]*),"
    r"leader=(?P<leader>[^,]*),"
    r"members=(?P<num_members>[0-9]+)"
)

# Producer-snapshot record (SnapshotDumpReader.java:36-45); `lastTimestamp`
# is the Kafka 3.x addition.
SNAPSHOT_PATTERN = re.compile(
    r"producerId: (?P<producer_id>[0-9]+) "
    r"producerEpoch: (?P<producer_epoch>[0-9]+) "
    r"coordinatorEpoch: (?P<coordinator_epoch>[0-9]+) "
    r"currentTxnFirstOffset: (?P<current_txn_first_offset>None|Some\([0-9]+\))"
    r"( lastTimestamp: (?P<last_timestamp_ms>[0-9]+))? "
    r"firstSequence: (?P<first_sequence>[0-9]+) "
    r"lastSequence: (?P<last_sequence>[0-9]+) "
    r"lastOffset: (?P<last_offset>[0-9]+) "
    r"offsetDelta: (?P<offset_delta>[0-9]+) "
    r"timestamp: (?P<timestamp_ms>[0-9]+)"
)

DUMPING_PATTERN = re.compile(r"Dumping (?P<segment_path>.*)")
STARTING_OFFSET_PATTERN = re.compile(r".*starting offset: (?P<starting_offset>[0-9]+)", re.IGNORECASE)

# Segment-type inference from the dumped segment's parent directory
# (SegmentDumpReader.java:348-361).
TXN_STATE_DIR = re.compile(r".*/__transaction_state-[0-9]+/[^/]+$")
CONSUMER_OFFSETS_DIR = re.compile(r".*/__consumer_offsets-[0-9]+/[^/]+$")
