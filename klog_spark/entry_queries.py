"""Driver-contract query registry: Spark queries + independent DuckDB oracles.

Each entry pairs a PySpark query (operating on the tokenized input through
the real engine: detokenize -> vectorized parse -> route -> aggregate) with
an ANSI-SQL oracle that DuckDB evaluates over the *text* rendition of the
same fixture (``sequences_text.parquet``) — a genuinely independent
recomputation: the oracle never sees the token arrays the engine decodes,
and the engine never sees the text column the oracle reads.

Column names are aligned on both sides (the driver compares sorted-by-name
value hashes); doubles are explicitly rounded on both sides.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from . import grammar as g
from .datagen import ensure_fixture
from .pipeline import Pipeline

FIXTURE_ROOT = "/root/repo/data/klog"
ORACLE_SF = 0.01  # the driver's correctness scale
FX = f"{FIXTURE_ROOT}/sf{ORACLE_SF:g}"


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else ORACLE_SF


def klog_fixture(sf_dir: str) -> str:
    return str(ensure_fixture(sf_of(sf_dir), FIXTURE_ROOT))


# ---------------------------------------------------------------------------
# DuckDB oracle SQL construction (RE2 regexes = the same grammar strings)
# ---------------------------------------------------------------------------

_BATCH_RE = "^(?:" + g.BATCH_PATTERN.pattern + ")$"
_DATA_RE = "^(?:" + g.DATA_RECORD_PATTERN.pattern + ")$"
_CONTROL_RE = "^(?:" + g.CONTROL_RECORD_PATTERN.pattern + ")$"
_TXN_RE = "^(?:" + g.TXN_RECORD_PATTERN.pattern + ")$"
_PAYLOAD_RE = "^(?:" + g.TXN_PAYLOAD_PATTERN.pattern + ")$"
_SNAPSHOT_RE = "^(?:" + g.SNAPSHOT_PATTERN.pattern + ")$"
_OC_RE = "^(?:" + g.OFFSET_COMMIT_RECORD_PATTERN.pattern + ")$"
_OC_PAYLOAD_RE = "^(?:" + g.OFFSET_COMMIT_PAYLOAD_PATTERN.pattern + ")$"
_GM_RE = "^(?:" + g.GROUP_METADATA_RECORD_PATTERN.pattern + ")$"
_GM_PAYLOAD_RE = "^(?:" + g.GROUP_METADATA_PAYLOAD_PATTERN.pattern + ")$"


def _sqlq(pattern: str) -> str:
    """Quote a regex for embedding in a single-quoted SQL literal."""
    return pattern.replace("'", "''")


def _sql_java_u32(expr: str) -> str:
    """Java ``String.hashCode`` of ``expr`` as an unsigned 32-bit BIGINT
    (BMP text), for the F5 coordinating-partition oracles. The ``u >= 0``
    filter drops the [''] artifact of splitting an empty string (DuckDB's
    unicode('') is -1); hash('') must be 0."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_filter("
        f"[unicode(c)::BIGINT for c in string_split({expr}, '')], u -> u >= 0)), "
        f"(acc, c) -> (acc * 31 + c) % 4294967296)"
    )


def klog_base_cte(fx: str = FX) -> str:
    """Shared CTEs: classify every line exactly as the engine's parser +
    validity routing do (classifier order mirrors
    SegmentDumpReader.java:167-311; validity re-routes mirror
    AssertBatchesValid + checkBatch + AssertTransactionalProducer)."""
    return f"""
raw AS (
  SELECT t.doc_id, t.line, t.source,
         regexp_extract(t.doc_id, '^(.*):([0-9]+)$', 1) AS file,
         TRY_CAST(regexp_extract(t.doc_id, '^(.*):([0-9]+)$', 2) AS INT) AS line_no,
         CASE WHEN regexp_matches(t.source, '/__transaction_state-[0-9]+/[^/]+$') THEN 'txn_state'
              WHEN regexp_matches(t.source, '/__consumer_offsets-[0-9]+/[^/]+$') THEN 'consumer_offsets'
              ELSE 'data' END AS segment_type,
         regexp_extract(t.source, '.*/([a-zA-Z0-9_.-]+)-([0-9]+)/[^/]+$', 1) AS topic,
         TRY_CAST(regexp_extract(t.source, '.*/([a-zA-Z0-9_.-]+)-([0-9]+)/[^/]+$', 2) AS INT) AS partition
  FROM read_parquet('{fx}/sequences_text.parquet') t
),
cls0 AS (
  SELECT *,
    CASE
      WHEN line LIKE 'Dumping %' THEN 'header'
      WHEN line_no = 2 AND regexp_matches(line, '(?i)^.*starting offset: [0-9]+$') THEN 'header'
      WHEN line LIKE 'baseOffset: %' THEN
        CASE WHEN regexp_matches(line, '{_sqlq(_BATCH_RE)}') THEN 'batch' ELSE 'corrupt' END
      WHEN line LIKE '| %' THEN
        CASE
          WHEN contains(line, ' key: transaction_metadata::transactionalId=') THEN
            CASE
              WHEN NOT regexp_matches(line, '{_sqlq(_TXN_RE)}') THEN 'corrupt'
              WHEN regexp_extract(line, ' payload: (.*)$', 1) = '<DELETE>' THEN 'txn_deletion'
              WHEN regexp_matches(regexp_extract(line, ' payload: (.*)$', 1), '{_sqlq(_PAYLOAD_RE)}')
                THEN 'txn_state'
              ELSE 'corrupt'
            END
          WHEN contains(line, ' key: offset_commit::group=') THEN
            CASE
              WHEN NOT regexp_matches(line, '{_sqlq(_OC_RE)}') THEN 'corrupt'
              WHEN regexp_extract(line, ' payload: (.*)$', 1) = '<DELETE>' THEN 'offset_commit'
              WHEN regexp_matches(regexp_extract(line, ' payload: (.*)$', 1), '{_sqlq(_OC_PAYLOAD_RE)}')
                THEN 'offset_commit'
              ELSE 'corrupt'
            END
          WHEN contains(line, ' key: group_metadata::group=') THEN
            CASE
              WHEN NOT regexp_matches(line, '{_sqlq(_GM_RE)}') THEN 'corrupt'
              WHEN regexp_extract(line, ' payload: (.*)$', 1) = '<DELETE>' THEN 'group_metadata'
              WHEN regexp_matches(regexp_extract(line, ' payload: (.*)$', 1), '{_sqlq(_GM_PAYLOAD_RE)}')
                THEN 'group_metadata'
              ELSE 'corrupt'
            END
          WHEN contains(line, ' endTxnMarker: ') THEN
            CASE WHEN regexp_matches(line, '{_sqlq(_CONTROL_RE)}') THEN 'control_msg' ELSE 'corrupt' END
          WHEN regexp_matches(line, '{_sqlq(_DATA_RE)}') THEN 'data_msg'
          ELSE 'corrupt'
        END
      WHEN line LIKE 'producerId: %' THEN
        CASE WHEN regexp_matches(line, '{_sqlq(_SNAPSHOT_RE)}') THEN 'producer_state' ELSE 'corrupt' END
      ELSE 'corrupt'
    END AS cls0
  FROM raw
),
classified AS (
  SELECT *,
    CASE
      WHEN cls0 = 'batch' AND regexp_extract(line, 'isvalid: (true|false)', 1) = 'false' THEN 'corrupt'
      WHEN cls0 = 'batch' AND segment_type = 'txn_state'
           AND (regexp_extract(line, ' producerId: (-?[0-9]+)', 1) <> '-1'
                OR regexp_extract(line, ' producerEpoch: (-?[0-9]+)', 1) <> '-1'
                OR regexp_extract(line, 'isTransactional: (true|false)', 1) = 'true') THEN 'corrupt'
      WHEN cls0 = 'batch' AND segment_type = 'data'
           AND regexp_extract(line, 'isTransactional: (true|false)', 1) = 'true'
           AND (regexp_extract(line, ' producerId: (-?[0-9]+)', 1) = '-1'
                OR regexp_extract(line, ' producerEpoch: (-?[0-9]+)', 1) = '-1') THEN 'corrupt'
      WHEN cls0 = 'producer_state'
           AND regexp_extract(line, '^producerId: ([0-9]+)', 1) = '-1'
           AND regexp_extract(line, ' producerEpoch: ([0-9]+)', 1) = '-1' THEN 'corrupt'
      ELSE cls0
    END AS record_class
  FROM cls0
),
batches_raw AS (
  -- extracted from the PRE-routing batch class: klog's currentBatch cursor
  -- points at invalid batches too (their messages are then dropped)
  SELECT doc_id, file, line_no, source, segment_type, topic, partition, record_class,
    TRY_CAST(regexp_extract(line, '^baseOffset: ([0-9]+)', 1) AS BIGINT) AS base_offset,
    TRY_CAST(regexp_extract(line, ' lastOffset: ([0-9]+)', 1) AS BIGINT) AS last_offset,
    TRY_CAST(regexp_extract(line, ' count: ([0-9]+)', 1) AS INT) AS count,
    TRY_CAST(regexp_extract(line, ' baseSequence: (-?[0-9]+)', 1) AS INT) AS base_sequence,
    TRY_CAST(regexp_extract(line, ' lastSequence: (-?[0-9]+)', 1) AS INT) AS last_sequence,
    TRY_CAST(regexp_extract(line, ' producerId: (-?[0-9]+)', 1) AS BIGINT) AS producer_id,
    TRY_CAST(regexp_extract(line, ' producerEpoch: (-?[0-9]+)', 1) AS SMALLINT) AS producer_epoch,
    TRY_CAST(regexp_extract(line, ' partitionLeaderEpoch: ([0-9]+)', 1) AS INT) AS partition_leader_epoch,
    regexp_extract(line, 'isTransactional: (true|false)', 1) = 'true' AS is_transactional,
    regexp_extract(line, 'isControl: (true|false)', 1) = 'true' AS is_control,
    TRY_CAST(regexp_extract(line, ' position: ([0-9]+)', 1) AS BIGINT) AS position,
    TRY_CAST(regexp_extract(line, ' CreateTime: ([0-9]+)', 1) AS BIGINT) AS create_time_ms,
    TRY_CAST(regexp_extract(line, ' size: ([0-9]+)', 1) AS INT) AS size,
    TRY_CAST(regexp_extract(line, ' magic: ([0-9]+)', 1) AS TINYINT) AS magic,
    regexp_extract(line, ' compresscodec: (none|[A-Z]+)', 1) AS compress_codec,
    TRY_CAST(regexp_extract(line, ' crc: ([0-9]+)', 1) AS BIGINT) AS crc,
    regexp_extract(line, 'isvalid: (true|false)', 1) = 'true' AS is_valid
  FROM classified WHERE cls0 = 'batch'
),
batches AS (
  SELECT * EXCLUDE (record_class) FROM batches_raw WHERE record_class = 'batch'
),
ctl_msgs AS (
  SELECT doc_id, file, line_no,
    TRY_CAST(regexp_extract(line, '\\| offset: ([0-9]+)', 1) AS BIGINT) AS "offset",
    TRY_CAST(regexp_extract(line, ' [Cc]reateTime: ([0-9]+)', 1) AS BIGINT) AS msg_create_time_ms,
    TRY_CAST(regexp_extract(line, ' key[Ss]ize: (-?[0-9]+)', 1) AS INT) AS key_size,
    TRY_CAST(regexp_extract(line, ' value[Ss]ize: (-?[0-9]+)', 1) AS INT) AS value_size,
    TRY_CAST(regexp_extract(line, ' sequence: (-?[0-9]+)', 1) AS INT) AS sequence,
    regexp_extract(line, ' endTxnMarker: (COMMIT|ABORT)', 1) = 'COMMIT' AS commit,
    TRY_CAST(regexp_extract(line, ' coordinatorEpoch: ([0-9]+)', 1) AS INT) AS coordinator_epoch
  FROM classified WHERE record_class = 'control_msg'
),
txn_msgs AS (
  SELECT doc_id, file, line_no, source, segment_type,
    TRY_CAST(regexp_extract(line, '\\| offset: ([0-9]+)', 1) AS BIGINT) AS "offset",
    TRY_CAST(regexp_extract(line, ' [Cc]reateTime: ([0-9]+)', 1) AS BIGINT) AS msg_create_time_ms,
    regexp_extract(line, 'transactionalId=(.*) payload: ', 1) AS transactional_id,
    TRY_CAST(regexp_extract(line, ' payload: producerId:([0-9]+),', 1) AS BIGINT) AS txn_producer_id,
    TRY_CAST(regexp_extract(line, ',producerEpoch:([0-9]+),', 1) AS SMALLINT) AS txn_producer_epoch,
    regexp_extract(line, ',state=([A-Za-z]+),', 1) AS state,
    regexp_extract(line, ',partitions=\\[(.*)\\],txnLastUpdateTimestamp', 1) AS partitions,
    TRY_CAST(regexp_extract(line, ',txnLastUpdateTimestamp=([0-9]+),', 1) AS BIGINT) AS txn_last_update_ms,
    TRY_CAST(regexp_extract(line, ',txnTimeoutMs=([0-9]+)$', 1) AS BIGINT) AS txn_timeout_ms
  FROM classified WHERE record_class = 'txn_state'
),
snapshots AS (
  SELECT doc_id, file, line_no,
    TRY_CAST(regexp_extract(line, '^producerId: ([0-9]+)', 1) AS BIGINT) AS producer_id,
    TRY_CAST(regexp_extract(line, ' producerEpoch: ([0-9]+)', 1) AS SMALLINT) AS producer_epoch,
    TRY_CAST(regexp_extract(line, ' coordinatorEpoch: ([0-9]+)', 1) AS INT) AS coordinator_epoch,
    TRY_CAST(CASE WHEN contains(line, 'currentTxnFirstOffset: None') THEN '0'
         ELSE regexp_extract(line, 'currentTxnFirstOffset: Some\\(([0-9]+)\\)', 1) END AS BIGINT)
      AS current_txn_first_offset,
    TRY_CAST(COALESCE(NULLIF(regexp_extract(line, ' lastTimestamp: ([0-9]+)', 1), ''), '0') AS BIGINT)
      AS last_timestamp_ms,
    TRY_CAST(regexp_extract(line, ' firstSequence: ([0-9]+)', 1) AS INT) AS first_sequence,
    TRY_CAST(regexp_extract(line, ' lastSequence: ([0-9]+)', 1) AS INT) AS last_sequence,
    TRY_CAST(regexp_extract(line, ' lastOffset: ([0-9]+)', 1) AS BIGINT) AS last_offset,
    TRY_CAST(regexp_extract(line, ' offsetDelta: ([0-9]+)', 1) AS INT) AS offset_delta,
    TRY_CAST(regexp_extract(line, ' timestamp: ([0-9]+)', 1) AS BIGINT) AS timestamp_ms
  FROM classified WHERE record_class = 'producer_state'
),
oc_msgs AS (
  -- __consumer_offsets offset-commit records (beyond the reference surface)
  SELECT doc_id, file, line_no, "offset", msg_create_time_ms,
    group_id, commit_topic, commit_partition,
    payload = '<DELETE>' AS is_deletion,
    TRY_CAST(regexp_extract(payload, '^offset=([0-9]+),', 1) AS BIGINT) AS committed_offset,
    TRY_CAST(regexp_extract(payload, ',leader_epoch=Optional\\[([0-9]+)\\],', 1) AS INT)
      AS committed_leader_epoch,
    CASE WHEN payload = '<DELETE>' THEN NULL
         ELSE regexp_extract(payload, ',metadata=([^,]*),commit_timestamp=', 1) END AS commit_metadata,
    TRY_CAST(regexp_extract(payload, ',commit_timestamp=([0-9]+),', 1) AS BIGINT) AS commit_timestamp_ms,
    TRY_CAST(regexp_extract(payload, ',expire_timestamp=([0-9]+)$', 1) AS BIGINT) AS expire_timestamp_ms
  FROM (
    SELECT doc_id, file, line_no,
      TRY_CAST(regexp_extract(line, '\\| offset: ([0-9]+)', 1) AS BIGINT) AS "offset",
      TRY_CAST(regexp_extract(line, ' [Cc]reateTime: ([0-9]+)', 1) AS BIGINT) AS msg_create_time_ms,
      regexp_extract(line, ' key: offset_commit::group=([^,]*),topic=', 1) AS group_id,
      regexp_extract(line, ',topic=([^,]*),partition=[0-9]+ payload: ', 1) AS commit_topic,
      TRY_CAST(regexp_extract(line, ',partition=([0-9]+) payload: ', 1) AS INT) AS commit_partition,
      regexp_extract(line, ' payload: (.*)$', 1) AS payload
    FROM classified WHERE record_class = 'offset_commit'
  )
),
gm_msgs AS (
  -- __consumer_offsets group-metadata records (beyond the reference surface)
  SELECT doc_id, file, line_no, "offset", msg_create_time_ms, group_id,
    payload = '<DELETE>' AS is_deletion,
    CASE WHEN payload = '<DELETE>' THEN NULL
         ELSE regexp_extract(payload, '^protocolType=([^,]*),', 1) END AS protocol_type,
    TRY_CAST(regexp_extract(payload, ',generation=([0-9]+),', 1) AS INT) AS generation,
    CASE WHEN payload = '<DELETE>' THEN NULL
         ELSE regexp_extract(payload, ',protocol=([^,]*),', 1) END AS protocol,
    CASE WHEN payload = '<DELETE>' THEN NULL
         ELSE regexp_extract(payload, ',leader=([^,]*),', 1) END AS leader,
    TRY_CAST(regexp_extract(payload, ',members=([0-9]+)$', 1) AS INT) AS num_members
  FROM (
    SELECT doc_id, file, line_no,
      TRY_CAST(regexp_extract(line, '\\| offset: ([0-9]+)', 1) AS BIGINT) AS "offset",
      TRY_CAST(regexp_extract(line, ' [Cc]reateTime: ([0-9]+)', 1) AS BIGINT) AS msg_create_time_ms,
      regexp_extract(line, ' key: group_metadata::group=([^ ]*) payload: ', 1) AS group_id,
      regexp_extract(line, ' payload: (.*)$', 1) AS payload
    FROM classified WHERE record_class = 'group_metadata'
  )
)"""


def klog_txn_cte(fx: str = FX) -> str:
    """CTEs for the sessionized transactional fold (valid data-segment
    batches + their control messages; see aggregates.txn_groups)."""
    return klog_base_cte(fx) + """,
dbatches AS (
  SELECT * FROM batches WHERE segment_type = 'data'
),
pstream AS (
  -- klog's currentBatch cursor as a last-non-null window: parent = nearest
  -- preceding batch LINE (valid or not) within the file; controls with an
  -- invalid parent are then dropped (oracle: cur_batch=None on invalid).
  -- (An ASOF JOIN would be natural here, but DuckDB pushes the validity
  -- predicate into the ASOF build side, changing which row matches.)
  SELECT file, line_no, doc_id, NULL::BOOLEAN AS commit, 'b' AS kind,
         producer_id, producer_epoch, create_time_ms, is_valid
  FROM batches_raw WHERE segment_type = 'data'
  UNION ALL
  SELECT file, line_no, doc_id, commit, 'c' AS kind, NULL, NULL, NULL, NULL
  FROM ctl_msgs
),
pstream2 AS (
  SELECT *,
    last_value(CASE WHEN kind = 'b' THEN struct_pack(
        doc_id := doc_id, producer_id := producer_id, producer_epoch := producer_epoch,
        create_time_ms := create_time_ms, is_valid := is_valid) END IGNORE NULLS)
      OVER (PARTITION BY file ORDER BY line_no
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS parent
  FROM pstream
),
ctl_with_parent AS (
  SELECT doc_id, file, line_no, commit,
         parent.producer_id AS pid, parent.producer_epoch AS epoch,
         parent.create_time_ms AS batch_ct, parent.doc_id AS batch_doc
  FROM pstream2
  WHERE kind = 'c' AND parent IS NOT NULL AND parent.is_valid
),
events AS (
  SELECT producer_id AS pid, producer_epoch AS epoch, file, line_no,
         create_time_ms AS ct, doc_id, FALSE AS is_ctl, NULL::BOOLEAN AS commit
  FROM dbatches WHERE is_transactional AND NOT is_control
  UNION ALL
  SELECT pid, epoch, file, line_no, batch_ct AS ct, batch_doc AS doc_id, TRUE, commit
  FROM ctl_with_parent
),
ev AS (
  SELECT *, COALESCE(SUM(CASE WHEN is_ctl THEN 1 ELSE 0 END) OVER (
      PARTITION BY pid, epoch ORDER BY file, line_no
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS txn_grp
  FROM events
),
grp AS (
  SELECT pid, epoch, txn_grp,
    SUM(CASE WHEN NOT is_ctl THEN 1 ELSE 0 END) AS n_data,
    bool_or(is_ctl) AS has_ctl,
    arg_min(ct, file || '#' || lpad(CAST(line_no AS VARCHAR), 12, '0'))
      FILTER (WHERE NOT is_ctl) AS first_ct,
    arg_min(doc_id, file || '#' || lpad(CAST(line_no AS VARCHAR), 12, '0'))
      FILTER (WHERE NOT is_ctl) AS first_doc,
    max(ct) FILTER (WHERE is_ctl) AS ctl_ct,
    max(doc_id) FILTER (WHERE is_ctl) AS ctl_doc,
    bool_or(commit) FILTER (WHERE is_ctl) AS ctl_commit,
    SUM(CASE WHEN is_ctl AND commit THEN 1 ELSE 0 END) AS n_commit,
    SUM(CASE WHEN is_ctl AND NOT commit THEN 1 ELSE 0 END) AS n_abort
  FROM ev GROUP BY pid, epoch, txn_grp
),
gaps AS (
  SELECT base_offset, LAG(last_offset) OVER (PARTITION BY file ORDER BY line_no) AS prev_last
  FROM dbatches
)"""


# ---------------------------------------------------------------------------
# klog query registry
# ---------------------------------------------------------------------------

def q_route_counts(spark, sf_dir):
    return (
        Pipeline(spark, klog_fixture(sf_dir)).parsed()
        .groupBy("record_class")
        .agg(F.count("*").alias("n_rows"))
    )


SQL_ROUTE_COUNTS = f"""
WITH {klog_base_cte()}
SELECT record_class, COUNT(*) AS n_rows FROM classified GROUP BY record_class
"""


def q_sink_batches(spark, sf_dir):
    p = Pipeline(spark, klog_fixture(sf_dir))
    parsed = p.parsed()
    toks = p.input_df().select(
        "doc_id",
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("token_sum"),
    )
    return (
        parsed.filter(F.col("record_class") == "batch")
        .join(toks, "doc_id")
        .select(
            "doc_id", "file", "line_no", "topic", "partition",
            "base_offset", "last_offset", "count", "base_sequence", "last_sequence",
            "producer_id", "producer_epoch", "partition_leader_epoch",
            "is_transactional", "is_control", "position", "create_time_ms",
            "size", "magic", "compress_codec", "crc", "n_tok", "token_sum",
        )
    )


SQL_SINK_BATCHES = f"""
WITH {klog_base_cte()},
tok AS (
  SELECT doc_id, CAST(len(tokens) AS INT) AS n_tok,
         CAST(list_aggregate(tokens, 'sum') AS BIGINT) AS token_sum
  FROM read_parquet('{FX}/sequences.parquet')
)
SELECT b.doc_id, b.file, b.line_no, b.topic, b.partition,
       b.base_offset, b.last_offset, b.count, b.base_sequence, b.last_sequence,
       b.producer_id, b.producer_epoch, b.partition_leader_epoch,
       b.is_transactional, b.is_control, b.position, b.create_time_ms,
       b.size, b.magic, b.compress_codec, b.crc, t.n_tok, t.token_sum
FROM batches b JOIN tok t USING (doc_id)
"""


def q_sink_control(spark, sf_dir):
    return Pipeline(spark, klog_fixture(sf_dir)).parsed().filter(
        F.col("record_class") == "control_msg"
    ).select(
        "doc_id", "file", "line_no", "offset", "msg_create_time_ms",
        "key_size", "value_size", "sequence", "commit", "coordinator_epoch",
    )


SQL_SINK_CONTROL = f"""
WITH {klog_base_cte()}
SELECT doc_id, file, line_no, "offset", msg_create_time_ms,
       key_size, value_size, sequence, commit, coordinator_epoch
FROM ctl_msgs
"""


def q_sink_txn_state(spark, sf_dir):
    return Pipeline(spark, klog_fixture(sf_dir)).parsed().filter(
        F.col("record_class") == "txn_state"
    ).select(
        "doc_id", "file", "line_no", "offset", "transactional_id",
        "txn_producer_id", "txn_producer_epoch", "state", "partitions",
        "txn_last_update_ms", "txn_timeout_ms",
    )


SQL_SINK_TXN_STATE = f"""
WITH {klog_base_cte()}
SELECT doc_id, file, line_no, "offset", transactional_id,
       txn_producer_id, txn_producer_epoch, state, partitions,
       txn_last_update_ms, txn_timeout_ms
FROM txn_msgs
"""


def q_sink_producer_state(spark, sf_dir):
    return Pipeline(spark, klog_fixture(sf_dir)).parsed().filter(
        F.col("record_class") == "producer_state"
    ).select(
        "doc_id", "file", "line_no", "producer_id", "producer_epoch",
        "coordinator_epoch", "current_txn_first_offset", "last_timestamp_ms",
        "first_sequence", "last_sequence", "last_offset", "offset_delta", "timestamp_ms",
    )


SQL_SINK_PRODUCER_STATE = f"""
WITH {klog_base_cte()}
SELECT doc_id, file, line_no, producer_id, producer_epoch,
       coordinator_epoch, current_txn_first_offset, last_timestamp_ms,
       first_sequence, last_sequence, last_offset, offset_delta, timestamp_ms
FROM snapshots
"""


def q_sink_corrupt(spark, sf_dir):
    return Pipeline(spark, klog_fixture(sf_dir)).parsed().filter(
        F.col("record_class") == "corrupt"
    ).select(
        "doc_id", "file", "line_no", "source",
    )


SQL_SINK_CORRUPT = f"""
WITH {klog_base_cte()}
SELECT doc_id, file, line_no, source FROM classified WHERE record_class = 'corrupt'
"""


def q_sink_group_offsets(spark, sf_dir):
    """__consumer_offsets offset-commit sink — BEYOND the reference surface
    (Segment.java:28 leaves the type a TODO; we decode it)."""
    return Pipeline(spark, klog_fixture(sf_dir)).parsed().filter(
        F.col("record_class") == "offset_commit"
    ).select(
        "doc_id", "file", "line_no", "offset", "msg_create_time_ms",
        "group_id", "commit_topic", "commit_partition", "committed_offset",
        "committed_leader_epoch", "commit_metadata", "commit_timestamp_ms",
        "expire_timestamp_ms", "is_deletion",
    )


SQL_SINK_GROUP_OFFSETS = f"""
WITH {klog_base_cte()}
SELECT doc_id, file, line_no, "offset", msg_create_time_ms,
       group_id, commit_topic, commit_partition, committed_offset,
       committed_leader_epoch, commit_metadata, commit_timestamp_ms,
       expire_timestamp_ms, is_deletion
FROM oc_msgs
"""


def q_group_lag(spark, sf_dir):
    """Per-group consumer lag: compacted latest commit per (group, topic,
    partition) vs the dumped partition's log-end offset."""
    return Pipeline(spark, klog_fixture(sf_dir)).group_lag()


SQL_GROUP_LAG = f"""
WITH {klog_base_cte()},
latest AS (
  SELECT group_id, commit_topic, commit_partition, committed_offset
  FROM (SELECT *, row_number() OVER (
          PARTITION BY group_id, commit_topic, commit_partition
          ORDER BY file DESC, line_no DESC) AS rn
        FROM oc_msgs)
  WHERE rn = 1 AND NOT is_deletion
),
log_end AS (
  SELECT topic, partition, CAST(MAX(last_offset) + 1 AS BIGINT) AS log_end_offset
  FROM batches WHERE segment_type = 'data' GROUP BY topic, partition
)
SELECT l.group_id, l.commit_topic, l.commit_partition, l.committed_offset,
       e.log_end_offset, CAST(e.log_end_offset - l.committed_offset AS BIGINT) AS "lag"
FROM latest l JOIN log_end e
  ON l.commit_topic = e.topic AND l.commit_partition = e.partition
"""


def q_group_metadata(spark, sf_dir):
    """Latest group-metadata record per consumer group (compaction
    semantics; tombstoned groups dropped)."""
    return Pipeline(spark, klog_fixture(sf_dir)).group_metadata()


SQL_GROUP_METADATA = f"""
WITH {klog_base_cte()}
SELECT group_id, protocol_type, generation, protocol, leader, num_members
FROM (SELECT *, row_number() OVER (PARTITION BY group_id
        ORDER BY file DESC, line_no DESC) AS rn
      FROM gm_msgs)
WHERE rn = 1 AND NOT is_deletion
"""


def q_group_commit_rates(spark, sf_dir):
    """Consumer-throughput analytics: per (group, hour) commit count,
    partitions touched, and total offset advance (sum of per-key deltas in
    segment order). Scale shape: per-key lag window (key cardinality =
    group x partition), then a plain grouped aggregate."""
    from pyspark.sql import Window

    oc = Pipeline(spark, klog_fixture(sf_dir)).parsed().filter(
        (F.col("record_class") == "offset_commit") & ~F.col("is_deletion")
    )
    w = Window.partitionBy("group_id", "commit_topic", "commit_partition").orderBy(
        "file", "line_no"
    )
    adv = F.col("committed_offset") - F.lag("committed_offset").over(w)
    return (
        oc.withColumn("adv", F.coalesce(adv, F.lit(0)))
        .withColumn(
            "window_start_ms",
            F.col("commit_timestamp_ms") - F.col("commit_timestamp_ms") % F.lit(3600000),
        )
        .groupBy("group_id", "window_start_ms")
        .agg(
            F.count("*").alias("n_commits"),
            F.countDistinct("commit_partition").alias("partitions_touched"),
            F.sum("adv").alias("total_advance"),
        )
    )


SQL_GROUP_COMMIT_RATES = f"""
WITH {klog_base_cte()},
deltas AS (
  SELECT group_id, commit_partition, commit_timestamp_ms,
         committed_offset - LAG(committed_offset) OVER (
           PARTITION BY group_id, commit_topic, commit_partition
           ORDER BY file, line_no) AS adv
  FROM oc_msgs WHERE NOT is_deletion
)
SELECT group_id,
       commit_timestamp_ms - commit_timestamp_ms % 3600000 AS window_start_ms,
       CAST(COUNT(*) AS BIGINT) AS n_commits,
       CAST(COUNT(DISTINCT commit_partition) AS BIGINT) AS partitions_touched,
       CAST(SUM(COALESCE(adv, 0)) AS BIGINT) AS total_advance
FROM deltas GROUP BY group_id, window_start_ms
"""


def q_txn_stats(spark, sf_dir):
    df = Pipeline(spark, klog_fixture(sf_dir)).txn_stats()
    return df.select(
        F.col("num_committed").cast("long"),
        F.col("num_aborted").cast("long"),
        F.col("txn_size_count").cast("long"),
        F.col("txn_size_sum").cast("long"),
        F.col("txn_size_min").cast("long"),
        F.col("txn_size_max").cast("long"),
        F.round("txn_size_avg", 6).alias("txn_size_avg"),
        F.col("txn_dur_count").cast("long"),
        F.col("txn_dur_sum").cast("long"),
        F.col("txn_dur_min").cast("long"),
        F.col("txn_dur_max").cast("long"),
        F.round("txn_dur_avg", 6).alias("txn_dur_avg"),
        F.col("num_empty_txn").cast("long"),
        F.col("num_open_txn").cast("long"),
        F.col("num_offset_gaps").cast("long"),
    )


SQL_TXN_STATS = f"""
WITH {klog_txn_cte()}
SELECT
  CAST((SELECT COALESCE(SUM(CASE WHEN commit THEN 1 ELSE 0 END), 0) FROM ctl_with_parent) AS BIGINT) AS num_committed,
  CAST((SELECT COALESCE(SUM(CASE WHEN NOT commit THEN 1 ELSE 0 END), 0) FROM ctl_with_parent) AS BIGINT) AS num_aborted,
  CAST(SUM(CASE WHEN has_ctl AND n_data > 0 THEN 1 ELSE 0 END) AS BIGINT) AS txn_size_count,
  CAST(SUM(CASE WHEN has_ctl AND n_data > 0 THEN n_data END) AS BIGINT) AS txn_size_sum,
  CAST(MIN(CASE WHEN has_ctl AND n_data > 0 THEN n_data END) AS BIGINT) AS txn_size_min,
  CAST(MAX(CASE WHEN has_ctl AND n_data > 0 THEN n_data END) AS BIGINT) AS txn_size_max,
  ROUND(AVG(CASE WHEN has_ctl AND n_data > 0 THEN n_data END), 6) AS txn_size_avg,
  CAST(SUM(CASE WHEN has_ctl AND n_data > 0 THEN 1 ELSE 0 END) AS BIGINT) AS txn_dur_count,
  CAST(SUM(CASE WHEN has_ctl AND n_data > 0 THEN CAST(ctl_ct - first_ct AS INT) END) AS BIGINT) AS txn_dur_sum,
  CAST(MIN(CASE WHEN has_ctl AND n_data > 0 THEN CAST(ctl_ct - first_ct AS INT) END) AS BIGINT) AS txn_dur_min,
  CAST(MAX(CASE WHEN has_ctl AND n_data > 0 THEN CAST(ctl_ct - first_ct AS INT) END) AS BIGINT) AS txn_dur_max,
  ROUND(AVG(CASE WHEN has_ctl AND n_data > 0 THEN CAST(ctl_ct - first_ct AS INT) END), 6) AS txn_dur_avg,
  CAST(SUM(CASE WHEN has_ctl AND n_data = 0 THEN 1 ELSE 0 END) AS BIGINT) AS num_empty_txn,
  CAST(SUM(CASE WHEN NOT has_ctl THEN 1 ELSE 0 END) AS BIGINT) AS num_open_txn,
  CAST((SELECT COUNT(*) FROM gaps WHERE prev_last IS NOT NULL AND base_offset <> prev_last + 1) AS BIGINT) AS num_offset_gaps
FROM grp
"""


def q_batches_per_epoch(spark, sf_dir):
    from .operators.aggregates import batches_per_epoch

    return batches_per_epoch(Pipeline(spark, klog_fixture(sf_dir)).parsed_raw())


SQL_BATCHES_PER_EPOCH = f"""
WITH {klog_base_cte()}
SELECT producer_id, producer_epoch, COUNT(*) AS n_batches
FROM batches WHERE segment_type = 'data' AND producer_id <> -1
GROUP BY producer_id, producer_epoch
"""


def q_open_txns(spark, sf_dir):
    from .operators.aggregates import open_txns

    return open_txns(Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()).select(
        "producer_id", "producer_epoch", "first_batch_doc_id",
        F.col("n_data_batches").cast("long").alias("n_data_batches"),
    )


SQL_OPEN_TXNS = f"""
WITH {klog_txn_cte()}
SELECT pid AS producer_id, epoch AS producer_epoch,
       first_doc AS first_batch_doc_id, CAST(n_data AS BIGINT) AS n_data_batches
FROM grp WHERE NOT has_ctl
"""


def q_empty_txns(spark, sf_dir):
    from .operators.aggregates import empty_txns

    return empty_txns(Pipeline(spark, klog_fixture(sf_dir)).parsed_raw())


SQL_EMPTY_TXNS = f"""
WITH {klog_txn_cte()}
SELECT pid AS producer_id, epoch AS producer_epoch,
       ctl_doc AS closing_batch_doc_id, ctl_commit AS commit
FROM grp WHERE has_ctl AND n_data = 0
"""


def q_offset_gaps(spark, sf_dir):
    from .operators.aggregates import offset_gaps

    return offset_gaps(Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()).select(
        "doc_id", "file", "line_no", "base_offset", "prev_last_offset"
    )


SQL_OFFSET_GAPS = f"""
WITH {klog_base_cte()},
g AS (
  SELECT doc_id, file, line_no, base_offset,
         LAG(last_offset) OVER (PARTITION BY file ORDER BY line_no) AS prev_last_offset
  FROM batches WHERE segment_type = 'data'
)
SELECT doc_id, file, line_no, base_offset, prev_last_offset
FROM g WHERE prev_last_offset IS NOT NULL AND base_offset <> prev_last_offset + 1
"""


def q_cat_pid(spark, sf_dir):
    from .operators.filters import cat_batches

    raw = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
    return cat_batches(raw, pid=1).filter(F.col("is_valid")).select(
        "doc_id", "base_offset", "last_offset", "count", "producer_id",
        "producer_epoch", "is_transactional", "is_control", "create_time",
    )


def _sql_instant(expr: str) -> str:
    """DuckDB replica of filters.instant_string (Instant.toString: fraction
    dropped on whole seconds, else a 3-digit millis group)."""
    return (
        f"strftime(epoch_ms({expr}), '%Y-%m-%dT%H:%M:%S') || "
        f"CASE WHEN {expr} % 1000 = 0 THEN '' "
        f"ELSE '.' || lpad(CAST({expr} % 1000 AS VARCHAR), 3, '0') END || 'Z'"
    )


SQL_CAT_PID = f"""
WITH {klog_base_cte()}
SELECT doc_id, base_offset, last_offset, count, producer_id, producer_epoch,
       is_transactional, is_control,
       {_sql_instant('create_time_ms')} AS create_time
FROM batches WHERE segment_type = 'data' AND producer_id = 1
"""


def q_cat_producer_states(spark, sf_dir):
    """`klog snapshot cat` projection (snapshot/cli/Cat.OutputVisitor:71-99)
    with Instant-rendered timestamps."""
    return Pipeline(spark, klog_fixture(sf_dir)).cat_producer_states().select(
        "doc_id", "producer_id", "producer_epoch", "coordinator_epoch",
        "current_txn_first_offset", "last_timestamp",
        "first_sequence", "last_sequence", "last_offset", "offset_delta", "timestamp",
    )


SQL_CAT_PRODUCER_STATES = f"""
WITH {klog_base_cte()}
SELECT doc_id, producer_id, producer_epoch, coordinator_epoch,
       current_txn_first_offset,
       {_sql_instant('last_timestamp_ms')} AS last_timestamp,
       first_sequence, last_sequence, last_offset, offset_delta,
       {_sql_instant('timestamp_ms')} AS "timestamp"
FROM snapshots
"""


def q_cat_pid_epoch(spark, sf_dir):
    """P1+P3+P6: --pid --producer-epoch conjunction through the cat
    projection (BatchPredicate.java:29-62)."""
    from .operators.filters import cat_batches

    raw = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
    return cat_batches(raw, pid=1001, producer_epoch=0).filter(
        F.col("is_valid")
    ).select("doc_id", "base_offset", "last_offset", "producer_id", "producer_epoch", "create_time")


SQL_CAT_PID_EPOCH = f"""
WITH {klog_base_cte()}
SELECT doc_id, base_offset, last_offset, producer_id, producer_epoch,
       {_sql_instant('create_time_ms')} AS create_time
FROM batches WHERE segment_type = 'data' AND producer_id = 1001 AND producer_epoch = 0
"""


def q_cat_leader_epoch(spark, sf_dir):
    """P4: --leader-epoch filter through the cat projection."""
    from .operators.filters import cat_batches

    raw = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
    return cat_batches(raw, leader_epoch=2).filter(
        F.col("is_valid")
    ).select("doc_id", "base_offset", "partition_leader_epoch", "producer_id", "create_time")


SQL_CAT_LEADER_EPOCH = f"""
WITH {klog_base_cte()}
SELECT doc_id, base_offset, partition_leader_epoch, producer_id,
       {_sql_instant('create_time_ms')} AS create_time
FROM batches WHERE segment_type = 'data' AND partition_leader_epoch = 2
"""


def q_filter_txn_id(spark, sf_dir):
    from .operators.filters import filter_txn_state

    raw = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
    return filter_txn_state(raw, transactional_id="txn-app-3").filter(
        ~F.col("is_deletion")
    ).select("doc_id", "transactional_id", "txn_producer_id", "txn_producer_epoch", "state")


SQL_FILTER_TXN_ID = f"""
WITH {klog_base_cte()}
SELECT doc_id, transactional_id, txn_producer_id, txn_producer_epoch, state
FROM txn_msgs WHERE transactional_id = 'txn-app-3'
"""


def q_state_machine_violations(spark, sf_dir):
    from .operators.checks import state_machine_violations

    raw = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
    return state_machine_violations(raw).select(
        "doc_id", "transactional_id", "producer_id", "producer_epoch", "prev_state", "state"
    )


def _sql_valid_prev_case() -> str:
    from .operators.checks import VALID_PREVIOUS

    whens = []
    for state, preds in VALID_PREVIOUS.items():
        lst = ", ".join(f"'{p}'" for p in preds)
        whens.append(f"WHEN state = '{state}' AND prev_state NOT IN ({lst}) THEN TRUE")
    return "CASE " + " ".join(whens) + " ELSE FALSE END"


SQL_STATE_MACHINE = f"""
WITH {klog_base_cte()},
seq AS (
  SELECT doc_id, transactional_id, txn_producer_id AS producer_id,
         txn_producer_epoch AS producer_epoch, state,
         LAG(state) OVER (PARTITION BY txn_producer_id, txn_producer_epoch
                          ORDER BY file, line_no) AS prev_state
  FROM txn_msgs
)
SELECT doc_id, transactional_id, producer_id, producer_epoch, prev_state, state
FROM seq WHERE prev_state IS NOT NULL AND {{VALID_PREV}}
"""


def q_enrich_producer_team(spark, sf_dir):
    from .operators.enrich import enrich_with_producer_meta

    p = Pipeline(spark, klog_fixture(sf_dir))
    meta = p.producer_meta()
    b = p.parsed().filter(
        (F.col("record_class") == "batch") & (F.col("segment_type") == "data") & (F.col("producer_id") != -1)
    )
    return (
        enrich_with_producer_meta(b, meta)
        .groupBy("team")
        .agg(F.count("*").alias("n_batches"), F.countDistinct("producer_id").alias("n_producers"))
    )


SQL_ENRICH_PRODUCER_TEAM = f"""
WITH {klog_base_cte()}
SELECT m.team, COUNT(*) AS n_batches, COUNT(DISTINCT b.producer_id) AS n_producers
FROM batches b LEFT JOIN read_parquet('{FX}/producer_meta.parquet') m USING (producer_id)
WHERE b.segment_type = 'data' AND b.producer_id <> -1
GROUP BY m.team
"""


def q_enrich_topic(spark, sf_dir):
    from .operators.enrich import enrich_with_topic_meta

    p = Pipeline(spark, klog_fixture(sf_dir))
    meta = p.topic_meta()
    b = p.parsed().filter(F.col("record_class") == "batch")
    return enrich_with_topic_meta(b, meta).groupBy("cleanup_policy", "is_internal").agg(
        F.count("*").alias("n_batches")
    )


SQL_ENRICH_TOPIC = f"""
WITH {klog_base_cte()}
SELECT m.cleanup_policy, m.is_internal, COUNT(*) AS n_batches
FROM batches b LEFT JOIN read_parquet('{FX}/topic_meta.parquet') m USING (topic, partition)
GROUP BY m.cleanup_policy, m.is_internal
"""


def q_abort_cmds(spark, sf_dir):
    from .operators.enrich import abort_commands_for

    raw = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
    return abort_commands_for(raw, pid=1, producer_epoch=0).select(
        "doc_id", "producer_id", "producer_epoch", "coordinator_epoch", "abort_command"
    )


SQL_ABORT_CMDS = f"""
WITH {klog_base_cte()}
SELECT doc_id, producer_id, producer_epoch, coordinator_epoch,
       printf('$KAFKA_HOME/bin/kafka-transactions.sh --bootstrap-server $BOOTSTRAP_URL abort --topic $TOPIC_NAME --partition $PART_NUM --producer-id %d --producer-epoch %d --coordinator-epoch %d',
              producer_id, CAST(producer_epoch AS BIGINT), CAST(coordinator_epoch AS BIGINT)) AS abort_command
FROM snapshots WHERE producer_id = 1 AND producer_epoch = 0
"""


def q_coordinating_partition(spark, sf_dir):
    from .javahash import with_coordinating_partition

    ids = Pipeline(spark, klog_fixture(sf_dir)).parsed_raw().filter(
        F.col("transactional_id").isNotNull()
    ).select("transactional_id").distinct()
    return with_coordinating_partition(ids, "transactional_id", 50)


SQL_COORDINATING_PARTITION = f"""
WITH {klog_base_cte()},
ids AS (
  SELECT DISTINCT transactional_id FROM (
    SELECT transactional_id FROM txn_msgs
    UNION ALL
    SELECT regexp_extract(line, 'transactionalId=(.*) payload: ', 1) AS transactional_id
    FROM classified WHERE record_class = 'txn_deletion'
  )
),
hashed AS (
  SELECT transactional_id,
    list_reduce(
      list_prepend(0::BIGINT, [unicode(c)::BIGINT for c in split(transactional_id, '')]),
      (acc, c) -> (acc * 31 + c) % 4294967296
    ) AS h_u32
  FROM ids
)
SELECT transactional_id,
  CAST(CASE WHEN h_s32 = -2147483648 THEN 0 ELSE abs(h_s32) END % 50 AS INT) AS coordinating_partition
FROM (SELECT transactional_id,
             CASE WHEN h_u32 >= 2147483648 THEN h_u32 - 4294967296 ELSE h_u32 END AS h_s32
      FROM hashed)
"""


def q_position_monotonic(spark, sf_dir):
    """W2: batch position strictly increasing within a dump file
    (AssertBatchPositionMonotonic's intent), over the routed batch view."""
    from .operators.checks import position_monotonic_violations

    return position_monotonic_violations(Pipeline(spark, klog_fixture(sf_dir)).parsed())


SQL_POSITION_MONOTONIC = f"""
WITH {klog_base_cte()},
g AS (
  SELECT doc_id, file, line_no, position,
         LAG(position) OVER (PARTITION BY file ORDER BY line_no) AS prev_position
  FROM batches
)
SELECT doc_id, file, line_no, position, prev_position
FROM g WHERE prev_position IS NOT NULL AND position <= prev_position
"""


def q_leader_epoch_monotonic(spark, sf_dir):
    """W3: partitionLeaderEpoch non-decreasing within a dump file."""
    from .operators.checks import leader_epoch_monotonic_violations

    return leader_epoch_monotonic_violations(Pipeline(spark, klog_fixture(sf_dir)).parsed())


SQL_LEADER_EPOCH_MONOTONIC = f"""
WITH {klog_base_cte()},
g AS (
  SELECT doc_id, file, line_no, partition_leader_epoch,
         LAG(partition_leader_epoch) OVER (PARTITION BY file ORDER BY line_no) AS prev_le
  FROM batches
)
SELECT doc_id, file, line_no, partition_leader_epoch, prev_le
FROM g WHERE prev_le IS NOT NULL AND partition_leader_epoch < prev_le
"""


def q_deep_iteration(spark, sf_dir):
    """S4: per-file deep-iteration flag (does the dump carry record lines —
    SegmentDumpReader.java:136-163's sniffing, at table scale)."""
    from .operators.aggregates import deep_iteration_files

    return deep_iteration_files(Pipeline(spark, klog_fixture(sf_dir)).parsed())


SQL_DEEP_ITERATION = f"""
WITH {klog_base_cte()},
f AS (SELECT DISTINCT file FROM classified WHERE record_class <> 'header'),
d AS (SELECT DISTINCT file FROM classified
      WHERE record_class IN ('data_msg','control_msg','txn_state','txn_deletion',
                             'offset_commit','group_metadata'))
SELECT f.file, (d.file IS NOT NULL) AS deep_iteration
FROM f LEFT JOIN d USING (file)
"""


def q_topics_sanity(spark, sf_dir):
    """A8: txn-stat's one-topic precondition (TxnStat.java:78-81)."""
    from .operators.aggregates import topics_sanity

    return topics_sanity(Pipeline(spark, klog_fixture(sf_dir)).parsed_raw())


SQL_TOPICS_SANITY = f"""
WITH {klog_base_cte()}
SELECT CAST(COUNT(DISTINCT topic) AS BIGINT) AS n_topics,
       CAST(COUNT(DISTINCT partition) AS BIGINT) AS n_partition_suffixes
FROM raw WHERE segment_type = 'data'
"""


def q_open_txn_abort_cmds(spark, sf_dir):
    """The README post-mortem workflow (README.md:140-158) end-to-end: open
    transactions from the segment dumps joined to producer-snapshot states
    on (producer_id, producer_epoch), one abort command per match
    (snapshot/cli/AbortCmd.OutputVisitor:68-77)."""
    return Pipeline(spark, klog_fixture(sf_dir)).open_txn_abort_commands()


SQL_OPEN_TXN_ABORT_CMDS = f"""
WITH {klog_txn_cte()},
open_sessions AS (
  SELECT DISTINCT pid, epoch FROM grp WHERE NOT has_ctl
)
SELECT s.producer_id, s.producer_epoch, s.coordinator_epoch,
       printf('$KAFKA_HOME/bin/kafka-transactions.sh --bootstrap-server $BOOTSTRAP_URL abort --topic $TOPIC_NAME --partition $PART_NUM --producer-id %d --producer-epoch %d --coordinator-epoch %d',
              s.producer_id, CAST(s.producer_epoch AS BIGINT), CAST(s.coordinator_epoch AS BIGINT)) AS abort_command
FROM snapshots s JOIN open_sessions o
  ON s.producer_id = o.pid AND s.producer_epoch = o.epoch
"""


def q_group_coordinating_partition(spark, sf_dir):
    """GroupCoordinatingPartition.java:38-44 — the __consumer_offsets twin of
    the txn variant: abs(groupId.hashCode()) % 50 with the MIN_VALUE guard.
    Group ids stand in as the fixture's data-topic names (the verified
    surface is the bit-exact Java hash + partition rule, identical for any
    id string)."""
    from .javahash import with_coordinating_partition

    ids = (
        Pipeline(spark, klog_fixture(sf_dir)).parsed_raw()
        .filter(F.col("segment_type") == "data")
        .select(F.col("topic").alias("group_id"))
        .distinct()
    )
    return with_coordinating_partition(ids, "group_id", 50)


SQL_GROUP_COORDINATING_PARTITION = f"""
WITH {klog_base_cte()},
ids AS (SELECT DISTINCT topic AS group_id FROM raw WHERE segment_type = 'data'),
hashed AS (
  SELECT group_id, {_sql_java_u32('group_id')} AS h_u32 FROM ids
)
SELECT group_id,
  CAST(CASE WHEN h_s32 = -2147483648 THEN 0 ELSE abs(h_s32) END % 50 AS INT) AS coordinating_partition
FROM (SELECT group_id,
             CASE WHEN h_u32 >= 2147483648 THEN h_u32 - 4294967296 ELSE h_u32 END AS h_s32
      FROM hashed)
"""


def q_cat_render(spark, sf_dir):
    """F6: the `cat` display renderer — one ANSI-styled line per record,
    byte-for-byte the reference's format strings (Cat.OutputVisitor)."""
    from .operators.render import render_cat_lines

    return render_cat_lines(Pipeline(spark, klog_fixture(sf_dir)).parsed(), color=True)


def _sql_cat_render() -> str:
    from .operators.render import BLUE, BOLD, GREEN_BOLD, RED_BOLD, RESET

    b, bl, g, r, z = BOLD, BLUE, GREEN_BOLD, RED_BOLD, RESET
    # header_keys must reproduce the engine's GREEDY capture: extract group 6
    # of the same anchored grammar the classifier already uses
    hk = (
        f"CASE record_class WHEN 'data_msg' THEN regexp_extract(line, '{_sqlq(_DATA_RE)}', 6) "
        f"WHEN 'control_msg' THEN regexp_extract(line, '{_sqlq(_CONTROL_RE)}', 6) "
        f"ELSE regexp_extract(line, '{_sqlq(_TXN_RE)}', 6) END"
    )
    return f"""
WITH {klog_base_cte()},
msgs AS (
  SELECT doc_id, file, line_no, record_class, line,
    TRY_CAST(regexp_extract(line, '\\| offset: ([0-9]+)', 1) AS BIGINT) AS moffset,
    TRY_CAST(regexp_extract(line, ' [Cc]reateTime: ([0-9]+)', 1) AS BIGINT) AS mct,
    TRY_CAST(regexp_extract(line, ' key[Ss]ize: (-?[0-9]+)', 1) AS INT) AS mkey,
    TRY_CAST(regexp_extract(line, ' value[Ss]ize: (-?[0-9]+)', 1) AS INT) AS mval,
    TRY_CAST(regexp_extract(line, ' sequence: (-?[0-9]+)', 1) AS INT) AS mseq,
    {hk} AS hkeys
  FROM classified
  WHERE record_class IN ('data_msg', 'control_msg', 'txn_state', 'txn_deletion')
),
rendered AS (
  SELECT doc_id, file, line_no,
    '{b}' || printf('Batch(baseOffset=%d, lastOffset=%d, count=%d, baseSequence=%d, lastSequence=%d, producerId=%d, producerEpoch=%s, partitionLeaderEpoch=%d, isTransactional=%s, isControl=%s, position=%d, createTime=%s, size=%d, magic=%s, compressCodec=''%s'', crc=%d, isValid=',
      base_offset, last_offset, count, base_sequence, last_sequence, producer_id,
      CAST(producer_epoch AS VARCHAR), partition_leader_epoch,
      CAST(is_transactional AS VARCHAR), CAST(is_control AS VARCHAR), position,
      {_sql_instant('create_time_ms')}, size, CAST(magic AS VARCHAR), compress_codec, crc)
    || '{z}' || CAST(is_valid AS VARCHAR) || '{b})' || '{z}' AS display
  FROM batches
  UNION ALL
  SELECT m.doc_id, m.file, m.line_no,
    printf('  ControlMessage(offset=%d, createTime=%s, keySize=%d, valueSize=%d, sequence=%d, headers=''%s'', commit=%s, coordinatorEpoch=%d)',
      m.moffset, {_sql_instant('m.mct')}, m.mkey, m.mval, m.mseq, m.hkeys,
      CASE WHEN c.commit THEN '{g}commit{z}' ELSE '{r}abort{z}' END, c.coordinator_epoch) AS display
  FROM msgs m JOIN ctl_msgs c USING (doc_id)
  WHERE m.record_class = 'control_msg'
  UNION ALL
  SELECT doc_id, file, line_no,
    printf('  DataMessage(offset=%d, createTime=%s, keySize=%d, valueSize=%d, sequence=%d, headerKeys=''%s'')',
      moffset, {_sql_instant('mct')}, mkey, mval, mseq, hkeys) AS display
  FROM msgs WHERE record_class = 'data_msg'
  UNION ALL
  SELECT m.doc_id, m.file, m.line_no,
    printf('  TransactionStateMessage(offset=%d, createTime=%s, keySize=%d, valueSize=%d, sequence=%d, headerKeys=''%s'', transactionId=''%s'', producerId=%d, producerEpoch=%s, state={bl}%s{z}, partitions=''%s'', txnLastUpdateTimestamp=%s, txnTimeoutMs=%d)',
      m.moffset, {_sql_instant('m.mct')}, m.mkey, m.mval, m.mseq, m.hkeys,
      t.transactional_id, t.txn_producer_id, CAST(t.txn_producer_epoch AS VARCHAR),
      t.state, t.partitions, {_sql_instant('t.txn_last_update_ms')}, t.txn_timeout_ms) AS display
  FROM msgs m JOIN txn_msgs t USING (doc_id)
  WHERE m.record_class = 'txn_state'
  UNION ALL
  SELECT doc_id, file, line_no,
    printf('  TransactionStateDeletion(offset=%d, createTime=%s, keySize=%d, valueSize=%d, sequence=%d, headerKeys=''%s'', transactionId=''%s'')',
      moffset, {_sql_instant('mct')}, mkey, mval, mseq, hkeys,
      regexp_extract(line, 'transactionalId=(.*) payload: ', 1)) AS display
  FROM msgs WHERE record_class = 'txn_deletion'
)
SELECT doc_id, file, line_no, display FROM rendered
"""


SQL_CAT_RENDER = _sql_cat_render()


def q_first_last_batch(spark, sf_dir):
    from .operators.aggregates import first_last_batch

    return first_last_batch(Pipeline(spark, klog_fixture(sf_dir)).parsed_raw())


SQL_FIRST_LAST_BATCH = f"""
WITH {klog_base_cte()},
k AS (SELECT doc_id, file || '#' || lpad(CAST(line_no AS VARCHAR), 12, '0') AS ord
      FROM batches WHERE segment_type = 'data')
SELECT arg_min(doc_id, ord) AS first_batch_doc_id, arg_max(doc_id, ord) AS last_batch_doc_id FROM k
"""


def q_file_health(spark, sf_dir):
    """Per-dump-file health report (aggregates.file_health); the oracle
    recomputes the counts and gaps from the text CTEs."""
    from .operators.aggregates import file_health

    p = Pipeline(spark, klog_fixture(sf_dir))
    return file_health(p.parsed_raw(), p.parsed())


SQL_FILE_HEALTH = f"""
WITH {klog_base_cte()},
per_file AS (
  SELECT file, segment_type,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN record_class = 'batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_batches,
         CAST(SUM(CASE WHEN record_class = 'corrupt' THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
  FROM classified GROUP BY file, segment_type
),
g AS (
  SELECT file, COUNT(*) AS ng FROM (
    SELECT file, base_offset,
           LAG(last_offset) OVER (PARTITION BY file ORDER BY line_no) AS plo
    FROM batches WHERE segment_type = 'data') t
  WHERE plo IS NOT NULL AND base_offset <> plo + 1
  GROUP BY file
)
SELECT p.file, p.segment_type, p.n_lines, p.n_batches, p.n_corrupt,
       CAST(p.n_corrupt AS DOUBLE) / p.n_lines AS corrupt_rate,
       CAST(COALESCE(g.ng, 0) AS BIGINT) AS n_offset_gaps
FROM per_file p LEFT JOIN g USING (file)
"""


def q_group_offsets_read_committed(spark, sf_dir):
    """READ_COMMITTED compaction of __consumer_offsets: transactional offset
    commits (sendOffsetsToTransaction) are visible only when the nearest
    following control marker from the same (producer, epoch) is COMMIT —
    aborted and still-open transactions hide theirs. Beyond the reference
    surface (Segment.java:28 TODO) and beyond round 3's read_uncommitted
    view."""
    from .operators.group_offsets import read_committed_group_offsets

    return read_committed_group_offsets(Pipeline(spark, klog_fixture(sf_dir)).parsed())


SQL_GROUP_OFFSETS_READ_COMMITTED = f"""
WITH {klog_base_cte()},
co_ev AS (
  SELECT partition, file, line_no, record_class,
    CASE WHEN record_class = 'batch'
         THEN TRY_CAST(regexp_extract(line, ' producerId: (-?[0-9]+)', 1) AS BIGINT) END AS b_pid,
    CASE WHEN record_class = 'batch'
         THEN TRY_CAST(regexp_extract(line, ' producerEpoch: (-?[0-9]+)', 1) AS SMALLINT) END AS b_epoch,
    CASE WHEN record_class = 'batch'
         THEN regexp_extract(line, 'isTransactional: (true|false)', 1) = 'true' END AS b_txn,
    CASE WHEN record_class = 'control_msg'
         THEN regexp_extract(line, ' endTxnMarker: (COMMIT|ABORT)', 1) = 'COMMIT' END AS marker
  FROM classified
  WHERE segment_type = 'consumer_offsets'
    AND record_class IN ('batch', 'offset_commit', 'control_msg')
),
par AS (
  SELECT *,
    LAST_VALUE(b_pid IGNORE NULLS) OVER w AS p_pid,
    LAST_VALUE(b_epoch IGNORE NULLS) OVER w AS p_epoch,
    LAST_VALUE(b_txn IGNORE NULLS) OVER w AS p_txn
  FROM co_ev
  WINDOW w AS (PARTITION BY partition ORDER BY file, line_no
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
marked AS (
  SELECT *, LAST_VALUE(marker IGNORE NULLS) OVER (
      PARTITION BY partition, p_pid, p_epoch ORDER BY file DESC, line_no DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS next_marker
  FROM par WHERE p_txn
),
visible AS (
  SELECT file, line_no FROM par
  WHERE record_class = 'offset_commit' AND NOT COALESCE(p_txn, false)
  UNION ALL
  SELECT file, line_no FROM marked
  WHERE record_class = 'offset_commit' AND next_marker
),
latest AS (
  SELECT group_id, commit_topic, commit_partition, is_deletion, committed_offset,
         committed_leader_epoch, commit_timestamp_ms,
         row_number() OVER (PARTITION BY group_id, commit_topic, commit_partition
                            ORDER BY o.file DESC, o.line_no DESC) AS rn
  FROM oc_msgs o JOIN visible v ON o.file = v.file AND o.line_no = v.line_no
)
SELECT group_id, commit_topic, commit_partition, committed_offset,
       committed_leader_epoch, commit_timestamp_ms
FROM latest WHERE rn = 1 AND NOT is_deletion
"""


def q_group_offset_rewinds(spark, sf_dir):
    """Committed-offset regression (rewind) detection per consumer
    group-partition — the reset-to-earliest / zombie-member incident
    signal; tombstones legitimately reset the chain."""
    from .operators.group_offsets import offset_rewinds

    return offset_rewinds(Pipeline(spark, klog_fixture(sf_dir)).parsed())


SQL_GROUP_OFFSET_REWINDS = f"""
WITH {klog_base_cte()},
p AS (
  SELECT group_id, commit_topic, commit_partition, file, line_no, is_deletion,
         committed_offset,
         LAG(committed_offset) OVER (PARTITION BY group_id, commit_topic, commit_partition
                                     ORDER BY file, line_no) AS prev_offset
  FROM oc_msgs
)
SELECT group_id, commit_topic, commit_partition, file, line_no,
       committed_offset, prev_offset
FROM p
WHERE NOT is_deletion AND prev_offset IS NOT NULL AND committed_offset < prev_offset
"""
