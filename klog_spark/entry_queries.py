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

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import grammar as g
from .datagen import ensure_fixture

FIXTURE_ROOT = "/root/repo/data/klog"
ORACLE_SF = 0.01  # the driver's correctness scale
FX = f"{FIXTURE_ROOT}/sf{ORACLE_SF:g}"


def sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    return float(m.group(1)) if m else ORACLE_SF


def klog_fixture(sf_dir: str) -> str:
    return str(ensure_fixture(sf_of(sf_dir), FIXTURE_ROOT))


def load_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parse import parse_sequences
    from .operators.route import apply_validity_routing

    fx = klog_fixture(sf_dir)
    return apply_validity_routing(parse_sequences(spark.read.parquet(f"{fx}/sequences.parquet")))


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
    """DuckDB replica of javahash.java_hash_u32_expr (BMP text). The
    ``u >= 0`` filter drops the [''] artifact of splitting an empty string
    (DuckDB's unicode('') is -1); hash('') must be 0."""
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
    batches + their control messages; see aggregates._txn_groups)."""
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


def load_parsed_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse WITHOUT validity re-routing: the transactional aggregates need
    invalid batches still classified as batches (klog's cursor points at
    them; their messages are dropped, not re-attached)."""
    from .operators.parse import parse_sequences

    fx = klog_fixture(sf_dir)
    return parse_sequences(spark.read.parquet(f"{fx}/sequences.parquet"))


# ---------------------------------------------------------------------------
# klog query registry
# ---------------------------------------------------------------------------

def q_route_counts(spark, sf_dir):
    return (
        load_parsed(spark, sf_dir)
        .groupBy("record_class")
        .agg(F.count("*").alias("n_rows"))
    )


SQL_ROUTE_COUNTS = f"""
WITH {klog_base_cte()}
SELECT record_class, COUNT(*) AS n_rows FROM classified GROUP BY record_class
"""


def q_sink_batches(spark, sf_dir):
    fx = klog_fixture(sf_dir)
    parsed = load_parsed(spark, sf_dir)
    toks = spark.read.parquet(f"{fx}/sequences.parquet").select(
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
    return load_parsed(spark, sf_dir).filter(F.col("record_class") == "control_msg").select(
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
    return load_parsed(spark, sf_dir).filter(F.col("record_class") == "txn_state").select(
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
    return load_parsed(spark, sf_dir).filter(F.col("record_class") == "producer_state").select(
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
    return load_parsed(spark, sf_dir).filter(F.col("record_class") == "corrupt").select(
        "doc_id", "file", "line_no", "source",
    )


SQL_SINK_CORRUPT = f"""
WITH {klog_base_cte()}
SELECT doc_id, file, line_no, source FROM classified WHERE record_class = 'corrupt'
"""


def q_sink_group_offsets(spark, sf_dir):
    """__consumer_offsets offset-commit sink — BEYOND the reference surface
    (Segment.java:28 leaves the type a TODO; we decode it)."""
    return load_parsed(spark, sf_dir).filter(F.col("record_class") == "offset_commit").select(
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
    from .operators.group_offsets import group_lag

    return group_lag(load_parsed(spark, sf_dir))


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
    from .operators.group_offsets import latest_group_metadata

    return latest_group_metadata(load_parsed(spark, sf_dir))


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

    oc = load_parsed(spark, sf_dir).filter(
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
    from .operators.aggregates import txn_stats

    df = txn_stats(load_parsed_raw(spark, sf_dir))
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

    return batches_per_epoch(load_parsed_raw(spark, sf_dir))


SQL_BATCHES_PER_EPOCH = f"""
WITH {klog_base_cte()}
SELECT producer_id, producer_epoch, COUNT(*) AS n_batches
FROM batches WHERE segment_type = 'data' AND producer_id <> -1
GROUP BY producer_id, producer_epoch
"""


def q_open_txns(spark, sf_dir):
    from .operators.aggregates import open_txns

    return open_txns(load_parsed_raw(spark, sf_dir)).select(
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

    return empty_txns(load_parsed_raw(spark, sf_dir))


SQL_EMPTY_TXNS = f"""
WITH {klog_txn_cte()}
SELECT pid AS producer_id, epoch AS producer_epoch,
       ctl_doc AS closing_batch_doc_id, ctl_commit AS commit
FROM grp WHERE has_ctl AND n_data = 0
"""


def q_offset_gaps(spark, sf_dir):
    from .operators.aggregates import offset_gaps

    return offset_gaps(load_parsed_raw(spark, sf_dir)).select(
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

    return cat_batches(load_parsed_raw(spark, sf_dir), pid=1).filter(F.col("is_valid")).select(
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
    from .operators.filters import cat_producer_states

    return cat_producer_states(load_parsed(spark, sf_dir)).select(
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

    return cat_batches(load_parsed_raw(spark, sf_dir), pid=1001, producer_epoch=0).filter(
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

    return cat_batches(load_parsed_raw(spark, sf_dir), leader_epoch=2).filter(
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

    return filter_txn_state(load_parsed_raw(spark, sf_dir), transactional_id="txn-app-3").filter(
        ~F.col("is_deletion")
    ).select("doc_id", "transactional_id", "txn_producer_id", "txn_producer_epoch", "state")


SQL_FILTER_TXN_ID = f"""
WITH {klog_base_cte()}
SELECT doc_id, transactional_id, txn_producer_id, txn_producer_epoch, state
FROM txn_msgs WHERE transactional_id = 'txn-app-3'
"""


def q_state_machine_violations(spark, sf_dir):
    from .operators.checks import state_machine_violations

    return state_machine_violations(load_parsed_raw(spark, sf_dir)).select(
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

    fx = klog_fixture(sf_dir)
    meta = spark.read.parquet(f"{fx}/producer_meta.parquet")
    b = load_parsed(spark, sf_dir).filter(
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

    fx = klog_fixture(sf_dir)
    meta = spark.read.parquet(f"{fx}/topic_meta.parquet")
    b = load_parsed(spark, sf_dir).filter(F.col("record_class") == "batch")
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

    return abort_commands_for(load_parsed_raw(spark, sf_dir), pid=1, producer_epoch=0).select(
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

    ids = load_parsed_raw(spark, sf_dir).filter(
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

    return position_monotonic_violations(load_parsed(spark, sf_dir))


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

    return leader_epoch_monotonic_violations(load_parsed(spark, sf_dir))


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

    return deep_iteration_files(load_parsed(spark, sf_dir))


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

    return topics_sanity(load_parsed_raw(spark, sf_dir))


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
    from .operators.enrich import open_txn_abort_commands

    return open_txn_abort_commands(load_parsed_raw(spark, sf_dir))


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
        load_parsed_raw(spark, sf_dir)
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

    return render_cat_lines(load_parsed(spark, sf_dir), color=True)


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

    return first_last_batch(load_parsed_raw(spark, sf_dir))


SQL_FIRST_LAST_BATCH = f"""
WITH {klog_base_cte()},
k AS (SELECT doc_id, file || '#' || lpad(CAST(line_no AS VARCHAR), 12, '0') AS ord
      FROM batches WHERE segment_type = 'data')
SELECT arg_min(doc_id, ord) AS first_batch_doc_id, arg_max(doc_id, ord) AS last_batch_doc_id FROM k
"""


# ---------------------------------------------------------------------------
# Training-data pipeline queries (documents / embeddings / events)
#
# The driver tables contain no duplicates, so dedup queries derive a
# deterministic dup-corpus from `documents` with identical expressions on
# both sides: every doc_id % 10 == 0 gets an exact copy (+1000000), every
# doc_id % 10 == 1 gets a near-dup with one appended token (+2000000).
# ---------------------------------------------------------------------------

#: Below this on-disk size a single-task first stage is cheaper than the
#: repartition shuffle that would parallelize it (~0.3-0.6 s fixed cost
#: per extra stage on this VM; measured at sf0.1 where spreading the
#: 0.6 MiB tables regressed small queries 1.5-2x while at sf1 the
#: 5.9 MiB tables gain 2-5x from it). ~2 MiB compressed ~ 10 MiB raw.
_SPREAD_MIN_BYTES = 2 * 1024 * 1024


def _spread(df: DataFrame, path: str | None = None) -> DataFrame:
    """Unsplittable-input guard (optimization guide §2.5 "input skew").

    The driver-provided tables are single-row-group parquet files; parquet
    cannot split below a row group, so their scan — and with it the
    expensive FIRST stage of every consumer (explode / shingle / LM /
    matmul) — runs in ONE task regardless of split-size configs. A cheap
    round-robin repartition right after the read unlocks the session's
    full parallelism. No-op when the input is tiny (a one-task stage then
    beats the shuffle) or when the scan already has enough splits (real
    multi-file tables at scale), so this never ADDS a shuffle where the
    layout is healthy; row-order changes are immaterial — every consumer
    is partition-order-independent by the repo's determinism contract
    (integer micro rounding, hash keys, ordered limits), which the
    query/oracle gate re-verifies."""
    if path is not None:
        try:
            if os.path.getsize(path) < _SPREAD_MIN_BYTES:
                return df
        except OSError:
            pass
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() * 2 >= target:
        return df
    return df.repartition(target)


def _docs(spark, sf_dir):
    path = f"{sf_dir}/documents.parquet"
    return _spread(spark.read.parquet(path), path)


def _emb(spark, sf_dir):
    path = f"{sf_dir}/embeddings.parquet"
    return _spread(spark.read.parquet(path), path)


def _dup_corpus(spark, sf_dir) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq")).alias("text"),
    )
    return docs.unionByName(exact).unionByName(near)


SQL_DUP_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zq' AS text FROM documents WHERE doc_id % 10 = 1
)"""


def q_dedup_exact(spark, sf_dir):
    from .datapipe.dedup import exact_duplicates

    return exact_duplicates(_dup_corpus(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH {SQL_DUP_CORPUS},
g AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS keep_doc_id,
         COUNT(*) OVER (PARTITION BY text) AS group_size
  FROM corpus
)
SELECT doc_id, keep_doc_id, group_size FROM g WHERE group_size > 1
"""


def q_dedup_canonical(spark, sf_dir):
    """Post-dedup canonicalization: keep the highest-quality copy per exact
    group (score = whitespace token count, ties to the lowest doc_id)."""
    from .datapipe.dedup import exact_dedup_keep_best

    corpus = _dup_corpus(spark, sf_dir)
    score = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("long")
    return exact_dedup_keep_best(corpus, score)


SQL_DEDUP_CANONICAL = f"""
WITH {SQL_DUP_CORPUS},
scored AS (
  SELECT doc_id, text,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS score
  FROM corpus
),
ranked AS (
  SELECT doc_id, text, score,
         ROW_NUMBER() OVER (PARTITION BY text ORDER BY score DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY text) AS group_size
  FROM scored
),
keepers AS (SELECT text, doc_id AS keep_doc_id FROM ranked WHERE rn = 1)
SELECT r.doc_id, k.keep_doc_id, (r.rn = 1) AS kept, CAST(r.group_size AS BIGINT) AS group_size
FROM ranked r JOIN keepers k USING (text)
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    # max_df=20 caps hot-shingle candidate fanout (scale guard); the fixture's
    # max shingle document-frequency is 10, so the result is provably
    # identical to the uncapped exact oracle below
    from .datapipe.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_dup_corpus(spark, sf_dir), n=3, threshold=0.5, max_df=20)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {SQL_DUP_CORPUS},
w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM corpus
),
sh AS (
  SELECT doc_id, unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 3), ' ')
           for i in range(0, greatest(len(words) - 3, 0) + 1)
         ])) AS shingle
  FROM w
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id1, id2,
       n_common / (s1.n_shingles + s2.n_shingles - n_common) AS jaccard
FROM common
JOIN sizes s1 ON s1.doc_id = id1
JOIN sizes s2 ON s2.doc_id = id2
WHERE n_common / (s1.n_shingles + s2.n_shingles - n_common) >= 0.5
"""


def q_leakage_safe_split(spark, sf_dir):
    """Content-hash train/test split over the dup corpus: exact duplicates
    provably land in the same split (no train->test leakage via copies)."""
    from .datapipe.dedup import leakage_safe_split

    return leakage_safe_split(_dup_corpus(spark, sf_dir), train_pct=80)


SQL_LEAKAGE_SAFE_SPLIT = f"""
WITH {SQL_DUP_CORPUS},
h AS (
  SELECT doc_id, {_sql_java_u32('sha256(text)')} % 100 AS bucket FROM corpus
)
SELECT doc_id, CASE WHEN bucket < 80 THEN 'train' ELSE 'test' END AS split FROM h
"""


def q_repeated_spans(spark, sf_dir):
    """Cross-document repeated-span detection (dedup.repeated_ngram_spans):
    maximal merged spans of word 8-grams occurring in >= 2 distinct docs of
    the planted-duplicate corpus — the exact-substring-dedup signal. The
    oracle rebuilds positions/grams/document frequencies/interval merge
    from scratch in SQL (fixed-range position explode, DuckDB range() does
    not take correlated bounds)."""
    from .datapipe.dedup import repeated_ngram_spans

    return repeated_ngram_spans(_dup_corpus(spark, sf_dir), n=8, min_df=2)


# Position explode via a list comprehension with the CORRELATED bound
# len(ws) - 8 (not a fixed range(0, N) cap): a document of any length gets
# every position, so the oracle can never silently truncate (ADVICE r5 #1).
SQL_REPEATED_SPANS = f"""
WITH {SQL_DUP_CORPUS},
w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws
  FROM corpus
),
pg AS (
  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
    SELECT doc_id,
           unnest([{{'pos': i, 'gram': array_to_string(ws[i + 1 : i + 8], ' ')}}
                   for i in range(0, len(ws) - 8 + 1)]) AS u
    FROM w WHERE len(ws) >= 8
  )
),
hot AS (
  SELECT gram FROM pg GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
fl AS (SELECT doc_id, pos FROM pg JOIN hot USING (gram)),
m AS (
  SELECT doc_id, pos,
         CASE WHEN pos >= COALESCE(MAX(pos + 8) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_span
  FROM fl
),
s AS (
  SELECT *, CAST(SUM(new_span) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span_id
  FROM m
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 8 AS BIGINT) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_flagged_positions
FROM s GROUP BY doc_id, span_id
"""


def q_repeated_span_removal(spark, sf_dir):
    """Exact-substring dedup, REWRITE step (dedup.remove_repeated_spans):
    every document of the planted-duplicate corpus with its cross-document
    repeated 8-gram spans excised — (doc_id, cleaned_text, n_removed_words,
    n_kept_words), untouched docs passing through with 0 removed. The
    oracle recomputes the span table from scratch in SQL (the gated
    repeated_spans CTEs) and replays the word-offset splice with an
    indexed list_filter, so detection AND excision are independently
    verified end to end."""
    from .datapipe.dedup import remove_repeated_spans

    return remove_repeated_spans(_dup_corpus(spark, sf_dir), n=8, min_df=2)


def _sql_must_replace(base: str, old: str, new: str) -> str:
    """``str.replace`` for composed oracles that FAILS AT BUILD TIME when
    the marker text is absent (ADVICE r6): a reformat of the base SQL must
    break the import, not silently degrade the composed oracle into the
    base query (which the gate would only catch as a schema mismatch)."""
    if old not in base:
        raise AssertionError(
            f"oracle compose marker not found (base SQL reformatted?): {old[:80]!r}"
        )
    return base.replace(old, new)


# The span CTEs are SQL_REPEATED_SPANS verbatim; `cleaned` replays the
# splice: keep word i iff no merged span covers it (DuckDB lambda index is
# 1-based, span offsets 0-based, hence i - 1). Empty tokens are filtered
# before counting — mirrors remove_repeated_spans (ADVICE r6: an
# empty/whitespace-only doc counts 0 kept words, not the '' split token);
# offsets are unaffected for trimmed non-empty text.
SQL_REPEATED_SPAN_REMOVAL = _sql_must_replace(
    _sql_must_replace(
        SQL_REPEATED_SPANS,
        ")\nSELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,",
        """),
sp AS (
  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,""",
    ),
    "FROM s GROUP BY doc_id, span_id\n",
    """FROM s GROUP BY doc_id, span_id
),
per_doc AS (
  SELECT doc_id, list_sort(list({'span_start': span_start,
                                 'span_end': span_end})) AS spans
  FROM sp GROUP BY doc_id
),
joined AS (
  SELECT w.doc_id, list_filter(w.ws, x -> x <> '') AS ws,
         COALESCE(p.spans,
                  CAST([] AS STRUCT(span_start BIGINT, span_end BIGINT)[])) AS spans
  FROM w LEFT JOIN per_doc p USING (doc_id)
),
cleaned AS (
  SELECT doc_id, ws,
         list_filter(ws, (x, i) ->
           len(list_filter(spans, sx ->
             i - 1 >= sx.span_start AND i - 1 < sx.span_end)) = 0) AS kept
  FROM joined
)
-- DuckDB array_to_string([]) is NULL; Spark array_join([]) is '' — coalesce
SELECT doc_id, COALESCE(array_to_string(kept, ' '), '') AS cleaned_text,
       CAST(len(ws) - len(kept) AS BIGINT) AS n_removed_words,
       CAST(len(kept) AS BIGINT) AS n_kept_words
FROM cleaned
""",
)


def q_dedup_paragraphs(spark, sf_dir):
    """Paragraph-granular exact dedup with first-occurrence keep
    (dedup.dedup_paragraph_blocks — the CCNet/MassiveText paragraph-dedup
    recipe over 16-word blocks): every doc of the planted-duplicate corpus
    rebuilt from its globally-first blocks; exact copies come back empty.
    The keep decision is a min-struct hash aggregation (map-side partials
    absorb hot boilerplate blocks), NOT a row_number window. The oracle
    recomputes block boundaries, the global first-occurrence rule and the
    reassembly from scratch in SQL."""
    from .datapipe.dedup import dedup_paragraph_blocks

    return dedup_paragraph_blocks(_dup_corpus(spark, sf_dir), block_words=16)


# DuckDB list_slice is 1-based INCLUSIVE on both ends: elements
# i*16+1 .. i*16+16 = Spark slice(_w, i*16+1, 16). row_number ordered by
# (doc_id, block_idx) = Spark min(struct(doc_id, block_idx, ...)).
SQL_DEDUP_PARAGRAPHS = f"""
WITH {SQL_DUP_CORPUS},
w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS ws
  FROM corpus
),
blk0 AS (
  SELECT doc_id,
         unnest([{{'block_idx': i,
                   'block_text': array_to_string(list_slice(ws, i*16 + 1, i*16 + 16), ' ')}}
                 for i in range(0, CAST(ceil(len(ws) / 16.0) AS INT))]) AS b
  FROM w WHERE len(ws) > 0
),
blk AS (
  SELECT doc_id, b.block_idx AS block_idx, b.block_text AS block_text FROM blk0
),
kept AS (
  SELECT doc_id, block_idx, block_text,
         row_number() OVER (PARTITION BY block_text ORDER BY doc_id, block_idx) AS rn
  FROM blk
),
asm AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_blocks,
         string_agg(block_text, ' ' ORDER BY block_idx) AS kept_text
  FROM kept WHERE rn = 1 GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(ceil(len(ws) / 16.0) AS BIGINT) AS n_blocks,
       CAST(COALESCE(asm.n_kept_blocks, 0) AS BIGINT) AS n_kept_blocks,
       COALESCE(asm.kept_text, '') AS kept_text
FROM w LEFT JOIN asm USING (doc_id)
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the exact n-gram
    Jaccard pairs — pairwise output turned into dedup groups. Oracle: the
    same pair CTEs under a recursive reachability CTE."""
    from .datapipe.dedup import near_dup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_dup_corpus(spark, sf_dir), n=3, threshold=0.5, max_df=20)
    return near_dup_clusters(pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {SQL_DUP_CORPUS},
w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM corpus
),
sh AS (
  SELECT doc_id, unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 3), ' ')
           for i in range(0, greatest(len(words) - 3, 0) + 1)
         ])) AS shingle
  FROM w
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_common
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id1, id2
  FROM common
  JOIN sizes s1 ON s1.doc_id = id1
  JOIN sizes s2 ON s2.doc_id = id2
  WHERE n_common / (s1.n_shingles + s2.n_shingles - n_common) >= 0.5
),
e AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM e),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.id
)
SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id
"""


SQL_NEAR_DUP_CANONICAL = _sql_must_replace(
    SQL_DEDUP_CLUSTERS,
    "SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id",
    """, cl AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY id),
nw AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS INT) AS n_words
  FROM corpus
),
rk AS (
  SELECT cl.doc_id, cl.cluster_id, nw.n_words,
         ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                            ORDER BY nw.n_words DESC, cl.doc_id ASC) AS rn
  FROM cl JOIN nw USING (doc_id)
)
SELECT doc_id, cluster_id, n_words,
       MIN(CASE WHEN rn = 1 THEN doc_id END)
         OVER (PARTITION BY cluster_id) AS keep_doc_id,
       rn = 1 AS kept
FROM rk""",
)


def q_near_dup_canonical(spark, sf_dir):
    """Cluster canonicalization — the dedup endgame: one representative per
    NEAR-dup connected component (not just per byte-identical group),
    chosen by (n_words DESC, doc_id ASC); every clustered doc reports its
    cluster, its keeper and whether it survives. Composes the gated
    clustering with the keep-best policy; the oracle extends the recursive
    reachability CTE with the same ranking."""
    from pyspark.sql import Window

    from .datapipe.dedup import near_dup_clusters, ngram_jaccard_pairs

    corpus = _dup_corpus(spark, sf_dir)
    clusters = near_dup_clusters(
        ngram_jaccard_pairs(corpus, n=3, threshold=0.5, max_df=20)
    )
    n_words = corpus.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).cast("int").alias("n_words"),
    )
    ranked = clusters.join(n_words, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(F.desc("n_words"), F.asc("doc_id"))
        ),
    )
    keepers = ranked.filter(F.col("rn") == 1).select(
        "cluster_id", F.col("doc_id").alias("keep_doc_id")
    )
    return ranked.join(keepers, "cluster_id").select(
        "doc_id", "cluster_id", "n_words", "keep_doc_id",
        (F.col("rn") == 1).alias("kept"),
    )


def q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup pairs, hash-verified: ``hash_fn='java32'`` (the
    Java String.hashCode fold) is bit-replicable in DuckDB, so signatures,
    band buckets and estimated Jaccard all match exactly. The xxhash64
    variant is the throughput default and is recall-tested in pytest."""
    from .datapipe.dedup import minhash_dedup

    return minhash_dedup(_dup_corpus(spark, sf_dir), num_hashes=64, bands=16,
                         threshold=0.5, hash_fn="java32")


def _sql_dedup_minhash(num_hashes: int = 64, bands: int = 16, shingle_n: int = 3,
                       threshold: float = 0.5) -> str:
    from .datapipe.dedup import MERSENNE_PRIME, minhash_coeffs

    coeffs = minhash_coeffs(num_hashes)
    p = MERSENNE_PRIME
    mins = ",\n    ".join(
        f"MIN(({a} * hv + {b}) % {p}) AS mh_{i}" for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_hashes // bands
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {i} AS band, concat_ws(',', {cols}) AS bucket FROM sig".format(
            i=i, cols=", ".join(f"mh_{j}" for j in range(i * rpb, (i + 1) * rpb))
        )
        for i in range(bands)
    )
    agree = " + ".join(f"(CASE WHEN s1.mh_{i} = s2.mh_{i} THEN 1 ELSE 0 END)" for i in range(num_hashes))
    return f"""
WITH {SQL_DUP_CORPUS},
w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM corpus),
sh AS (
  SELECT doc_id, unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + {shingle_n}), ' ')
           for i in range(0, greatest(len(words) - {shingle_n}, 0) + 1)])) AS shingle
  FROM w),
h AS (SELECT doc_id, {_sql_java_u32('shingle')} % {p} AS hv FROM sh),
sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
bands AS (
  {band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b USING (band, bucket) WHERE a.doc_id < b.doc_id
)
SELECT id1, id2, ({agree}) / {num_hashes}.0 AS est_jaccard
FROM cands JOIN sig s1 ON s1.doc_id = id1 JOIN sig s2 ON s2.doc_id = id2
WHERE ({agree}) / {num_hashes}.0 >= {threshold}
"""


SQL_DEDUP_MINHASH = _sql_dedup_minhash()


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-pairs, hash-verified via the java32 two-fold 64-bit
    composite (xxhash64 variant recall-tested in pytest)."""
    from .datapipe.dedup import simhash_near_pairs

    df = simhash_near_pairs(_dup_corpus(spark, sf_dir), max_hamming=3, hash_fn="java32")
    return df.select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))


def _sql_dedup_simhash(max_hamming: int = 3) -> str:
    bitsums = ",\n    ".join(
        "SUM(CASE WHEN (({h} >> {s}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}".format(
            h="h_lo" if i < 32 else "h_hi", s=i % 32, i=i
        )
        for i in range(64)
    )
    val_terms = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(63))
    val = f"{val_terms} + (CASE WHEN b63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"
    chunk_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {i} AS chunk_idx, (simhash >> {16 * i}) & 65535 AS chunk, simhash FROM sim"
        for i in range(4)
    )
    return f"""
WITH {SQL_DUP_CORPUS},
w AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word FROM corpus
),
h AS (
  SELECT doc_id, {_sql_java_u32('word')} AS h_lo, {_sql_java_u32("'s#' || word")} AS h_hi FROM w
),
bits AS (
  SELECT doc_id,
    {bitsums}
  FROM h GROUP BY doc_id
),
sim AS (SELECT doc_id, {val} AS simhash FROM bits),
chunks AS (
  {chunk_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.simhash AS h1, b.simhash AS h2
  FROM chunks a JOIN chunks b USING (chunk_idx, chunk) WHERE a.doc_id < b.doc_id
)
SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
FROM cands WHERE bit_count(xor(h1, h2)) <= {max_hamming}
"""


SQL_DEDUP_SIMHASH = _sql_dedup_simhash()


def q_dedup_embedding(spark, sf_dir):
    from .datapipe.dedup import embedding_near_dups

    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    return embedding_near_dups(corpus, threshold=0.95).select("id1", "id2")


SQL_DEDUP_EMBEDDING = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
)
SELECT a.vec_id AS id1, b.vec_id AS id2
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
"""


def _sql_hyperplane_bucket(vec_expr: str, n_planes: int, seed: int, dim: int = 64) -> str:
    """DuckDB replica of similarity.hyperplane_buckets: same seeded planes
    (full-precision repr literals round-trip to identical doubles), bucket =
    sign-bit integer. Sign parity with the numpy GEMM verified empirically
    (0/500 mismatches; a flip needs |dot| within ~1e-13 of zero)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((dim, n_planes))
    terms = []
    for pl in range(n_planes):
        lits = ",".join(repr(float(planes[d, pl])) for d in range(dim))
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({vec_expr} AS DOUBLE[]), [{lits}]) > 0 "
            f"THEN {1 << pl} ELSE 0 END)"
        )
    return " + ".join(terms)


def q_dedup_embedding_lsh(spark, sf_dir):
    """The scale path for embedding dedup: hyperplane-bucket candidates
    (2 tables), exact cosine within candidates — no O(n^2) stage."""
    from .datapipe.dedup import embedding_near_dups_lsh

    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    return embedding_near_dups_lsh(
        corpus, threshold=0.95, dim=64, n_planes=8, n_tables=2, seed=7
    ).select("id1", "id2")


def _sql_dedup_embedding_lsh(threshold: float = 0.95, n_planes: int = 8,
                             n_tables: int = 2, seed: int = 7) -> str:
    table_joins = "\n  UNION\n  ".join(
        f"SELECT a.vec_id AS id1, b.vec_id AS id2 FROM b{t} a JOIN b{t} b USING (bucket) "
        f"WHERE a.vec_id < b.vec_id"
        for t in range(n_tables)
    )
    bucket_ctes = ",\n".join(
        f"b{t} AS (SELECT vec_id, {_sql_hyperplane_bucket('embedding', n_planes, seed + t)} AS bucket FROM corpus)"
        for t in range(n_tables)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
),
{bucket_ctes},
cands AS (
  {table_joins}
)
SELECT c.id1, c.id2
FROM cands c
JOIN corpus e1 ON e1.vec_id = c.id1
JOIN corpus e2 ON e2.vec_id = c.id2
WHERE list_cosine_similarity(e1.embedding, e2.embedding) >= {threshold}
"""


SQL_DEDUP_EMBEDDING_LSH = _sql_dedup_embedding_lsh()


def q_file_health(spark, sf_dir):
    """Per-dump-file health report (aggregates.file_health); the oracle
    recomputes the counts and gaps from the text CTEs."""
    from .operators.aggregates import file_health

    return file_health(load_parsed_raw(spark, sf_dir), load_parsed(spark, sf_dir))


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


def q_batches_per_epoch_salted(spark, sf_dir):
    """A9 via explicit two-phase salting (north rule's skew handling) —
    identical result to the direct aggregate, same oracle SQL."""
    from .operators.skew import salted_batches_per_epoch

    return salted_batches_per_epoch(load_parsed_raw(spark, sf_dir), salt_buckets=16)


# --- round-4 training-pipeline extensions: packing / contamination / repetition


def q_corpus_pack(spark, sf_dir):
    """Token-budget sequence packing over the tokenized table (the trainer
    batch-construction step): per-pack rollup with exact fill ratios. Packs
    are prefix-sum assignments within the input shard (file) — no global
    sort, shard-independent at 10^12 sequences."""
    from .tokens import pack_stats

    fx = klog_fixture(sf_dir)
    seq = spark.read.parquet(f"{fx}/sequences.parquet")
    return pack_stats(seq, budget=4096)


SQL_CORPUS_PACK = f"""
WITH s AS (
  SELECT regexp_extract(doc_id, '^(.*):([0-9]+)$', 1) AS file,
         TRY_CAST(regexp_extract(doc_id, '^(.*):([0-9]+)$', 2) AS INT) AS line_no,
         length(line) AS n_tok
  FROM read_parquet('{FX}/sequences_text.parquet')
),
p AS (
  SELECT file, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY file ORDER BY line_no
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
  FROM s
)
SELECT file, CAST(FLOOR(prior / 4096) AS BIGINT) AS pack_id,
       COUNT(*) AS n_seqs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
       CAST(CAST(SUM(n_tok) AS BIGINT) AS DOUBLE) / 4096.0 AS fill_ratio
FROM p GROUP BY file, pack_id
"""


def q_contamination_check(spark, sf_dir):
    """Train->test contamination scan over the dup corpus: test docs sharing
    >= 3 distinct 5-gram shingles with any train doc. Exact copies are
    split-safe by construction (leakage_safe_split keys on content digest);
    what this surfaces is near-copies crossing the split boundary."""
    from .datapipe.dedup import contamination_report, leakage_safe_split

    corpus = _dup_corpus(spark, sf_dir)
    split = leakage_safe_split(corpus, train_pct=80)
    return contamination_report(corpus, split, n=5, min_common=3, max_df=50)


SQL_CONTAMINATION_CHECK = f"""
WITH {SQL_DUP_CORPUS},
spl AS (
  SELECT doc_id,
         CASE WHEN {_sql_java_u32('sha256(text)')} % 100 < 80 THEN 'train' ELSE 'test' END AS split
  FROM corpus
),
w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM corpus
),
sh0 AS (
  SELECT doc_id, unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 5), ' ')
           for i in range(0, greatest(len(words) - 5, 0) + 1)
         ])) AS shingle
  FROM w
),
shj AS (SELECT sh0.doc_id, sh0.shingle, spl.split FROM sh0 JOIN spl USING (doc_id)),
capped AS (
  SELECT * FROM shj
  WHERE shingle IN (SELECT shingle FROM shj GROUP BY shingle HAVING COUNT(*) <= 50)
),
hits AS (
  SELECT t.doc_id AS test_doc, t.shingle, tr.doc_id AS train_doc
  FROM capped t JOIN capped tr USING (shingle)
  WHERE t.split = 'test' AND tr.split = 'train'
)
SELECT test_doc, COUNT(DISTINCT shingle) AS n_shared_shingles,
       COUNT(DISTINCT train_doc) AS n_train_docs
FROM hits GROUP BY test_doc HAVING COUNT(DISTINCT shingle) >= 3
"""


def q_contamination_removal(spark, sf_dir):
    """Contamination REMOVAL (dedup.decontaminate — VERDICT r6 next #5):
    the step after the scan — for EVERY train-split document of the dup
    corpus, count the distinct 5-gram shingles it shares with the test
    side and drop it at >= 3 (same max_df=50 hot-shingle cap as the scan).
    The gate hashes the full keep/drop decision table
    (doc_id, n_test_shingles, n_test_docs, kept) — the decontaminated
    corpus is the kept filter. The oracle recomputes the shingle join from
    scratch, aggregated on the train side."""
    from .datapipe.dedup import decontaminate, leakage_safe_split

    corpus = _dup_corpus(spark, sf_dir)
    split = leakage_safe_split(corpus, train_pct=80)
    return decontaminate(corpus, split, n=5, min_common=3, max_df=50)


SQL_CONTAMINATION_REMOVAL = _sql_must_replace(
    SQL_CONTAMINATION_CHECK,
    """SELECT test_doc, COUNT(DISTINCT shingle) AS n_shared_shingles,
       COUNT(DISTINCT train_doc) AS n_train_docs
FROM hits GROUP BY test_doc HAVING COUNT(DISTINCT shingle) >= 3
""",
    """, flagged AS (
  SELECT train_doc, COUNT(DISTINCT shingle) AS n_test_shingles,
         COUNT(DISTINCT test_doc) AS n_test_docs
  FROM hits GROUP BY train_doc
)
SELECT s.doc_id,
       CAST(COALESCE(f.n_test_shingles, 0) AS BIGINT) AS n_test_shingles,
       CAST(COALESCE(f.n_test_docs, 0) AS BIGINT) AS n_test_docs,
       COALESCE(f.n_test_shingles, 0) < 3 AS kept
FROM spl s LEFT JOIN flagged f ON s.doc_id = f.train_doc
WHERE s.split = 'train'
""",
)


def q_group_offsets_read_committed(spark, sf_dir):
    """READ_COMMITTED compaction of __consumer_offsets: transactional offset
    commits (sendOffsetsToTransaction) are visible only when the nearest
    following control marker from the same (producer, epoch) is COMMIT —
    aborted and still-open transactions hide theirs. Beyond the reference
    surface (Segment.java:28 TODO) and beyond round 3's read_uncommitted
    view."""
    from .operators.group_offsets import read_committed_group_offsets

    return read_committed_group_offsets(load_parsed(spark, sf_dir))


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


def q_dedup_incremental(spark, sf_dir):
    """Append-only ingestion check: the planted duplicate batch (ids >=
    1,000,000 in the dup corpus) screened against the base documents table —
    exact copies are flagged with their canonical corpus id, near-copies
    (' zq' suffix) pass through."""
    from .datapipe.dedup import incremental_exact_dups

    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    incoming = _dup_corpus(spark, sf_dir).filter(F.col("doc_id") >= 1000000)
    return incremental_exact_dups(incoming, corpus)


SQL_DEDUP_INCREMENTAL = f"""
WITH {SQL_DUP_CORPUS},
idx AS (
  SELECT sha256(text) AS digest, MIN(doc_id) AS dup_of FROM documents GROUP BY 1
),
inc AS (
  SELECT doc_id, sha256(text) AS digest FROM corpus WHERE doc_id >= 1000000
)
SELECT inc.doc_id, idx.dup_of FROM inc JOIN idx USING (digest)
"""


def q_group_offset_rewinds(spark, sf_dir):
    """Committed-offset regression (rewind) detection per consumer
    group-partition — the reset-to-earliest / zombie-member incident
    signal; tombstones legitimately reset the chain."""
    from .operators.group_offsets import offset_rewinds

    return offset_rewinds(load_parsed(spark, sf_dir))


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


def q_batch_state_asof(spark, sf_dir):
    """AS-OF join (operators/asof.py): every data batch annotated with the
    producer-snapshot state that was current AT ITS CreateTime — the
    'what did the broker think this producer's state was when this batch
    was written' post-mortem view. Right side deduped to one row per
    (producer, instant) by newest (file, line_no) so tie resolution is
    deterministic on both engines."""
    from .operators.asof import asof_join

    parsed = load_parsed(spark, sf_dir)
    b = parsed.filter(
        (F.col("record_class") == "batch") & (F.col("segment_type") == "data")
        & (F.col("producer_id") != -1)
    ).select("doc_id", "producer_id", F.col("create_time_ms").alias("ts_ms"))
    s = (
        parsed.filter(F.col("record_class") == "producer_state")
        .groupBy("producer_id", F.col("last_timestamp_ms").alias("ts_ms"))
        .agg(
            F.max_by(
                F.struct(F.col("last_offset"), F.col("coordinator_epoch")),
                F.struct(F.col("file"), F.col("line_no")),
            ).alias("x")
        )
        .select(
            "producer_id", "ts_ms",
            F.col("x.last_offset").alias("snap_last_offset"),
            F.col("x.coordinator_epoch").alias("snap_coordinator_epoch"),
        )
    )
    return asof_join(
        b, s, on="ts_ms", by=["producer_id"],
        right_cols=["snap_last_offset", "snap_coordinator_epoch"],
    )


SQL_BATCH_STATE_ASOF = f"""
WITH {klog_base_cte()},
b AS (
  SELECT doc_id, producer_id, create_time_ms AS ts_ms
  FROM batches WHERE segment_type = 'data' AND producer_id <> -1
),
s AS (
  SELECT producer_id, ts_ms, snap_last_offset, snap_coordinator_epoch FROM (
    SELECT producer_id, last_timestamp_ms AS ts_ms,
           last_offset AS snap_last_offset, coordinator_epoch AS snap_coordinator_epoch,
           ROW_NUMBER() OVER (PARTITION BY producer_id, last_timestamp_ms
                              ORDER BY file DESC, line_no DESC) AS rn
    FROM snapshots) WHERE rn = 1
),
u AS (
  SELECT producer_id, ts_ms, 1 AS tag, doc_id,
         CAST(NULL AS STRUCT(o BIGINT, e INT)) AS pay
  FROM b
  UNION ALL
  SELECT producer_id, ts_ms, 0 AS tag, NULL AS doc_id,
         struct_pack(o := snap_last_offset, e := snap_coordinator_epoch) AS pay
  FROM s
),
c AS (
  SELECT *, LAST_VALUE(CASE WHEN tag = 0 THEN pay END IGNORE NULLS) OVER (
      PARTITION BY producer_id ORDER BY ts_ms ASC, tag ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
  FROM u
)
SELECT doc_id, producer_id, ts_ms,
       carried.o AS snap_last_offset, carried.e AS snap_coordinator_epoch
FROM c WHERE tag = 1
"""


def q_semdedup_first_n(spark, sf_dir):
    """SemDeDup on the engine-replicable first_n quantizer (the original
    r6 gate path, kept as the oracle-trivial variant): the
    planted-duplicate embedding corpus (exact copies at vec_id+100000 for
    every 20th vector) clustered by the first-16 IVF quantizer, cosine
    compared ONLY within cells, every vector with a same-cell smaller-id
    neighbor at >= 0.95 dropped with its canonical id."""
    from .datapipe.dedup import semdedup_embedding

    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    return semdedup_embedding(corpus, threshold=0.95, n_centroids=16)


SQL_SEMDEDUP_CORPUS = """corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
)"""


def _sql_semdedup(cent_cte: str) -> str:
    """The shared SemDeDup oracle body: cell assignment by argmin L2 to the
    given centroid CTE, intra-cell cosine >= 0.95 prune, min-id canonical."""
    return f"""
WITH {SQL_SEMDEDUP_CORPUS},
{cent_cte},
scored_cells AS (
  SELECT e.vec_id, c.cell,
         list_distance(CAST(e.embedding AS DOUBLE[]), c.cvec) AS d
  FROM corpus e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM scored_cells
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM assign a JOIN assign b USING (cell)
  WHERE a.vec_id < b.vec_id
),
sim AS (
  SELECT p.id1, p.id2 FROM pairs p
  JOIN corpus e1 ON e1.vec_id = p.id1
  JOIN corpus e2 ON e2.vec_id = p.id2
  WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                               CAST(e2.embedding AS DOUBLE[])) >= 0.95
),
dup AS (SELECT id2 AS vec_id, MIN(id1) AS dup_of FROM sim GROUP BY id2)
SELECT c.vec_id, d.dup_of, d.dup_of IS NULL AS kept
FROM corpus c LEFT JOIN dup d USING (vec_id)
"""


SQL_SEMDEDUP_FIRST_N = _sql_semdedup("""cent AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
  FROM corpus ORDER BY vec_id LIMIT 16
)""")


# The TRAINED (kmeans) coarse quantizer, pinned from an offline fit on the
# gate corpus (tools/pin_centroids.py: 525 vectors = sf0.01 embeddings +
# planted dups, k=16, 10 Lloyd iterations, kmeans++ seed 7 — VERDICT r6
# next #3, the SCORED_FILTER_WEIGHTS train-once pattern). The pin-parity
# pytest re-runs similarity.kmeans_centroids on the same sample and asserts
# these exact floats, so the literals cannot drift from the live trainer;
# repr round-trips bit-exact into both Spark lit() and DuckDB DOUBLE.
SEMDEDUP_CENTROIDS = [
    [-0.06614301590299285, -0.003971142908306541, 0.060608259056115873, 0.008760923500852408, -0.006785542376943537, -0.08005844263007512, 0.015312007244525326, -0.031285665432192585, 0.003682738938526175, -0.027528088590180553, 0.05966565281630972, -0.034225396459569804, 0.017296118739633694, -0.05229390160899572, -0.048180579402911906, -0.003793248032043512, 0.0457434792675682, -0.012839850768245556, -0.0064910585076447475, -0.0048256864569879866, -0.05307012845485194, -0.037261913672114746, -0.047015235985855795, -0.06407883986704857, -0.029578377190675284, -0.00982121263655859, -0.004248872927918627, 0.01166110741276596, 0.046713240350269386, -0.02889089082443231, -0.026987676747848053, -0.03571017792234449, -0.0010554287267999876, 0.015749275541197306, -0.026798113878514315, -0.01471289011297395, -0.03324183536617941, -0.038516174586540136, -0.013725186837365146, -0.003739878053877603, 0.06461054356918179, -0.03345026743497599, 0.021937338680161064, 0.01620554113508882, -0.10756201619861296, 0.03473199657919641, -0.062269218556261996, 0.018459651549976017, -0.0559620300710604, 0.04954039355790293, 0.02508565892050093, 0.06191520045536596, -0.0054007039304722, 0.049161333376793445, 0.08290103099283737, 0.013112904599905518, 0.05274858763693152, 0.05621875349331547, -0.04695195466833743, -0.0813184293581651, 0.005258352772609607, 0.017183848618957644, 0.0029247778946080724, 0.01350687031407614],
    [0.04167888073190566, -0.001354754827315769, 0.010236171464766226, -0.03890939017066792, -0.0370802896758241, 0.034684848971664906, -0.09554821359474332, -0.014965121424005877, 0.002302809787403432, -0.04335617745715764, 0.041338392563404575, -0.035103149237036106, -0.048345195084449746, -0.06701147761721644, 0.012486420691974701, 0.0048657272136845295, 0.029686516098257516, 0.027944524832550558, 0.053806227316418966, 0.03613552876988486, -0.07008691560176591, -0.0063318389828407, -0.034841639425365195, 0.03655290065874015, -0.0034657712559208213, -0.036352681536828316, -0.00877871495791741, 0.030431380376197217, 0.009682840138163057, -0.06369542336511996, 0.033509317229712204, 0.02818613580518192, 0.021782651213147947, -0.01811896904461807, 0.0875224799758965, -0.053532906522553776, -0.059133550122139916, 0.045494563832518556, -0.024261271055307117, 0.03576599563201589, -0.0944048932963802, 0.07422520805642219, -0.030559571820401376, -0.027964689874000127, 0.016193495207135717, 0.029466419277953043, -0.03471144152084185, 0.07536570391347332, 0.0016145283626692911, 0.02898502433972974, 0.003172906656419077, -0.07191937865929739, 0.08405657992848466, -0.08008299661319583, 0.01654270861387974, -0.09006781219654987, 0.01763536131400014, 0.02297812103924732, 0.05659613477426671, 0.0023824570685504905, -0.10794000962989465, -0.02599906820368262, 0.02545370529555986, -0.015195711838802504],
    [-0.001157084603619296, -0.018983289424795657, -0.017841372326074634, -0.01205556682543829, 0.02622038873960264, 0.06684084575317684, -0.06334318890003487, 0.006287381474976428, 0.03166503575266688, 0.011659674932161579, -0.0219078127265675, 0.05564172379672527, 0.02825362943985965, -0.08471003164959257, 0.03509430764825083, 0.025964977976400405, -0.07357493531890213, -0.07266810440341942, -0.021443131277919747, -0.037081594807204965, 0.004417544827447273, 0.05610370523936581, -0.03423937671686872, -0.06601874029729515, -0.0004047927795909345, 0.068652359303087, 0.03993256139801815, -0.0485239290719619, -0.014542940763931256, -0.07455040825880133, 0.05115016858326271, -0.008807861981040332, 0.03292774930014275, -0.005268639943096787, 0.009340986231109127, -0.02385234661778668, -0.032439448426885065, -0.03190446127518953, 0.09123442493728362, -0.0830364362373075, -0.025005392963066697, -0.05089783318908303, 0.06174955429014517, 0.02660258352261735, 0.06623772750026546, 0.04666686635755468, 0.022990568744717166, 0.06921332587080542, -0.04902347913593985, -0.035758474994509015, -0.041635055211372674, 0.05508312497204315, -0.01196924735995708, -0.0046567731915274635, -0.03591221112583298, 0.02615965876611881, 0.01363056433501697, -0.01882888044201536, 0.02864045201022236, -0.03878836482181214, -0.04124348244477005, -0.007355029272730462, -0.007567974025732838, -0.0556733921112027],
    [0.035105499852862626, -0.018029378821935366, -0.07991894556174951, 0.02846089704016103, -0.0025775096620674486, -0.028357808512670023, 0.025539729382014938, -0.0701983147645714, -0.07323238646818532, -0.13145401621996253, -0.02335200696769688, -0.039624499208811254, -0.010378690505469287, 0.09176307782116863, -0.018137541168403847, -0.02528268119527234, 0.023716245773593308, 0.03272758232843545, -0.0042782579721124085, 0.01313051357175465, -0.002359372080752143, 0.0515494237964352, -0.010152139700949192, 0.02717265522935324, -0.02616292224438102, -0.014829368759550291, -0.0618575940132831, -0.03272177727410087, 0.021083784945033216, -0.03842785288752229, -0.0016171327550654059, -0.04411791540095927, -0.11019349422443796, -0.040089363534072484, 0.025459953514790093, 0.017995548848476674, 0.06324101066975682, -0.002801561314198706, -0.03814178622431225, 0.02825371444190818, 0.0848360737544243, -0.04803546021382014, -0.04076479167539488, -0.09179930043993173, 0.07629757222753984, 0.013870480228905325, 0.030532824643025244, 0.04801893918947489, 0.029891141017691955, 0.0019880873668524954, -0.07803978501922554, -0.07619920122885594, 0.05923970194136793, -0.05853136438397794, -0.01822022414179864, -0.0032678589233438725, 0.04683464389570333, -0.011544212422989033, -0.009541482647398004, -0.014136954184828533, -0.019801438958556565, 0.040310183031208535, 0.0434720731443829, -0.0216355682178228],
    [-0.048418968146304704, 0.0070244382239050334, -0.049769523970705144, 0.02121070596492953, 0.048087602093194924, 0.04730218811891973, -0.06573545446412431, 0.004123637219890952, -0.03009375552937854, 0.0009455465252459464, 0.04741573124192655, 0.06236462507189976, -0.01899114762717444, 0.054624693054291934, -0.0082289708726522, -0.04938958029055761, -0.02086477717320021, -0.052526995074003935, -0.04642092871816001, -0.01044017690906508, -0.04609755248141786, 0.020027609380324267, 0.0035769371962588695, 0.087412061968482, 0.018340943158060934, 0.05314937398038132, -0.012047756987158209, -0.010783676387897382, 0.005538306732584412, 0.011592499113046668, 0.009877701878495928, -0.037130660894844264, 0.020734992913073964, -0.05974934894281129, -0.005697765698035558, -0.0029976498594300616, 0.006045758892368112, 0.04339544394881361, -0.04552462367185702, 0.06609280316358006, -0.008816984697962956, 0.013042128140417239, 0.052295382496797375, 0.012272654036577377, -0.055613422869808145, -0.029752918690468907, 0.03097480359590716, -0.05519315160603987, 0.015375979938350307, 0.05388239685756465, 0.06726945469078298, -0.012809451695324646, 0.019751587365236547, 0.01454392296080995, -0.1047524640776424, -0.05481457611959842, 0.005966347402944747, -0.06353898836661959, -0.012817973956569202, 0.03527483719194101, 0.03825953139716552, 0.046657254065697394, 0.020693008555099368, -0.004408307800379892],
    [0.06747461654401074, -0.024512182082980873, 0.044508466698850196, -0.01614923793822527, 0.031702430942095815, 0.04450270359714826, -0.05533268725218174, 0.03833631062492107, -0.0004085967472443978, -0.00993199615428845, 0.01914462142934402, -0.04243203005365406, -0.014342102602434655, 0.022506559550917397, -0.03582396401713292, 0.07494660438969732, 0.0324771855242337, -0.061539678120364746, -0.0923874548325936, -0.01064923731610179, -0.0012848693314784518, 0.011915091564878822, 0.07083735167980194, 0.041743697396789986, -0.019469660796069852, -0.02079047802835703, -0.05479003627745745, 0.03369558691047132, -0.016915470994232844, -0.01613859151645253, 0.09647491661210855, -0.06752313785254956, 0.015001869869108002, 0.04875358259305358, -0.005382316109413902, -0.019264116138219833, -0.06310162309091538, 0.0053926732391119, 0.06480187561440592, -0.009043904890616735, -0.053580852303033076, -0.022502950641016164, 0.0021869205016021927, 0.03541313598010068, -0.06061968374997377, 0.02204341891532143, 0.021564683710069706, 0.0025617024900081256, 0.09097516558443507, -0.039641918738683064, 0.052100242984791593, -0.02944967590350037, 0.026317699331169328, 0.0549005222817262, 0.01246362595508496, -0.058440819925939046, -0.03092390191741288, 0.011441612825728953, -0.026734074857085944, -0.009729229175233438, -0.03155487968275945, -0.04286704307887703, 0.018263093754649164, 0.0934525774170955],
    [0.06731114877191813, 0.03619053863037966, 0.016901807969828184, 0.03201600378624311, 0.025007500386747875, -0.014457087262264011, -0.017469341633841395, 0.005607132135130661, -0.0499211299404698, -0.09300784799760502, 0.0275840914170993, -0.009903089498708906, -0.04841691425903455, 0.011410391348794005, 0.02679739372902795, 0.09918782088023267, -0.0070699720557681036, 0.047802749194057755, -0.021594191141622632, -0.0557843033763531, 0.054597133485673875, 0.025573908596446638, 0.040879382886678764, -0.02032062799767836, 0.004968293588669775, -0.07242778951522748, -0.023055572945036386, -0.017211703099555484, 0.018811167374032697, 0.04397560886450504, 0.003643183613588151, -0.005712073492376428, -0.013299669457697555, 0.010878850807019166, 0.009561274078135428, -0.013477243165987985, -0.027648962029304943, 0.06278458498510238, 0.038228921334896436, -0.019233813313277143, 0.008906459619634245, -0.02957216815067161, 0.04554307213861888, -0.02459870068062293, -0.008501218582128595, 0.05255432578116214, -0.02416983462477985, 0.02210117910841578, 0.05498797195430502, -0.05149302005424703, 0.06417804552046091, 0.011617439860281976, -0.05971780185293602, -0.051707668928429484, 0.06580740878186923, 0.034388465047078695, -0.018704406635247563, -0.009869623445219508, -0.05706212876592824, 0.06343855749276515, 0.03677447219869416, 0.028975894478590863, 0.017062350237545997, 0.013518955950674257],
    [-0.018916967872749355, -0.012063298549037427, -0.005685715881340644, 0.02052276298020254, 0.04109501209356548, -0.0009554200531805263, 0.027897289447376832, 0.01267376302755164, -0.03706470212680014, 0.09883169731234803, 0.009432210638324785, -0.0262021929888493, 0.05251674548558453, -0.026134111795245725, 0.006502757040674195, -0.024630521999343354, 0.031085088201935458, 0.023066399290281182, 0.024474089170860892, 0.022705691503634787, 0.04643510984640349, -0.024336963933070794, -0.03946047277285663, 0.05587308099219466, -0.034111915402771795, -0.0022386008024434835, 0.03140685179780977, -0.0037993658197057597, 0.007565223461236148, 0.0710111263427226, 0.018730243055067736, 0.020098948495133835, 0.07411965037531712, 0.016767271065071004, -0.022182902334915364, -0.04197724472375258, -0.004848590641118148, -0.030611602485752135, 0.03584561255689443, -0.047158643305438626, 0.017930730246007442, -0.013157373020315872, -0.11791519824798931, -0.04163784233113641, -0.014258634600350085, -0.02267433749511838, -0.03040502084802617, 0.007800349061760832, 0.0253819473539753, -0.08070881878409315, 0.02348053438917679, -0.031238274936399916, 0.03508527398876408, -0.05814481801901232, -0.06950458906152669, -0.001768444404553841, 0.0028746908304610234, 0.03730149453793488, 0.0508643548716517, -0.01006861891844036, -0.00631369261399788, 0.06675524569650673, -0.06356321811172701, -0.08349914514624021],
    [0.06066978438620401, 0.0252701157484861, 0.06703369642662652, -0.012255514828104745, 0.012043634552837294, 0.0035118468436207075, -0.058481884250581706, 0.02097698298337705, 0.018884956370611154, -0.017029895501978257, -0.05646767902790623, 0.04515219599638572, -0.029751803575302747, -0.010377718450720696, -0.032476889913703094, 0.006689297747524346, -0.02002076120526694, -0.02535766677122892, 0.027216711560921633, 0.0007328557617524091, -0.094230996162343, 0.026254815898616526, 0.040415085496052224, 0.05165019606733147, 0.0437960256702568, 0.05659161954570342, 0.07552286486744005, -0.019858087967697752, 0.075069992830429, 0.05999032147776555, 0.048943992512410175, 0.07540910421213244, -0.06425958148696843, -0.048564219628186786, 0.0016145586525774835, -0.04140086564481916, -0.025082978926708594, 0.02705081450917265, -0.057346784413846975, -0.0005828503601472167, -0.01711661838549737, -0.021910310613320154, -0.03371404333259253, 0.03445387952824069, 0.008458378825761267, 0.01518575068535831, 0.031284522371339225, -0.008198630831697407, -0.11670130937743713, -0.019263203837908804, 0.01428192128043841, 0.020028605735312927, 0.007928668822654906, -0.008727544699521625, -0.02657635175787351, 0.08811233278966564, 0.0017978995216681676, 0.03202966465494897, -0.10560742389712044, -0.018204452332985753, 0.02848411167917006, -0.013219700099023826, 0.006053020438069806, -0.018681919599390206],
    [-0.03769679995322669, 0.015522784130923726, 0.02642267328445558, -0.08054257748234603, 0.0009713227757149272, -0.009335294633206946, 0.007846332036596895, -0.011230216534049422, 0.06597853479561983, -0.05684679019678798, -0.022404053627892776, 0.008032258668983425, 0.011532478379430595, 0.017573764340745077, 0.011603460164257774, 0.02464025461597851, -0.03941387690051838, 0.1663605538045953, -0.02523547627411231, 0.03606267444168528, -0.008423558677788134, 0.0341914112213999, -0.016427269246411958, -0.03238730360236433, -0.023638958809897304, 0.00017423331047649736, -0.029888820317056444, 0.003364224487018806, -0.024297606406940356, 0.059322558535280186, -0.05109662766982284, 0.029624262617694005, 0.04855070754678713, -0.003138066894650735, -0.07384143979288638, 0.06574458856549528, -0.033533645034940156, 0.0005377214401960373, -0.03219980506778315, 0.07215720676362657, -0.012240913524119943, -0.08351253490481111, 0.033816371078568476, 0.03147505341028726, 0.05629159160027349, 0.043302040991235385, 0.03126548378969784, -0.019673009213336087, -0.00683409260171983, -0.053673240942535574, 0.012771523937031074, 0.02821486518735549, 0.047492034181400584, -0.01792937534412852, 0.01666319991151492, 0.008426521085547629, -0.025406231896744833, -0.03720754056229015, 0.008445940463355294, -0.08773323947011873, -0.01622192535756363, -0.05971700768848812, -0.02481139696168679, 0.01694224262610078],
    [-0.03497397861279109, 0.0027644027106683046, 0.05940518178206677, 0.016440046074635842, -0.03266087840037311, -0.04273823343956953, 0.042237491894732505, 0.03779665199587779, -0.03827023821170716, 0.08795436135123429, -0.034611801630543435, 0.03694558654473547, -0.025277189992587355, -0.00021771025186514154, 0.060453746248694026, 0.03112857654581175, -0.02205838602522443, -0.04268966542611666, 0.013802083472803454, 0.034793517744059074, 0.05815139611470787, -0.03703034542302382, -0.03680562943576232, -0.0010332588982932707, 0.04180111377226079, 0.06360060335410868, -0.02943194460342912, 0.03353247116319835, 0.007825982763760668, 0.010179656372843859, 0.028296620543936595, -0.0046691287202787965, 0.05108886322020279, 0.04796110940001467, 0.0363846558440641, -0.001125816974843688, 0.03776819773210103, -0.06736622766509433, -0.12599587332292952, -0.014255624154911321, 0.08726034286048483, 0.004534144303761423, 0.045690322705708886, 0.02697327484330505, -0.03831860477871755, -0.054777543252224434, 0.0015344487996224094, -0.0062535580124377325, -0.020037112918490654, 0.007458694169626516, 0.029105759143610212, 0.06616864933996969, 0.025590626776273197, -0.01932397562161307, 0.02271522825364681, -0.012022546369253713, 0.027402073391439283, 0.007937357849989305, -0.0033099213863298405, 0.09216780037454822, -0.03523840744267492, -0.061536256094233764, -0.028603919449618414, -0.04084740031976253],
    [-0.07837792351472608, 0.02874253060797165, -0.0576799903024823, -0.06467656516630588, -0.06259438414768927, 0.10146491571554336, 0.03688350441897738, 0.03239631440875859, -0.014277484958413345, -0.06698283800004243, -0.03740067317568023, 0.00434096122224783, 0.0032105541924528523, -0.008338265741195786, -0.040511319510124884, -0.013461338131335276, 0.01212234075727134, -0.07284872145552573, 0.032209328821346424, 0.03546723472917902, 0.06654915046589129, 0.008710046282744613, 0.06163742955260236, 0.0017622504543898434, 0.09845726929629094, 0.061455682819259574, 0.018291158762214512, 0.03585115918118892, -0.009674393780657957, -0.03259030417218033, -0.02601129739898546, 0.09111083517300672, -0.02336827833993272, -0.05488141084989083, -0.011438549385839623, 0.10119261618318229, 0.05093600371338684, 0.0062348419109937445, 0.055922027749555375, -0.059161864710843254, -0.04193436786741147, 0.05533979195651823, -0.011901142946514702, 0.006344358051388428, -0.11118922414707727, 0.060991728999491394, 0.021674621496991866, -0.08731556846559498, 0.00998552371587219, -0.011469818972821894, -0.04986282585766809, 0.0020878212205294906, -0.029535460719389135, 0.022937204231154817, 0.011307535765307217, -0.03750864745535214, 0.06379999690849719, -0.018197812139987946, -0.03004707468288212, -0.008984461523078639, -0.021802098265495794, -0.02132257459492519, 0.01863221986347745, -0.035945844635817],
    [0.03339898662285551, -0.011751435717622586, 0.015084665460402475, -0.04722797578912886, 0.06016790263546521, 0.06972834728795159, -0.02748057898133993, -0.012488903340828769, -0.0015381186762276817, -0.003781368589603945, -0.0048579839469097994, -0.002561419435283717, 0.040718839134034866, 0.058313122765599364, -0.0035915051874540306, -0.013391770340283127, 0.014334120048100458, 0.04733938261565259, -0.01338786433231743, 0.02028362165369532, 0.049187159124652255, -0.052793219137717694, -0.024063070277299953, -0.09442316897569553, -0.031866489033050394, 0.06897193620748379, 0.08940680299693828, 0.08522236040409874, -0.011440473184099091, 0.0949705835459206, 0.002605334307779284, -0.07662521872097226, 0.020728716078926537, 0.04478164102115175, 0.052454526649158006, -0.032265066764974856, -0.018199052771224696, 0.0276013065389741, 0.06360985374982085, -0.0014541554196244653, -0.032853178248521596, -0.04179449655844912, 0.015822581029223168, 0.03687927227549474, 0.009138766867930399, -0.0004298936931745094, -0.031089295626289266, -0.0802117102087804, -0.017791030860012946, 0.009710778002901113, -0.056590881814961046, -0.037321026830742246, -0.08780427245951347, -0.004308078390107874, 0.046033731250859355, -0.025170471464448115, 0.044403890111853424, -0.051672928055803126, 0.020549327657243016, -0.023207626689006302, 0.04660253749941202, 0.04130447151563952, 0.03194191883427694, -0.019131180297870955],
    [0.03578892147743318, -0.02593359604179568, -0.028675157287580078, -0.021011504766647704, -0.00352968539664289, -0.018439253253745846, -0.039443396679416765, 0.0686627350805793, 0.03623648216307629, 0.0563397231453564, 0.035357456050405744, -0.08827400497102644, 0.06848516136233229, -0.06288378350291168, 0.013536640435631853, 0.0014272598637035117, -0.00977532344404608, -0.0023186974285636097, 0.07286517313696095, -0.019488431980789755, 0.0030545789340976626, -0.018236164265545085, 0.04856659752476844, -0.042180493037449196, 0.03600707009900361, 0.05619277047662763, -0.049717152753146365, -0.023319668327530962, -0.09525678507634439, 0.0693758981578867, -0.10412878516945057, 0.023621788946911693, 0.07042889730655588, -0.048715687822550535, -0.001865366954007186, -0.010914921746007167, 0.002347768342588097, -0.03749142861852306, -0.06017837498802692, 0.031336148000264075, 0.026377482114185113, -0.04658503065002151, 0.027106097877549473, -0.008194993437427911, -0.01522056429530494, -0.010585236515908036, -0.030342663092596922, -0.005876051867744536, 0.017361092315695714, 0.032598433615930844, 0.033420268446207047, -0.012197717529488727, 0.04894539455563063, -0.0017862747045001015, -0.04871454689418897, -0.01982256124028936, 0.055993451474932954, 0.01723858036712045, 0.04393586012884043, 0.008807550540950615, 0.047094395544263534, 0.023741822775264154, -0.061380736144201364, -0.020957183092832565],
    [-0.017022629578908283, -0.005160702796032032, -0.028045216389000416, -0.0075796668146116035, 0.05889524364223083, -0.012846710948118319, 0.027639312110841273, -0.06743226525140926, 0.0787358575190107, 0.05732491626404226, -0.005919060669839382, -0.004821278129626686, -0.006241450043550382, 0.07369141404827435, 0.008625025566046437, -0.00501670790836215, 0.08605255527266611, 0.05529725337401033, -0.05153525209364792, 0.034100911145408946, -0.011757733672857285, -0.02260264176099251, 0.02035365179957201, 0.013406510697677732, -0.04973829093699654, -0.10124532673507929, -0.04875348292892644, 0.07786117855769893, -0.023509053544451795, -0.06391090449566643, -0.002701170618335406, -0.04786572987213731, -0.02929644516746824, -0.026427885439867776, 0.0258476411147664, 0.050542286589431266, 0.055044512761135894, -0.00616614343598485, -0.015772099106106906, 0.028601530070106188, -0.045496489852666855, 0.037730216917892294, -0.015111745878433188, 0.01704613442222277, 0.022694749447206657, 0.009812830000494916, 0.047859815026943885, 0.028227827602919812, -0.062304595087577276, -0.06827446694175403, 0.0434105467381111, 0.00022401201228300732, -0.004700345026018719, -0.004039375111460686, 0.036210760055109856, 0.02886260167385141, -0.04218077564922472, -0.039783994946628806, 0.047730062250047924, 0.01010218533144022, 0.021337791221837203, -0.04486039638795773, 0.04504229805121819, -0.07949305277628203],
    [0.007162009738385678, -0.033558119693771, 0.0062880981829948725, 0.03910607825382613, -0.014114881248679012, 0.002733806846663356, -0.06508465064907795, 0.07189176438841968, -0.014620670705335214, 0.05605169723203289, 0.04602820031432202, 0.0625136764254421, -0.04520199315738864, 0.025878948630997912, -0.02592168967239559, -0.00789306317892624, -0.018074849026743323, 0.0552815233648289, 0.015569880054681563, -0.05870867318008095, -0.03610976756317541, 0.011209654237609357, 0.018742130219470708, -0.09634074725327083, -0.04878357497509569, -0.002338807284832001, 0.02424876674776897, 0.027450271311681717, -0.017138579837046565, -0.08176427060243441, 0.011314553767442703, -0.020969798981423083, 0.0028405168020981366, -0.0019020565552636981, -0.014864951884374023, 0.0797291077033151, 0.004420139791909606, -0.015677161449639244, 0.04234133543541248, -0.024606490111909806, -0.01708930656313896, 0.012665964709594846, -0.05265316754230298, -0.06712763868986257, -0.014046472831978463, -0.1103501875186339, 0.0026156574633205308, 0.055118992447387424, 0.008172780595850781, -0.02339748226950178, -0.013850412401370703, -0.0567798307078192, 0.006334397142927628, 0.06902613881868547, 0.05198451390315313, 0.012508518202230335, -0.10465057087130844, 0.00021866493043489754, -0.012251744420791511, -0.06052830636035651, 0.0057597205542151645, 0.03546282872848679, -0.030608799366746098, 0.008586109045427292],
]


def q_semdedup(spark, sf_dir):
    """SemDeDup on the TRAINED quantizer — the kmeans codepath gated
    end-to-end (rows+schema+hash): cell assignment against the pinned
    kmeans centroids (cells 0..15), intra-cell cosine prune at >= 0.95,
    exact copies (vec_id+100000 for every 20th vector) MUST resolve to
    their originals. max_cell_size=200 exercises the fail-loud mega-cell
    guard on its happy path (kmeans cells on this corpus are 15-60
    vectors). The DuckDB oracle assigns against the SAME pinned literals
    and recomputes the prune from scratch."""
    from .datapipe.dedup import semdedup_embedding

    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    return semdedup_embedding(corpus, threshold=0.95,
                              centroids=SEMDEDUP_CENTROIDS, max_cell_size=200)


def _sql_semdedup_pinned_cent() -> str:
    rows = ",\n      ".join(
        "{'cell': %d, 'cvec': CAST([%s] AS DOUBLE[])}"
        % (i, ", ".join(repr(float(x)) for x in row))
        for i, row in enumerate(SEMDEDUP_CENTROIDS)
    )
    return "cent AS (\n  SELECT u.cell AS cell, u.cvec AS cvec FROM (SELECT unnest([\n      %s\n    ]) AS u)\n)" % rows


SQL_SEMDEDUP = _sql_semdedup(_sql_semdedup_pinned_cent())


def q_minhash_recall_eval(spark, sf_dir):
    """Candidate-recall evaluation of the MinHash-LSH near-dup detector
    against the exact n-gram-Jaccard ground truth: one row (n_exact_pairs,
    n_lsh_pairs, n_common_pairs); recall = common/exact, precision =
    common/lsh, left as exact integers. Composes two driver-gated pair
    queries; the oracle nests both full SQLs and intersects."""
    mh = q_dedup_minhash(spark, sf_dir).select("id1", "id2")
    ex = q_dedup_ngram_jaccard(spark, sf_dir).select("id1", "id2")
    full = ex.withColumn("_e", F.lit(1)).join(
        mh.withColumn("_l", F.lit(1)), ["id1", "id2"], "full_outer"
    )
    return full.agg(
        F.sum("_e").cast("long").alias("n_exact_pairs"),
        F.sum("_l").cast("long").alias("n_lsh_pairs"),
        F.sum(F.coalesce(F.col("_e"), F.lit(0)) * F.coalesce(F.col("_l"), F.lit(0)))
        .cast("long").alias("n_common_pairs"),
    )


SQL_MINHASH_RECALL_EVAL = f"""
WITH mh AS (SELECT id1, id2 FROM ({SQL_DEDUP_MINHASH})),
ex AS (SELECT id1, id2 FROM ({SQL_DEDUP_NGRAM_JACCARD}))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS n_lsh_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM (SELECT * FROM ex INTERSECT SELECT * FROM mh)) AS n_common_pairs
"""


BLOOM_M, BLOOM_K = 4096, 3


def q_bloom_screen(spark, sf_dir):
    """Bloom-filter dedup pre-screen (dedup.bloom_bits + bloom_screen):
    the corpus digest filter (m=4096 bits, k=3 salted java-hash probes)
    screens the planted incoming batch — exact copies (ids >= 1,000,000)
    MUST come back maybe_dup (Bloom has no false negatives), ' zq'
    near-copies (ids >= 2,000,000) are definitely-new unless they land on
    the measured ~3% false-positive rate, which the oracle recomputes
    bit-for-bit. The fast path an incremental-dedup ingest runs before the
    exact digest join."""
    from .datapipe.dedup import bloom_bits, bloom_screen

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bits = bloom_bits(docs, m=BLOOM_M, k=BLOOM_K)
    incoming = _dup_corpus(spark, sf_dir).filter(F.col("doc_id") >= 1000000)
    return bloom_screen(incoming, bits, m=BLOOM_M, k=BLOOM_K)


def _sql_bloom_screen(m: int = BLOOM_M, k: int = BLOOM_K) -> str:
    def bit_exprs(src: str) -> str:
        return ", ".join(
            _sql_java_u32(f"sha256({src}) || ':{i}'") + f" % {m}"
            for i in range(k)
        )

    return f"""
WITH {SQL_DUP_CORPUS},
base_bits AS (
  SELECT DISTINCT CAST(u AS BIGINT) AS bit FROM (
    SELECT unnest([{bit_exprs("text")}]) AS u FROM documents)
),
probes AS (
  SELECT doc_id, CAST(u AS BIGINT) AS pbit FROM (
    SELECT doc_id, unnest([{bit_exprs("text")}]) AS u
    FROM corpus WHERE doc_id >= 1000000)
)
SELECT p.doc_id, CAST(COUNT(b.bit) AS BIGINT) AS n_hits,
       COUNT(b.bit) = {k} AS maybe_dup
FROM probes p LEFT JOIN base_bits b ON p.pbit = b.bit
GROUP BY p.doc_id
"""


SQL_BLOOM_SCREEN = _sql_bloom_screen()


def q_bloom_screen_packed(spark, sf_dir):
    """The PACKED broadcast form of the Bloom pre-screen (dedup.bloom_pack
    + bloom_screen_packed — VERDICT r6 weak #1 closed): the same corpus
    filter packed into an m-bit numpy bitmap, shipped via
    SparkContext.broadcast, probed with O(1) bit tests inside an Arrow
    kernel. Same (doc_id, n_hits, maybe_dup) decision table and the same
    DuckDB oracle as the relational form — the gate hashes the packed
    kernel's output bit-for-bit against SQL that recomputes the filter
    relationally."""
    from .datapipe.dedup import bloom_bits, bloom_pack, bloom_screen_packed

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bitmap = bloom_pack(bloom_bits(docs, m=BLOOM_M, k=BLOOM_K), m=BLOOM_M)
    incoming = _dup_corpus(spark, sf_dir).filter(F.col("doc_id") >= 1000000)
    return bloom_screen_packed(incoming, bitmap, m=BLOOM_M, k=BLOOM_K)


SQL_BLOOM_SCREEN_PACKED = SQL_BLOOM_SCREEN


def q_semdedup_prototypes(spark, sf_dir):
    """SemDeDup with the D4-style keep policy (keep='farthest'): within
    every near-dup neighborhood the member FARTHEST from its pinned-kmeans
    centroid survives (diversity-preserving prune; ordering key
    (round(dist*1e6) DESC, id ASC) is integer-deterministic on both
    engines). Same corpus and quantizer as the semdedup driver row, so the
    two rows pin both keep policies end-to-end."""
    from .datapipe.dedup import semdedup_embedding

    emb = _emb(spark, sf_dir)
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    return semdedup_embedding(corpus, threshold=0.95,
                              centroids=SEMDEDUP_CENTROIDS, max_cell_size=200,
                              keep="farthest")


def _sql_semdedup_prototypes(cent_cte: str) -> str:
    """Prototype-keep SemDeDup oracle: same assignment + cosine CTEs as
    _sql_semdedup, then per-pair the nearer-to-centroid member loses (ties
    by id) and each loser's canonical is its best-ranked winner."""
    return f"""
WITH {SQL_SEMDEDUP_CORPUS},
{cent_cte},
scored_cells AS (
  SELECT e.vec_id, c.cell,
         list_distance(CAST(e.embedding AS DOUBLE[]), c.cvec) AS d
  FROM corpus e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cell, CAST(ROUND(d * 1000000) AS BIGINT) AS r FROM (
    SELECT vec_id, cell, d, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM scored_cells
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, a.r AS r1, b.r AS r2
  FROM assign a JOIN assign b USING (cell)
  WHERE a.vec_id < b.vec_id
),
sim AS (
  SELECT p.id1, p.id2, p.r1, p.r2 FROM pairs p
  JOIN corpus e1 ON e1.vec_id = p.id1
  JOIN corpus e2 ON e2.vec_id = p.id2
  WHERE list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
                               CAST(e2.embedding AS DOUBLE[])) >= 0.95
),
directed AS (
  SELECT CASE WHEN r1 > r2 OR (r1 = r2 AND id1 < id2) THEN id2 ELSE id1 END AS loser,
         CASE WHEN r1 > r2 OR (r1 = r2 AND id1 < id2) THEN id1 ELSE id2 END AS wid,
         CASE WHEN r1 > r2 OR (r1 = r2 AND id1 < id2) THEN r1 ELSE r2 END AS wr
  FROM sim
),
dup AS (
  SELECT loser AS vec_id, wid AS dup_of FROM (
    SELECT loser, wid, ROW_NUMBER() OVER (PARTITION BY loser ORDER BY wr DESC, wid ASC) AS rn
    FROM directed
  ) WHERE rn = 1
)
SELECT c.vec_id, d.dup_of, d.dup_of IS NULL AS kept
FROM corpus c LEFT JOIN dup d USING (vec_id)
"""


SQL_SEMDEDUP_PROTOTYPES = _sql_semdedup_prototypes(_sql_semdedup_pinned_cent())


def _novelty_corpora(spark, sf_dir):
    """Reference = documents with doc_id % 3 == 0; targets = the rest PLUS
    exact re-publications of every 9th reference doc (ids offset by 5M) —
    planted zero-novelty rows among naturally-varying ones."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    tgt = docs.filter(F.col("doc_id") % 3 != 0)
    republished = ref.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    return tgt.unionByName(republished), ref


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty vs a reference corpus (dedup.ngram_novelty):
    the freshness metric for growing an existing corpus — republished
    reference docs land at novelty_ppm = 0, genuinely new text near 1e6.
    One distinct-shingle equi-join, integer ppm output."""
    from .datapipe.dedup import ngram_novelty

    tgt, ref = _novelty_corpora(spark, sf_dir)
    return ngram_novelty(tgt, ref, n=3)


SQL_NGRAM_NOVELTY = """
WITH ref_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
),
tgt_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text FROM ref_docs WHERE doc_id % 9 = 0
),
tw AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
  FROM tgt_docs
),
tsh AS (
  SELECT doc_id, unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 3), ' ')
           for i in range(0, greatest(len(words) - 3, 0) + 1)
         ])) AS shingle
  FROM tw
),
rw AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM ref_docs
),
rsh AS (
  SELECT DISTINCT unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 3), ' ')
           for i in range(0, greatest(len(words) - 3, 0) + 1)
         ])) AS shingle
  FROM rw
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(ROUND(SUM(CASE WHEN r.shingle IS NULL THEN 1 ELSE 0 END)
                  * 1000000.0 / COUNT(*)) AS BIGINT) AS novelty_ppm
FROM tsh t LEFT JOIN rsh r USING (shingle)
GROUP BY t.doc_id
"""


def _mirror_corpus(spark, sf_dir):
    """documents + cross-source mirrors: every 10th doc re-published under
    'mirror_a', every 15th under 'mirror_b', every 40th duplicated WITHIN
    its own source — known dup-pair counts across and inside sources."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    ma = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
        F.lit("mirror_a").alias("source"))
    mb = docs.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text",
        F.lit("mirror_b").alias("source"))
    same = docs.filter(F.col("doc_id") % 40 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text", "source")
    return docs.unionByName(ma).unionByName(mb).unionByName(same)


def q_cross_source_dups(spark, sf_dir):
    """Cross-source duplication matrix (dedup.cross_source_dup_matrix):
    which sources mirror which, as exact-duplicate pair counts per
    unordered source pair — the audit before per-source dedup budgets.
    Digest-keyed, integer-exact."""
    from .datapipe.dedup import cross_source_dup_matrix

    return cross_source_dup_matrix(_mirror_corpus(spark, sf_dir))


SQL_CROSS_SOURCE_DUPS = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'mirror_a' FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text, 'mirror_b' FROM documents WHERE doc_id % 15 = 0
  UNION ALL
  SELECT doc_id + 3000000, text, source FROM documents WHERE doc_id % 40 = 0
),
per AS (
  SELECT sha256(text) AS digest, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM corpus GROUP BY 1, 2
),
cross_pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(a.n * b.n) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT a.digest) AS BIGINT) AS n_texts
  FROM per a JOIN per b USING (digest)
  WHERE a.source < b.source
  GROUP BY 1, 2
),
same_pairs AS (
  SELECT source AS source_a, source AS source_b,
         CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_texts
  FROM per WHERE n >= 2
  GROUP BY 1, 2
)
SELECT * FROM cross_pairs WHERE n_dup_pairs > 0
UNION ALL
SELECT * FROM same_pairs WHERE n_dup_pairs > 0
"""


NOVELTY_BLOOM_M = 1 << 20
NOVELTY_BLOOM_K = 4


def q_ngram_novelty_packed(spark, sf_dir):
    """The zero-Exchange packed-Bloom novelty screen
    (dedup.ngram_novelty_packed) on the same corpora as the exact driver
    row: reference shingles -> bloom bitmap (built outside the gated plan),
    per-doc probes + novelty count inside ONE Arrow kernel. At m = 2^20 the
    FP rate is ~0 for this fixture, so the oracle — which recomputes every
    bit and probe relationally — hashes exactly."""
    from .datapipe.dedup import bloom_pack, ngram_novelty_packed, shingle_bloom_bits

    tgt, ref = _novelty_corpora(spark, sf_dir)
    bitmap = bloom_pack(
        shingle_bloom_bits(ref, m=NOVELTY_BLOOM_M, k=NOVELTY_BLOOM_K, n=3),
        m=NOVELTY_BLOOM_M,
    )
    return ngram_novelty_packed(tgt, bitmap, m=NOVELTY_BLOOM_M,
                                k=NOVELTY_BLOOM_K, n=3)


def _sql_ngram_novelty_packed(m: int = NOVELTY_BLOOM_M,
                              k: int = NOVELTY_BLOOM_K) -> str:
    bits = ", ".join(
        _sql_java_u32(f"sha256(shingle) || ':{i}'") + f" % {m}"
        for i in range(k)
    )
    return f"""
WITH ref_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
),
tgt_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text FROM ref_docs WHERE doc_id % 9 = 0
),
rw AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS words FROM ref_docs
),
rsh AS (
  SELECT DISTINCT unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 3), ' ')
           for i in range(0, greatest(len(words) - 3, 0) + 1)
         ])) AS shingle
  FROM rw
),
ref_bits AS (
  SELECT DISTINCT CAST(u AS BIGINT) AS bit FROM (
    SELECT unnest([{bits}]) AS u FROM rsh)
),
tw AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
  FROM tgt_docs
),
tsh AS (
  SELECT doc_id, unnest(list_distinct([
           array_to_string(list_slice(words, i + 1, i + 3), ' ')
           for i in range(0, greatest(len(words) - 3, 0) + 1)
         ])) AS shingle
  FROM tw
),
pr AS (
  SELECT doc_id, shingle, CAST(u AS BIGINT) AS pbit FROM (
    SELECT doc_id, shingle, unnest([{bits}]) AS u FROM tsh)
),
hit AS (
  SELECT p.doc_id, p.shingle, COUNT(b.bit) = {k} AS seen
  FROM pr p LEFT JOIN ref_bits b ON p.pbit = b.bit
  GROUP BY p.doc_id, p.shingle
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN seen THEN 0 ELSE 1 END) AS BIGINT) AS n_novel,
       CAST(FLOOR(SUM(CASE WHEN seen THEN 0 ELSE 1 END)
                  * 1000000.0 / COUNT(*) + 0.5) AS BIGINT) AS novelty_ppm
FROM hit
GROUP BY doc_id
"""


SQL_NGRAM_NOVELTY_PACKED = _sql_ngram_novelty_packed()


def q_soft_dedup_weights(spark, sf_dir):
    """SoftDeDup over the planted-duplicate corpus (dedup.soft_dedup_weights):
    every copy of a duplicated text carries weight 1/n_copies in integer
    micro units, so duplicated CONTENT sums to ~one document of mass —
    the down-weight alternative to dropping. Exact integers end to end."""
    from .datapipe.dedup import soft_dedup_weights

    return soft_dedup_weights(_dup_corpus(spark, sf_dir))


SQL_SOFT_DEDUP_WEIGHTS = f"""
WITH {SQL_DUP_CORPUS},
d AS (SELECT doc_id, sha256(text) AS digest FROM corpus),
c AS (SELECT digest, CAST(COUNT(*) AS BIGINT) AS n_copies FROM d GROUP BY digest)
SELECT doc_id, n_copies,
       CAST(ROUND(1000000.0 / n_copies) AS BIGINT) AS weight_micro
FROM d JOIN c USING (digest)
"""
