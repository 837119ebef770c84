"""Canonical schemas for the transcripts payload, oplog events, and checkpoints.

Reference data model: schemaless BSON docs keyed by ``_id``
(/root/reference/mongosync/mongo/syncer.py:104-105) and oplog entries
``{ts, op, ns, o, o2}`` (/root/reference/mongosync/mongo/handler.py:137-167).
Here the payload is the fixed transcripts schema from BASELINE.json
``input_hint``; open-ended extras (the ``tool`` column arriving mid-stream)
are handled via schema evolution in :mod:`py_mongo_sync_spark.plans.lake`.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Primary key of the transcripts table (reference analogue: ``_id``).
KEY_COLS = ["conv_id", "turn_idx"]

#: Monotone ordering / LWW column (reference analogue: oplog ``ts``,
#: BSON Timestamp packed at /root/reference/mongosync/optime_logger.py:25-28).
TS_COL = "ts"

#: The transcripts table (BASELINE.json input_hint). ``tool`` is nullable and
#: absent in pre-evolution fixtures.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

#: Epoch (seconds) from which all deterministic fixture timestamps derive —
#: ``row ts = EPOCH + optime`` (no wall-clock anywhere; driver constraint).
FIXTURE_EPOCH = 1_700_000_000

#: Transcript schema before the ``tool`` column evolved in.
TRANSCRIPT_SCHEMA_V0 = T.StructType(
    [f for f in TRANSCRIPT_SCHEMA.fields if f.name != "tool"]
)

#: Raw change-event envelope, as serialized on the wire (JSON lines / Kafka).
#: ``op`` alphabet is the reference's: i/u/d/c/n
#: (/root/reference/mongosync/mongo/handler.py:143-165).
OPLOG_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),
        # BSON Timestamp increment analogue (optime_logger.py:25-28): the
        # deterministic tiebreak for equal-second optimes. Nullable — a
        # source without it degrades to ts-only ordering.
        T.StructField("seq", T.LongType(), True),
        T.StructField("op", T.StringType(), False),
        T.StructField("ns", T.StringType(), False),
        T.StructField("doc", T.StringType(), True),
    ]
)

#: Watermark / lineage / metrics table: one row per batch (see CheckpointLog).
#: Reference analogue: the 8-byte optime file
#: (/root/reference/mongosync/optime_logger.py:21-40) plus progress counters
#: (/root/reference/mongosync/progress_logger.py:31-86).
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("max_ts", T.LongType(), True),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("committed_at_seq", T.LongType(), False),
        # table version this batch committed (nullable: pre-r3 lineage
        # files read back NULL) — lets a consumer map batch → version →
        # LakeTable.read_changes without touching the manifest chain
        T.StructField("table_version", T.LongType(), True),
        # stream epoch that produced the row (nullable: pre-r4 files and
        # direct batch callers read back NULL). Batch ids restart at 0
        # after a fresh Spark checkpoint, so (batch_id, partition_id)
        # alone collides across stream instances — the epoch scopes the
        # dedup key so one instance's lineage can't shadow another's.
        T.StructField("epoch", T.StringType(), True),
    ]
)


def payload_parse_schema(with_tool: bool = True) -> T.StructType:
    """Schema produced by the vectorized doc-parse UDF: payload columns plus
    the patch markers.

    - ``is_patch`` marks a partial update (``$``-operator detection,
      reference: /root/reference/mongosync/multi_oplog_replayer.py:105-110)
    - ``unset_cols`` lists fields removed by ``$unset`` (or ``$set`` to JSON
      null — identical on a fixed-schema table); reference translation:
      /root/reference/mongosync/es/syncer.py:197-213
    - ``inc_map`` carries ``$inc`` numeric deltas (the reference replays the
      whole update server-side, mongo/handler.py:152 — ``$inc`` is the one
      arithmetic operator a lake MERGE can express exactly)
    - ``score`` is the open-ended numeric payload column (absent from the
      input_hint snapshot; arrives mid-stream via schema evolution, like
      ``tool``)
    """
    fields = [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
    ]
    if with_tool:
        fields.append(T.StructField("tool", T.StringType(), True))
    fields.append(T.StructField("score", T.DoubleType(), True))
    fields.append(T.StructField("is_patch", T.BooleanType(), True))
    fields.append(T.StructField("unset_cols", T.ArrayType(T.StringType()), True))
    fields.append(
        T.StructField("inc_map", T.MapType(T.StringType(), T.DoubleType()), True)
    )
    return T.StructType(fields)
