"""CheckpointLog — high-watermark + lineage/metrics table.

Reference analogue: the 8-byte optime file flushed every 10 s
(/root/reference/mongosync/optime_logger.py:21-40,
common_syncer.py:263-272) and the progress counters
(/root/reference/mongosync/progress_logger.py:31-86). Upgraded to a real
table: one row per committed batch (``partition_id`` -1) with the max
applied ts, event count (i/u/d/c) and wall time — plus a ``partition_id``
-2 row counting DDL commands the batch skipped — appended atomically after
each MERGE commit so any restart can resume from ``max(max_ts)`` and audit
full lineage.

Storage: append-only parquet, one file per batch, committed via atomic
rename — same crash-safety argument as the lake manifest. The reference
writes its optime AFTER apply (at-least-once on crash) and relies on
idempotent upserts; we do the same — a batch whose checkpoint rows are
missing re-runs, and the LakeTable batch-id guard makes the re-MERGE a
no-op.
"""

from __future__ import annotations

import os

import uuid

from pyspark.sql import DataFrame, SparkSession

from py_mongo_sync_spark.schema import CHECKPOINT_SCHEMA


class CheckpointLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        #: Stream-instance epoch stamped onto every appended row (set by
        #: CdcPipeline.run_stream alongside LakeTable.epoch). Batch ids
        #: restart at 0 under a fresh Spark checkpoint, so without the
        #: epoch two stream instances' (batch_id, partition_id) rows
        #: collide and read()'s dedup silently drops one from audits.
        self.epoch: str | None = None

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def append(self, rows: list[dict]) -> None:
        """Append checkpoint rows for one committed batch. Driver-side
        pyarrow write (a handful of metric rows per batch, never row data —
        no reason to schedule a Spark job), atomic via rename."""
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        table = pa.table(
            {
                "batch_id": pa.array([int(r["batch_id"]) for r in rows], pa.int64()),
                "partition_id": pa.array([int(r["partition_id"]) for r in rows], pa.int32()),
                "max_ts": pa.array(
                    [None if r["max_ts"] is None else int(r["max_ts"]) for r in rows],
                    pa.int64(),
                ),
                "n_events": pa.array([int(r["n_events"]) for r in rows], pa.int64()),
                "wall_ms": pa.array([int(r["wall_ms"]) for r in rows], pa.int64()),
                "committed_at_seq": pa.array(
                    [int(r["committed_at_seq"]) for r in rows], pa.int64()
                ),
                "table_version": pa.array(
                    [None if r.get("table_version") is None
                     else int(r["table_version"]) for r in rows],
                    pa.int64(),
                ),
                "epoch": pa.array(
                    [r.get("epoch", self.epoch) for r in rows], pa.string()
                ),
            }
        )
        final = os.path.join(
            self.path, f"batch-{rows[0]['batch_id']:010d}-{uuid.uuid4().hex}.parquet"
        )
        tmp = final + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, final)

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        # dropDuplicates makes compaction crash-safe: a crash between the
        # compacted-file rename and source deletion leaves rows duplicated
        # once, which this collapses (keys are unique per commit by
        # construction)
        # epoch is part of the key: fresh-checkpoint stream instances reuse
        # batch ids 0..N, and dropping one instance's rows as "duplicates"
        # of another's would falsify n_events/lineage audits (NULL epochs —
        # pre-epoch files — compare equal to each other only)
        return (
            self.spark.read.schema(CHECKPOINT_SCHEMA)
            .parquet(self.path)
            .dropDuplicates(["epoch", "batch_id", "partition_id"])
        )

    def compact(self, min_files: int = 256, keep_recent: int = 8) -> int:
        """File-count lifecycle: appends create one small parquet file per
        batch — 10^6 microbatches would mean 10^6 files and an unusably
        slow ``read()``. When ≥ ``min_files`` per-batch files have
        accumulated, merge all but the newest ``keep_recent`` into one
        ``compacted-*`` file (driver-side pyarrow; lineage rows preserved
        exactly). Compacted files are never re-merged — file count grows
        as N/min_files, no quadratic rewrite. Crash-safe: the merged file
        is renamed in before sources are deleted, and ``read()`` dedups.
        Returns number of files merged."""
        import pyarrow.parquet as pq

        if not os.path.isdir(self.path):
            return 0
        batch_files = sorted(
            f for f in os.listdir(self.path)
            if f.startswith("batch-") and f.endswith(".parquet")
        )
        victims = batch_files[:-keep_recent] if keep_recent else batch_files
        if len(victims) < min_files:
            return 0
        import pyarrow as pa

        tables = [pq.read_table(os.path.join(self.path, f)) for f in victims]
        # permissive: logs spanning schema additions (table_version in r3,
        # epoch in r4) mix file schemas — missing columns null-fill instead
        # of raising on the first compaction after an upgrade
        try:
            merged = pa.concat_tables(tables, promote_options="permissive")
        except TypeError:  # older pyarrow spelling
            merged = pa.concat_tables(tables, promote=True)
        final = os.path.join(self.path, f"compacted-{uuid.uuid4().hex}.parquet")
        tmp = final + ".tmp"
        pq.write_table(merged, tmp)
        os.replace(tmp, final)
        for f in victims:
            os.remove(os.path.join(self.path, f))
        return len(victims)

    def high_watermark(self) -> int | None:
        """Resume point: max applied ts across all committed batches
        (reference: OptimeLogger.read, optime_logger.py:31-40). Read on
        the driver with pyarrow, no Spark job: the log is a few small
        files, and a max is unchanged by the duplicate rows ``read()``
        drops. Only committed ``*.parquet`` files count, never an
        in-flight ``.tmp``."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if not self.exists():
            return None
        files = sorted(
            os.path.join(self.path, f) for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )
        maxes = [
            pc.max(pq.read_table(f, columns=["max_ts"])["max_ts"]).as_py()
            for f in files
        ]
        return max((m for m in maxes if m is not None), default=None)

    def replication_lag_seconds(
        self, now: float | None = None, ts_base: int = 0
    ) -> float | None:
        """The reference's delay gauge (common_syncer.py:246-260: wall
        clock minus the last APPLIED optime), derived from the committed
        high watermark — None until a first batch commits. ``ts_base``
        shifts relative optimes onto the epoch clock (the synthetic
        fixture stamps envelope ts relative to FIXTURE_EPOCH); a source
        stamping absolute epoch seconds passes 0. Clamped at 0: a
        watermark "ahead of" the clock only happens with synthetic
        future-dated fixtures."""
        wm = self.high_watermark()
        if wm is None:
            return None
        import time as _time

        return max(0.0, (now if now is not None else _time.time()) - (ts_base + wm))

    def assert_not_stale(
        self, first_event_ts: int, delivered_ts: int | None = None
    ) -> None:
        """Abort if the stream's history no longer covers the resume point —
        port of the first-event staleness check
        (/root/reference/mongosync/mongo/syncer.py:277-284: if the first
        tailed oplog entry isn't the one we checkpointed, the oplog rolled
        over and silent data loss would follow).

        The resume point is the larger of the lineage watermark and
        ``delivered_ts``, the last optime the table committed of ANY
        delivered event: the lineage counts only i/u/d/c events of the
        table's namespaces, so a no-op or a filtered namespace's event at
        the restart edge would otherwise read as a gap."""
        marks = [t for t in (self.high_watermark(), delivered_ts) if t is not None]
        wm = max(marks, default=None)
        if wm is not None and first_event_ts > wm + 1:
            raise RuntimeError(
                f"checkpoint is stale: resume watermark {wm} but stream "
                f"starts at ts {first_event_ts}; events were lost"
            )
