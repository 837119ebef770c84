"""CdcPipeline — snapshot load + oplog tail + foreachBatch MERGE apply.

The Spark re-expression of the reference's whole query lifecycle
(SURVEY §3.1; /root/reference/mongosync/common_syncer.py:90-118 stage
machine, mongo/syncer.py:239-366 replay loop):

1. ``initial_sync``      — batch read → LakeTable.create_or_replace (K1)
2. ``run_stream``        — readStream → transform → ``foreachBatch``:
   a. per-batch envelope stats (A3/A4: progress + max-ts watermark)
   b. staleness assertion on resume (S4, mongo/syncer.py:277-284)
   c. ns filter / rename / projection (P1-P6) — column expressions
   d. vectorized doc parse (Arrow UDF, the only doc decoder)
   e. per-key LWW fold to net events (H2/H3 ordering invariant)
   f. LakeTable.merge — bucket-pruned copy-on-write MERGE (K2/K3/K4),
      idempotent on batch_id, monotone-ts guarded
   g. CheckpointLog.append — one lineage/metrics row per batch
      (optime_logger analogue)

Stage telemetry mirrors the reference's 4-stage machine
(STOPPED → INITIAL_SYNC → POST_INITIAL_SYNC → OPLOG_SYNC,
common_syncer.py:15-25) — under MERGE semantics the post-initial-sync
duplicate-tolerance window vanishes, so the stage is telemetry only.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from py_mongo_sync_spark.config import SyncConfig
from py_mongo_sync_spark.exprcache import per_context
from py_mongo_sync_spark.functions.namespace import (
    rename_ns,
    system_ns_filter,
    valid_oplog_filter,
)
from py_mongo_sync_spark.functions.parse import parsed_events
from py_mongo_sync_spark.functions.project import project_fields
from py_mongo_sync_spark.operators.dedup import fold_net_events
from py_mongo_sync_spark.plans.checkpoints import CheckpointLog
from py_mongo_sync_spark.plans.lake import LakeTable
from py_mongo_sync_spark.schema import FIXTURE_EPOCH, KEY_COLS

STAGES = ("STOPPED", "INITIAL_SYNC", "POST_INITIAL_SYNC", "OPLOG_SYNC")


def checkpoint_epoch(spark_checkpoint_dir: str) -> str:
    """Stable identity for one streaming-checkpoint instance. Spark batch
    ids restart at 0 with every NEW checkpoint dir; the lake's batch-id
    replay window is only meaningful within one id sequence, so the epoch
    (a uuid created alongside the checkpoint, reread on every restart from
    it) scopes the window. Same checkpoint → same epoch → replay protection
    across restarts; fresh checkpoint → new epoch → early batch ids are NOT
    mistaken for replays (r2 ADVICE data-loss fix)."""
    import os
    import uuid

    os.makedirs(spark_checkpoint_dir, exist_ok=True)
    marker = os.path.join(spark_checkpoint_dir, "_PMS_EPOCH")
    if os.path.exists(marker):
        with open(marker) as f:
            return f.read().strip()
    tmp = marker + f".tmp.{uuid.uuid4().hex}"
    epoch = uuid.uuid4().hex
    with open(tmp, "w") as f:
        f.write(epoch)
    os.replace(tmp, marker)
    return epoch


def run_foreach_batch(
    stream: DataFrame,
    spark_checkpoint_dir: str,
    apply,
    epoch_holders,
    available_now: bool = True,
    processing_time: str = "1 second",
):
    """Run ``stream`` through ``apply(df, batch_id)`` under one Spark
    checkpoint — the driver behind every pipeline's ``run_stream``. Each of
    ``epoch_holders`` (tables, checkpoint logs) first gets the checkpoint's
    epoch, so its batch-id replay window is scoped to this id sequence.
    With ``available_now`` the query drains everything and returns once
    stopped; otherwise it runs a microbatch every ``processing_time`` like
    the reference's infinite tail loop (mongo/syncer.py:239-366)."""
    epoch = checkpoint_epoch(spark_checkpoint_dir)
    for h in epoch_holders:
        h.epoch = epoch
    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", spark_checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime=processing_time).start()


PAYLOAD_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "score"]

#: Mongo update operators the engine cannot express on a lake table; events
#: carrying one are applied WITHOUT it (the $set/$unset/$inc parts still
#: apply) and counted into ``n_unsupported_ops`` telemetry — the reference's
#: log-and-skip posture (mongo/handler.py:156-163). SyncConfig.strict_ops
#: upgrades the count to a hard failure.
UNSUPPORTED_OPS_RE = (
    r'"\$(push|pull|pullAll|addToSet|pop|rename|mul|min|max|bit|'
    r"currentDate|setOnInsert)\""
)


DATA_OPS = ("i", "u", "d")


@per_context
def _envelope_exprs(
    include_colls: frozenset,
    db_mapping: tuple,
    ns_mapping: tuple,
    accept: tuple[str, ...],
    ops: tuple[str, ...],
) -> tuple[Column, Column]:
    """``(kept, renamed)`` over a raw envelope row: whether it is one of
    ``ops`` that passes the config's namespace filter and whose renamed
    namespace is in ``accept``, and that renamed namespace. Both read the
    source ``ns``."""
    cfg = SyncConfig(include_colls=include_colls, db_mapping=dict(db_mapping),
                     ns_mapping=dict(ns_mapping))
    op, ns = F.col("op"), F.col("ns")
    renamed = rename_ns(cfg, ns)
    kept = (valid_oplog_filter(cfg, op, ns) & system_ns_filter(ns)
            & renamed.isin(*accept) & op.isin(*ops))
    return kept, renamed


@per_context
def _stats_plan(
    include_colls: frozenset,
    db_mapping: tuple,
    ns_mapping: tuple,
    accept: tuple[str, ...],
    grouped: bool,
) -> tuple[tuple[Column, ...], tuple[Column, ...], tuple[Column, ...]]:
    """The envelope aggregation (``CdcPipeline._envelope_stats``): its
    input projection, grouping and aggregates."""
    kept, renamed = _envelope_exprs(
        include_colls, db_mapping, ns_mapping, accept, DATA_OPS + ("c",)
    )
    op, ts, k = F.col("op"), F.col("ts"), F.col("_kept")
    rows = (ts, op, F.col("doc"), renamed.alias("ns"), kept.alias("_kept"))
    aggs = (
        F.count(F.when(k, 1)).alias("n_events"),
        F.count(F.when(k & (op != "c"), 1)).alias("n_data"),
        F.max(F.when(k, ts)).alias("max_ts"),
        F.min(F.when(k, ts)).alias("min_ts"),
        F.count(F.when(k & (op == "u") & F.col("doc").rlike(UNSUPPORTED_OPS_RE), 1))
        .alias("n_unsupported_ops"),
        # when() is NULL for data rows and collect_list skips NULLs, so
        # only the rare 'c' rows are ever buffered
        F.collect_list(F.when(k & (op == "c"), F.struct("ts", "doc"))).alias("cmds"),
        F.min(ts).alias("min_delivered_ts"),
        F.max(ts).alias("max_delivered_ts"),
    )
    return rows, ((F.col("ns"),) if grouped else ()), aggs


@per_context
def _keyed() -> Column:
    return F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()


@per_context
def _row_ts() -> Column:
    """Envelope optime → the table's row timestamp."""
    return F.timestamp_seconds(F.lit(FIXTURE_EPOCH) + F.col("ts"))


@per_context
def _ns_is(ns: str) -> Column:
    return F.col("ns") == ns


class CdcPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: SyncConfig,
        dst_ns: str = "chat.transcripts",
    ):
        self.spark = spark
        self.cfg = cfg
        self.dst_ns = dst_ns
        self.table = LakeTable(spark, cfg.dst_path)
        self.cplog = CheckpointLog(spark, cfg.checkpoint_path)
        self.stage = "STOPPED"
        self._resume_checked = not self.cplog.exists()
        #: namespaces the current batch accepts (set per batch from its
        #: rename_table commands; None = just dst_ns)
        self._batch_accept_ns: set[str] | None = None
        self.last_stats: list[dict] = []
        #: optional per-batch stats hook (the CLI's --follow mode wires a
        #: JSON logger here); called with the apply_batch result dict
        self.on_batch_stats = None

    # ------------------------------------------------------------ snapshot

    def initial_sync(self, snapshot: DataFrame) -> LakeTable:
        """Phase A: atomic full load (idempotent — re-runs replace the
        version; reference K1 upsert-convergence, mongo/syncer.py:104-123)."""
        self.stage = "INITIAL_SYNC"
        self.table.create_or_replace(
            snapshot,
            key_cols=KEY_COLS,
            ts_col="ts",
            n_buckets=self.cfg.n_buckets,
            write_mode=self.cfg.write_mode,
        )
        self.stage = "POST_INITIAL_SYNC"
        return self.table

    # ----------------------------------------------------------- transform

    def transform(self, events: DataFrame, multi_ns: list[str] | None = None) -> DataFrame:
        """Envelope → parsed/filtered/renamed/projected payload rows.
        All column expressions + one Arrow parse UDF. With ``multi_ns`` the
        ns column survives (MultiCdcPipeline parses the whole batch ONCE
        and routes per-table afterwards)."""
        # the envelope stats count the same rows: both use _envelope_exprs
        kept, renamed = _envelope_exprs(*self._ns_key(), self._accepted(multi_ns), DATA_OPS)
        df = parsed_events(events.where(kept).withColumn("ns", renamed), with_tool=True)
        keep = ["ts", "op", "is_patch", "unset_cols", "inc_map", "conv_id", "turn_idx"]
        if multi_ns is not None:
            keep.insert(0, "ns")
        if "seq" in df.columns:
            keep.insert(1, "seq")
        df = project_fields(df, self.cfg, always_keep=keep)
        return df.where(_keyed())

    def _ns_key(self) -> tuple:
        """Everything the namespace filter and rename read from the config."""
        cfg = self.cfg
        return (
            frozenset(cfg.include_colls),
            tuple(sorted(cfg.db_mapping.items())),
            tuple(sorted(cfg.ns_mapping.items())),
        )

    def _accepted(self, multi_ns: list[str] | None) -> tuple[str, ...]:
        """Destination namespaces this batch keeps. A rename_table command
        inside the CURRENT batch widens the set to {old ns, new ns} for
        this batch only: both name the same (renamed) table, so pre- and
        post-rename events of a mixed batch land together, like the
        reference's sequential replay where the command is a barrier."""
        if multi_ns is not None:
            return tuple(sorted(multi_ns))
        return tuple(sorted(self._batch_accept_ns or {self.dst_ns}))

    def _envelope_stats(
        self, events: DataFrame, multi_ns: list[str] | None = None
    ) -> dict:
        """The batch's only scan before the MERGE: ONE aggregation over the
        envelope (ts/op/ns, plus the doc of update and DDL rows — payloads
        are never parsed here). Per namespace it yields:

        - the event count (i/u/d/c) and data-event count, and the optime
          range → the lineage row (A4, optime_logger analogue);
        - the batch's DDL commands (op='c') in optime order → explicit
          schema evolution (reference 'c' handling, mongo/handler.py:156-163);
        - the count of updates carrying an operator the MERGE cannot
          express (``UNSUPPORTED_OPS_RE``).

        It also yields the optime range over EVERY delivered row, no-ops
        and filtered namespaces included (``min_delivered_ts`` /
        ``max_delivered_ts``): the staleness gate compares where the stream
        resumes with where it stopped, and either edge may be an event the
        lineage never counts.

        Returns one stats dict, or with ``multi_ns`` one per namespace.
        """
        rows_cols, group, aggs = _stats_plan(
            *self._ns_key(), self._accepted(multi_ns), multi_ns is not None
        )
        rows = events.select(*rows_cols).groupBy(*group).agg(*aggs).collect()

        def as_dict(r) -> dict:
            if r is None:  # a namespace with no events in this batch
                return {"n_events": 0, "n_data": 0, "max_ts": None, "min_ts": None,
                        "n_unsupported_ops": 0, "commands": []}
            d = r.asDict()
            d["commands"] = sorted((c["ts"], c["doc"]) for c in d.pop("cmds") if c["doc"])
            return d

        if multi_ns is None:
            return as_dict(rows[0])  # a global aggregate always yields one row
        by_ns = {r["ns"]: r for r in rows}
        # the delivered range spans every group, other namespaces included
        lo = [r["min_delivered_ts"] for r in rows if r["min_delivered_ts"] is not None]
        hi = [r["max_delivered_ts"] for r in rows if r["max_delivered_ts"] is not None]
        delivered = {"min_delivered_ts": min(lo, default=None),
                     "max_delivered_ts": max(hi, default=None)}
        return {nsv: dict(as_dict(by_ns.get(nsv)), **delivered) for nsv in multi_ns}

    def _apply_commands(self, commands: list[tuple[int, str]]) -> dict:
        """Replay DDL commands — skip-on-failure like the reference
        (mongo/handler.py:156-163: a command that doesn't apply is logged
        and skipped, not fatal), but every skip is COUNTED and named so
        dropped DDL is visible to operators (res['ddl'] + a partition_id=-2
        lineage row). Supported: add_column, drop_column, truncate,
        rename_table."""
        stats: dict = {"applied": 0, "skipped": 0, "skipped_cmds": []}
        for _ts, doc in commands:
            try:
                cmd = json.loads(doc)
                kind = cmd.get("cmd")
                if kind == "add_column":
                    self.table.add_column(cmd["name"], cmd.get("type", "string"))
                elif kind == "drop_column":
                    self.table.drop_column(cmd["name"])
                elif kind == "truncate":
                    self.table.truncate()
                elif kind == "rename_table":
                    self._rename_table(cmd)
                else:
                    stats["skipped"] += 1
                    stats["skipped_cmds"].append(str(kind)[:64])
                    continue
                stats["applied"] += 1
            except Exception as e:  # skip-on-failure, but visibly
                stats["skipped"] += 1
                stats["skipped_cmds"].append(f"error:{type(e).__name__}")
        return stats

    @staticmethod
    def _safe_cmd(doc: str) -> dict:
        try:
            c = json.loads(doc)
            return c if isinstance(c, dict) else {}
        except Exception:
            return {}

    def _rename_table(self, cmd: dict) -> None:
        """Replay ``{"cmd": "rename_table", "to": "db.coll"}`` (reference:
        arbitrary replayed commands incl. renameCollection,
        mongo/handler.py:156-163): metadata-level LakeTable move + retarget
        this pipeline's destination namespace so subsequent events in the
        batch/stream land in the renamed table. The destination directory is
        ``cmd["to_path"]`` if given, else the sibling of the current one
        named after the new namespace (MultiCdcPipeline's layout).

        Scope: single-table pipelines retarget fully (same-batch events
        under the new ns are accepted via _batch_accept_ns). Under
        MultiCdcPipeline the fan-out routing map is re-keyed from dst_ns at
        the start of every batch (``_resync_routing``), so post-rename
        events in subsequent batches land in the renamed table without a
        restart."""
        import os

        to_ns = cmd["to"]
        new_path = cmd.get("to_path") or os.path.join(
            os.path.dirname(os.path.normpath(self.cfg.dst_path)),
            to_ns.replace(".", "__"),
        )
        self.table.rename_to(new_path)
        self.cfg.dst_path = new_path
        self.dst_ns = to_ns

    # --------------------------------------------------------------- apply

    def apply_batch(self, events: DataFrame, batch_id: int) -> dict:
        """The foreachBatch function. Idempotent per batch_id.

        The raw batch is intentionally NOT cached: building the columnar
        cache (compression stats over text payloads) costs more than the
        second page-cached file scan it would save.
        """
        t0 = time.monotonic()
        # replayed batch (restart re-delivery): the table already committed
        # it — skip before ANY scan; no lineage rows, no expiry (idempotent
        # exactly-once table state; reference analogue: the post-initial-sync
        # duplicate-tolerance window, mongo/syncer.py:355-362).
        if self.table.exists() and self.table.is_committed(batch_id):
            res = {"skipped": True, "batch_id": batch_id,
                   "version": self.table.latest_version(), "n_events": 0}
            self.last_stats.append(res)
            return res
        # (a) envelope stats under this table's own namespace
        self._batch_accept_ns = None
        stats = self._envelope_stats(events)
        t_pstats = time.monotonic() - t0

        # rename_table commands in THIS batch: accept events under both the
        # old and the new namespace (same destination table — the rename is
        # a metadata move); the table/dst_ns retarget itself happens in
        # _finish_batch's command replay, before the MERGE executes.
        self._batch_accept_ns = {self.dst_ns} | {
            c.get("to")
            for _t, d in stats["commands"]
            for c in [self._safe_cmd(d)]
            if c.get("cmd") == "rename_table" and c.get("to")
        }

        # (d) transform, (e) fold to one net event per key — lazily; this
        # lineage executes once, inside the MERGE. With fold_salt the fold
        # runs in two time-sliced phases so one flooded key can't serialize
        # a whole task (H2 skew bound).
        parsed = self.transform(events)
        if self.cfg.fold_salt and stats["min_ts"] is not None:
            from py_mongo_sync_spark.operators.dedup import fold_net_events_salted

            payload = [c for c in PAYLOAD_COLS if c in parsed.columns]
            folded = fold_net_events_salted(
                parsed, key_cols=KEY_COLS, payload_cols=payload,
                ts_lo=stats["min_ts"], ts_hi=stats["max_ts"],
                n_salt=self.cfg.fold_salt,
                ts_col="ts", op_col="op", patch_col="is_patch",
                seq_col="seq" if "seq" in parsed.columns else None,
                unset_col="unset_cols", inc_col="inc_map",
            )
        else:
            folded = self._fold(parsed)
        return self._finish_batch(folded, stats, batch_id, t0, t_pstats=t_pstats)

    @staticmethod
    def _fold(parsed: DataFrame, extra_keys: list[str] | None = None) -> DataFrame:
        payload = [c for c in PAYLOAD_COLS if c in parsed.columns]
        return fold_net_events(
            parsed, key_cols=(extra_keys or []) + KEY_COLS, payload_cols=payload,
            ts_col="ts", op_col="op", patch_col="is_patch",
            seq_col="seq" if "seq" in parsed.columns else None,
            unset_col="unset_cols", inc_col="inc_map",
        )

    def _finish_batch(
        self,
        folded: DataFrame,
        stats: dict,
        batch_id: int,
        t0: float,
        t_pstats: float = 0.0,
    ) -> dict:
        """Apply tail for an already-folded net-event source: strictness +
        staleness gates, DDL replay, MERGE, lineage row, version expiry.
        Shared by the single-table path and MultiCdcPipeline's single-scan
        fan-out."""
        # unsupported-update-operator telemetry (module const doc); strict
        # mode fails the batch BEFORE any partial apply
        if stats["n_unsupported_ops"] and self.cfg.strict_ops:
            raise RuntimeError(
                f"batch {batch_id}: {stats['n_unsupported_ops']} events carry "
                "update operators the lake MERGE cannot express "
                "(strict_ops=True)"
            )

        # (b) resume staleness gate (reference mongo/syncer.py:277-284): the
        # first delivered optime against the larger of the lineage watermark
        # and the last delivered optime the table committed
        if not self._resume_checked and stats["min_delivered_ts"] is not None:
            delivered = self.table.manifest().get("max_delivered_ts") if (
                self.table.exists()) else None
            self.cplog.assert_not_stale(stats["min_delivered_ts"], delivered)
        self._resume_checked = True
        self.stage = "OPLOG_SYNC"

        # DDL replication ('c' ops) before the data MERGE — commands are
        # barriers in the reference's replay loop (mongo/syncer.py:303-317)
        ddl_stats = None
        if stats["commands"]:
            ddl_stats = self._apply_commands(stats["commands"])

        # envelope optime → the table's row timestamp. A batch with no data
        # events has an empty fold, so the MERGE only records its id; a DDL
        # command keeps the fold (a rename widens the namespaces it accepts).
        source = None if stats["n_data"] == 0 and not stats["commands"] else (
            folded.withColumn("ts", _row_ts())
        )

        # (f) MERGE. Below n_buckets × probe_skip_factor data events the
        # MERGE probes the parsed fold for the changed buckets and evolved
        # columns (bucket pruning pays for itself); above it essentially
        # every bucket changes, so it rewrites them all without the probe.
        res = self.table.merge(
            source, batch_id=batch_id,
            all_buckets=stats["n_data"] >= self.cfg.n_buckets * self.cfg.probe_skip_factor,
            compact_threshold=self.cfg.compact_threshold,
            delivered_ts=stats["max_delivered_ts"],
        )

        # (g) lineage/metrics — one row per batch (reference analogue: the
        # optime file, optime_logger.py:21-40). A replayed batch (batch_id
        # already committed) appends NOTHING: duplicate lineage rows would
        # inflate n_events audits.
        wall_ms = int((time.monotonic() - t0) * 1000)
        if not res.get("skipped"):
            row = {"batch_id": batch_id, "wall_ms": wall_ms,
                   "committed_at_seq": batch_id, "table_version": res.get("version")}
            rows = []
            if stats["n_events"]:
                rows.append(dict(row, partition_id=-1, max_ts=stats["max_ts"],
                                 n_events=stats["n_events"]))
            # partition_id=-2: skipped-DDL marker row (n_events = how many
            # commands were dropped) — operators can audit lost DDL from the
            # lineage table alone
            if ddl_stats and ddl_stats["skipped"]:
                rows.append(dict(row, partition_id=-2, max_ts=None,
                                 n_events=ddl_stats["skipped"]))
            self.cplog.append(rows)
            # storage lifecycle: a continuous stream creates one version per
            # batch — without expiry a CoW table's history grows unboundedly
            # (Iceberg expire_snapshots; driver-side file deletes, no Spark job)
            if (
                self.cfg.expire_every
                and batch_id > 0
                and batch_id % self.cfg.expire_every == 0
            ):
                res["expired_files"] = self.table.expire_versions(self.cfg.keep_versions)
                # same cadence for the checkpoint log's file count (one
                # per-batch file otherwise accumulates forever)
                res["compacted_cp_files"] = self.cplog.compact()

        res.update(
            n_events=stats["n_events"], wall_ms=wall_ms, t_pstats=round(t_pstats, 2),
            n_unsupported_ops=stats["n_unsupported_ops"],
        )
        # replication lag — the reference's delay gauge (now - last applied
        # optime, common_syncer.py:246-260); envelope ts is relative to
        # FIXTURE_EPOCH, the same base the table's row ts uses
        if not res.get("skipped") and stats["max_ts"] is not None:
            res["replication_lag_sec"] = round(
                max(0.0, time.time() - (FIXTURE_EPOCH + stats["max_ts"])), 1
            )
        if ddl_stats is not None:
            res["ddl"] = ddl_stats
        self.last_stats.append(res)
        if self.on_batch_stats is not None:
            self.on_batch_stats(res)
        return res

    # -------------------------------------------------------------- stream

    def run_stream(
        self,
        events_stream: DataFrame,
        spark_checkpoint_dir: str,
        available_now: bool = True,
        processing_time: str = "1 second",
    ):
        """Phase B: the oplog tail (``run_foreach_batch``). With
        ``available_now`` the query drains everything and stops (test/bench
        mode); otherwise it runs continuous microbatches."""
        return run_foreach_batch(
            events_stream, spark_checkpoint_dir,
            lambda df, bid: self.apply_batch(df, bid),
            (self.table, self.cplog), available_now, processing_time,
        )

    # --------------------------------------------------------------- batch

    def replay_batch(self, events: DataFrame, batch_id: int = 0) -> dict:
        """One-shot batch replay (no streaming machinery) — used by bench
        and by callers that already hold the full change set."""
        return self.apply_batch(events, batch_id)


class MultiCdcPipeline:
    """Route one change stream into MANY destination tables, one per
    namespace — the engine-level analogue of the reference syncing every
    collection of the replica set (namespace grouping H1,
    /root/reference/mongosync/multi_oplog_replayer.py:45-53; catalog scan
    S5, common_syncer.py:120-135).

    Each destination is a full CdcPipeline (own LakeTable + checkpoint log)
    sharing the SyncConfig's filter/rename/projection. A microbatch fans out
    to every destination; commits are per-table atomic, matching the
    reference's per-collection bulk writes (no cross-collection
    transaction exists there either).
    """

    def __init__(self, spark: SparkSession, cfg: SyncConfig, ns_list: list[str]):
        import dataclasses
        import os

        self.spark = spark
        self.merge_parallelism = cfg.merge_parallelism
        self.pipes: dict[str, CdcPipeline] = {}
        for ns in sorted(ns_list):
            safe = ns.replace(".", "__")
            sub = dataclasses.replace(
                cfg,
                dst_path=os.path.join(cfg.dst_path, safe),
                checkpoint_path=os.path.join(cfg.checkpoint_path, safe),
            )
            self.pipes[ns] = CdcPipeline(spark, sub, dst_ns=ns)

    def initial_sync(self, snapshots: dict[str, DataFrame]) -> None:
        for ns, df in snapshots.items():
            self.pipes[ns].initial_sync(df)

    def _resync_routing(self) -> None:
        """Re-key the ns→pipe fan-out map from each pipe's CURRENT dst_ns.
        A pipe that replayed a ``rename_table`` command retargeted itself
        (table moved, ``dst_ns`` updated), but this map's key — the routing
        for slicing the shared fold — kept the old namespace, so
        post-rename events were silently dropped until a restart (r3
        VERDICT #8). Runs at every batch start; a no-op when nothing was
        renamed. Same-batch semantics: events arriving under the NEW ns in
        the very batch that carries the rename command are handled by the
        single-pipeline both-ns acceptance (``_batch_accept_ns``) once the
        routing has flipped — i.e. from the batch AFTER the command, which
        matches the reference's sequential replay (the command precedes the
        events in oplog order, mongo/handler.py:156-163)."""
        remap = {p.dst_ns: p for p in self.pipes.values()}
        if set(remap) != set(self.pipes):
            self.pipes = dict(sorted(remap.items()))

    def apply_batch(self, events: DataFrame, batch_id: int) -> dict[str, dict]:
        """Single-scan fan-out: ONE shared envelope aggregation grouped by
        ns and ONE parse+fold over the whole microbatch (persisted), then a
        per-table MERGE of each namespace's slice. The r1 version re-ran the
        full probe+parse per namespace — N scans of the same raw batch, a
        driver-side serialization that dies at the reference's real workload
        (a whole replica set of collections; reference precedent: one tail
        loop feeding per-ns groups, multi_oplog_replayer.py:45-53)."""
        import time as _time

        from pyspark import StorageLevel

        t0 = _time.monotonic()
        self._resync_routing()
        results: dict[str, dict] = {}
        pending = {
            ns: p for ns, p in self.pipes.items()
            if not (p.table.exists() and p.table.is_committed(batch_id))
        }
        for ns, p in self.pipes.items():
            if ns not in pending:
                results[ns] = {"skipped": True, "batch_id": batch_id,
                               "version": p.table.latest_version(), "n_events": 0}
        if not pending:
            return results

        lead = next(iter(pending.values()))
        ns_list = sorted(pending)
        stats = lead._envelope_stats(events, multi_ns=ns_list)
        t_pstats = _time.monotonic() - t0

        parsed = lead.transform(events, multi_ns=ns_list)
        folded = lead._fold(parsed, extra_keys=["ns"]).persist(StorageLevel.DISK_ONLY)
        # materialize the shared fold ONCE before fanning out: concurrent
        # first-use from several threads would otherwise race to compute it
        folded.count()

        # per-table MERGEs are independent (each table commits to its own
        # manifest dir), so run them from a thread pool — batch latency is
        # the largest table's merge, not the sum over hundreds of tables.
        # Spark job submission is thread-safe; a FAIR scheduler pool (if
        # configured) interleaves them, and even under FIFO the cluster
        # overlaps jobs as task slots free up.
        from concurrent.futures import ThreadPoolExecutor

        def run_one(ns: str) -> tuple[str, dict]:
            p = pending[ns]
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "cdc-merge"
            )
            slice_df = folded.where(_ns_is(ns)).drop("ns")
            return ns, p._finish_batch(
                slice_df, stats[ns], batch_id, _time.monotonic(),
                t_pstats=t_pstats,
            )

        workers = max(1, min(self.merge_parallelism, len(ns_list)))
        try:
            if workers == 1:
                for ns in ns_list:
                    results[ns] = run_one(ns)[1]
            else:
                with ThreadPoolExecutor(max_workers=workers) as pool:
                    for ns, res in pool.map(run_one, ns_list):
                        results[ns] = res
        finally:
            folded.unpersist()
        return results

    def run_stream(self, events_stream: DataFrame, spark_checkpoint_dir: str,
                   available_now: bool = True):
        return run_foreach_batch(
            events_stream, spark_checkpoint_dir,
            lambda df, bid: self.apply_batch(df, bid),
            [h for p in self.pipes.values() for h in (p.table, p.cplog)],
            available_now,
        )
