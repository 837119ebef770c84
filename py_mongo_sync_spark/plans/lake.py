"""LakeTable — a minimal bucketed copy-on-write table format with MERGE.

The environment has no Iceberg/Delta jar, so the MERGE-capable, ACID,
schema-evolving sink the CDC engine needs is built from scratch in pure
PySpark + parquet. Semantically it is the subset of Iceberg the reference's
destination requires:

- **atomic commits** via versioned JSON manifests + an atomic pointer swap
  (``os.replace``) — a reader always sees a complete version;
- **snapshot isolation / time travel** — every version's file set is
  immutable; readers pin a manifest;
- **bucket layout** — data hash-bucketed by ``pmod(xxhash64(key), n_buckets)``
  so a MERGE rewrites only the buckets containing changed keys (Iceberg
  copy-on-write with bucket partition transform). At 100 TB with e.g. 4096
  buckets, a microbatch touching k conversations rewrites ≤ k buckets of
  ~25 GB each in parallel, not the table. The bucket expression is the Spark
  analogue of the reference's murmur3(_id) mod n fan-out
  (/root/reference/mongosync/multi_oplog_replayer.py:69-78, hash :123-131);
- **idempotent MERGE** — committed ``batch_id``s recorded in the manifest;
  re-applying a batch is a no-op (exactly-once table state, replacing the
  reference's duplicate-key-tolerance window,
  /root/reference/mongosync/mongo/syncer.py:303-317);
- **monotone-ts guard** — a MERGE source row only beats a target row with
  ``source.ts >= target.ts``, mirroring the strictly-forward ``_last_optime``
  (/root/reference/mongosync/common_syncer.py:50);
- **schema evolution** — manifests carry the schema; new nullable columns
  merge in, old files read back NULL for them (Iceberg ``mergeSchema``;
  replaces oplog ``c`` command handling,
  /root/reference/mongosync/mongo/handler.py:156-163).

Single-writer by design: Structured Streaming runs ``foreachBatch`` apply
functions serially. (Iceberg adds optimistic retry for multi-writer; out of
scope here.)

MERGE semantics (column-expression form of
/root/reference/mongosync/multi_oplog_replayer.py:99-121 and
mongo/handler.py:137-167):

====================  ==========================================
source net-event      effect on target row with same key
====================  ==========================================
op='d'                delete (if source.ts >= target.ts)
upsert, not patch     replace row / insert if absent
patch (is_patch)      per-column ``coalesce(src, tgt)``; **no-op
                      if key absent** (UpdateOne without upsert)
====================  ==========================================
"""

from __future__ import annotations

import json
import os
import time
import uuid
import warnings
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from py_mongo_sync_spark.exprcache import per_context

BUCKET_COL = "_bucket"
DELETED_COL = "_deleted"
_OP = "_op"
_PATCH = "_is_patch"
_UNSET = "_unset_cols"
_INC = "_inc_map"
_BSEQ = "_batch_seq"

#: Columns a MERGE source may carry beyond the table columns. _UNSET
#: (array<string>: patch columns to NULL — $unset / $set-to-null,
#: reference translation /root/reference/mongosync/es/syncer.py:197-213)
#: and _INC (map<string,double>: residual $inc deltas added to the target
#: value) are optional; a source without them degrades to plain
#: coalesce-patch semantics.
MERGE_META_COLS = (_OP, _PATCH, _UNSET, _INC)


class CommitConflict(RuntimeError):
    """A concurrent writer committed the version this commit targeted
    (optimistic-concurrency loss — e.g. a zombie driver racing its
    replacement). The table state is the OTHER writer's commit; the caller
    must re-read the manifest and re-run its merge against it."""


def bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for a key — murmur3, the SAME hash family
    Spark's HashPartitioning uses (``F.hash`` == Murmur3, seed 42; the
    reference's analogue is its murmur3 fan-out,
    multi_oplog_replayer.py:123-131). Alignment with shuffle partitioning
    means a MERGE join keyed on ``key_cols`` leaves each task holding a
    disjoint set of buckets, so the bucket-partitioned write needs NO extra
    shuffle (correctness never depends on this — ``partitionBy`` splits by
    value — it only bounds file counts and saves a full-table shuffle)."""
    return _bucket_expr(tuple(key_cols), n_buckets)


@per_context
def _bucket_expr(key_cols: tuple[str, ...], n_buckets: int) -> Column:
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


def manifest_bucket_cols(m: dict) -> list[str]:
    """Columns the table is physically bucketed on. Defaults to the key —
    the CDC layout, where bucketing == MERGE-join partitioning. A table
    may instead bucket on a PROBE column (``bucket_cols`` at create time,
    e.g. the ingest signature index bucketed on ``bkey``) so point-lookup
    style reads prune to touched buckets; the MERGE stays correct because
    a source row's bucket is a deterministic function of its own columns
    — co-location with the join key is a performance property, never a
    correctness one (bucket_expr docstring)."""
    return m.get("bucket_cols") or m["key_cols"]


# -- plan expressions, built once per signature (exprcache module doc) --

@per_context
def _live() -> Column:
    return ~F.coalesce(F.col(DELETED_COL), F.lit(False))


def _opt_meta(has_unset: bool, has_inc: bool) -> list[Column]:
    return ([F.col(_UNSET)] if has_unset else []) + ([F.col(_INC)] if has_inc else [])


class _PrepHead(NamedTuple):
    cols: tuple[Column, ...]
    bucket: Column
    new_cols: tuple[str, ...]
    has_unset: bool
    has_inc: bool
    probe: tuple[Column, ...]


@per_context
def _prep_head(
    table_json: str, source_json: str, bucket_cols: tuple[str, ...], n_buckets: int
) -> _PrepHead:
    """MERGE source → table types (columns the table lacks pass through as
    evolution candidates); its bucket, hashed from the CAST keys (a long
    and an int key hash to different buckets); and the probe's per-bucket
    aggregates, one "carried" flag per candidate."""
    schema = T.StructType.fromJson(json.loads(table_json))
    src_cols = T.StructType.fromJson(json.loads(source_json)).fieldNames()
    table_cols = schema.fieldNames()
    new_cols = tuple(
        c for c in src_cols
        if c not in table_cols and c not in MERGE_META_COLS and c != BUCKET_COL
    )
    has_unset, has_inc = _UNSET in src_cols, _INC in src_cols
    cols = (
        *[F.col(c).cast(schema[c].dataType) for c in table_cols if c in src_cols],
        *[F.col(c) for c in new_cols],
        F.col(_OP),
        F.col(_PATCH),
        *_opt_meta(has_unset, has_inc),
    )

    # a new column counts as "carried" when the batch has a value OR a
    # residual $inc for it (an increment on a not-yet-existing column must
    # still evolve the schema)
    def carried(c: str) -> Column:
        nonnull = F.col(c).isNotNull()
        if has_inc:
            nonnull = nonnull | F.element_at(F.col(_INC), F.lit(c)).isNotNull()
        return nonnull

    probe = (
        F.count(F.lit(1)).alias("_n"),
        *[F.max(carried(c)).alias(c) for c in new_cols],
    )
    return _PrepHead(
        cols, bucket_expr(bucket_cols, n_buckets), new_cols, has_unset, has_inc, probe
    )


class _PrepTail(NamedTuple):
    schema: T.StructType
    cols: tuple[Column, ...]


@per_context
def _prep_tail(table_json: str, source_json: str, evolved: tuple[str, ...]) -> _PrepTail:
    """The table schema after ``evolved`` columns merge in, and the MERGE
    source projected onto it (a table column the batch lacks reads NULL)."""
    schema = T.StructType.fromJson(json.loads(table_json))
    source = T.StructType.fromJson(json.loads(source_json))
    for c in evolved:
        schema = schema.add(T.StructField(c, source[c].dataType, True))
    src_cols = source.fieldNames()
    cols = (
        *[
            F.col(c).cast(f.dataType) if c in src_cols
            else F.lit(None).cast(f.dataType).alias(c)
            for c, f in zip(schema.fieldNames(), schema.fields)
        ],
        F.col(_OP),
        F.col(_PATCH),
        *_opt_meta(_UNSET in src_cols, _INC in src_cols),
        F.col(BUCKET_COL),
    )
    return _PrepTail(schema, cols)


class _CowPlan(NamedTuple):
    target: tuple[Column, ...]
    on: Column
    keep: Column
    out: tuple[Column, ...]


@per_context
def _cow_plan(
    schema_json: str,
    tgt_cols: tuple[str, ...],
    key_cols: tuple[str, ...],
    ts_col: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    has_unset: bool,
    has_inc: bool,
) -> _CowPlan:
    """The copy-on-write MERGE for one signature: the target projection
    (bucket, NULL backfill of freshly evolved columns), the join condition
    between target ``t`` and source ``s``, and the merged row."""
    schema = T.StructType.fromJson(json.loads(schema_json))
    table_cols = schema.fieldNames()
    target = (
        *[F.col(c) for c in tgt_cols],
        # target predates freshly-evolved columns → NULL-backfill them
        *[F.lit(None).cast(schema[c].dataType).alias(c)
          for c in table_cols if c not in tgt_cols],
        bucket_expr(bucket_cols, n_buckets).alias(BUCKET_COL),
    )
    # plain equality (keys are non-null by construction): `<=>` would
    # wrap the keys and break reuse of the fold's hash partitioning AND
    # the bucket-aligned write (verified: eqNullSafe doubled the files
    # per bucket).
    on = F.col(f"t.{key_cols[0]}") == F.col(f"s.{key_cols[0]}")
    for c in key_cols[1:]:
        on = on & (F.col(f"t.{c}") == F.col(f"s.{c}"))

    s_key = F.col(f"s.{key_cols[0]}")
    t_key = F.col(f"t.{key_cols[0]}")
    matched = s_key.isNotNull() & t_key.isNotNull()
    src_only = s_key.isNotNull() & t_key.isNull()
    # monotone-ts guard: stale replayed rows never beat newer target rows
    # (reference: strictly-forward _last_optime, common_syncer.py:50).
    src_wins = F.col(f"s.{ts_col}") >= F.col(f"t.{ts_col}")
    is_del = F.col(f"s.{_OP}") == "d"
    is_patch = F.col(f"s.{_PATCH}")
    t_dead = F.coalesce(F.col(f"t.{DELETED_COL}"), F.lit(False))

    # deletes become tombstones (never physically dropped here — see
    # expire_versions/compact); a patch never resurrects a dead key
    # (UpdateOne without upsert); a replace does (ReplaceOne upsert=True).
    applies = matched & src_wins & (~is_patch | ~t_dead)
    keep = t_key.isNotNull() | (src_only & ~is_patch)

    deleted_out = (
        F.when(applies & is_del, F.lit(True))
        .when(applies & ~is_patch, F.lit(False))
        .when(src_only & is_del, F.lit(True))
        .when(src_only, F.lit(False))
        .otherwise(t_dead)
    ).alias(DELETED_COL)

    def patch_val(c: str):
        """Three-valued per-column patch resolution (replaces bare
        coalesce): $unset/$set-null → NULL; residual $inc → target
        value + delta (NULL counts 0, Mongo's inc-on-missing rule);
        $set → source value; untouched → keep target."""
        tc, sc = F.col(f"t.{c}"), F.col(f"s.{c}")
        typ = schema[c].dataType
        v = F.coalesce(sc, tc)
        if has_inc:
            delta = F.element_at(F.col(f"s.{_INC}"), F.lit(c))
            v = F.when(
                delta.isNotNull(),
                (F.coalesce(tc.cast("double"), F.lit(0.0)) + delta).cast(typ),
            ).otherwise(v)
        if has_unset:
            hit = F.coalesce(
                F.array_contains(F.col(f"s.{_UNSET}"), F.lit(c)), F.lit(False)
            )
            v = F.when(hit, F.lit(None).cast(typ)).otherwise(v)
        return v

    def out_col(c: str):
        tc, sc = F.col(f"t.{c}"), F.col(f"s.{c}")
        return (
            F.when(applies & is_patch, patch_val(c))
            .when(applies & ~is_del, sc)
            .when(applies & is_del, sc if c == ts_col else tc)
            .when(src_only, sc)
            .otherwise(tc)
        ).alias(c)

    out = (
        *[out_col(c) for c in table_cols],
        deleted_out,
        F.coalesce(F.col(f"t.{BUCKET_COL}"), F.col(f"s.{BUCKET_COL}")).alias(BUCKET_COL),
    )
    return _CowPlan(target, on, keep, out)


@per_context
def _mor_delta_head(
    table_cols: tuple[str, ...], has_unset: bool, has_inc: bool
) -> tuple[Column, ...]:
    """A MoR delta row without its batch sequence: the optional meta is
    normalized so every delta file shares one physical schema (older files
    read back NULL for later-evolved columns)."""
    return (
        *[F.col(c) for c in table_cols],
        F.col(_OP),
        F.col(_PATCH),
        (F.col(_UNSET) if has_unset else F.lit(None).cast("array<string>")).alias(_UNSET),
        (F.col(_INC) if has_inc else F.lit(None).cast("map<string,double>")).alias(_INC),
        F.col(BUCKET_COL),
    )


class _MorReadPlan(NamedTuple):
    delta_phys: T.StructType
    deltas: tuple[Column, ...]
    base: tuple[Column, ...]
    payload: tuple[str, ...]
    upserted: Column
    out: tuple[Column, ...]


@per_context
def _mor_read_plan(
    schema_json: str, key_cols: tuple[str, ...], ts_col: str
) -> _MorReadPlan:
    """Merge-on-read resolution (``LakeTable._resolve_deltas``): the delta
    file schema and projection, base rows as events, and the resolved
    row."""
    schema = T.StructType.fromJson(json.loads(schema_json))
    table_cols = schema.fieldNames()
    meta = (_OP, _PATCH, _UNSET, _INC, _BSEQ)
    delta_phys = T.StructType(
        schema.fields
        + [
            T.StructField(_OP, T.StringType(), True),
            T.StructField(_PATCH, T.BooleanType(), True),
            T.StructField(_UNSET, T.ArrayType(T.StringType()), True),
            T.StructField(_INC, T.MapType(T.StringType(), T.DoubleType()), True),
            T.StructField(_BSEQ, T.LongType(), True),
        ]
    )
    base = (
        *[F.col(c) for c in table_cols],
        F.when(F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("d"))
        .otherwise(F.lit("u")).alias(_OP),
        F.lit(False).alias(_PATCH),
        F.lit(None).cast("array<string>").alias(_UNSET),
        F.lit(None).cast("map<string,double>").alias(_INC),
        F.lit(-1).cast("long").alias(_BSEQ),
    )
    return _MorReadPlan(
        delta_phys=delta_phys,
        deltas=tuple(F.col(c) for c in (*table_cols, *meta)),
        base=base,
        payload=tuple(c for c in table_cols if c not in key_cols and c != ts_col),
        upserted=~F.col("_is_patch"),
        out=(*[F.col(c) for c in table_cols], (F.col("_op") == "d").alias(DELETED_COL)),
    )


class LakeTable:
    """Handle on a lake table directory. Cheap to construct; all state is
    on disk in the manifest chain."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        #: Stream-instance (checkpoint) identity for batch-id idempotence.
        #: Spark batch ids restart at 0 whenever the streaming checkpoint is
        #: new; without an epoch the below-window replay rule would silently
        #: skip every early batch of a NEW stream against an EXISTING table
        #: (r2 ADVICE: real data loss, reproduced end-to-end). Pipelines set
        #: this from the checkpoint dir before streaming; None (direct batch
        #: callers, tests) keeps plain window semantics.
        self.epoch: str | None = None

    # ------------------------------------------------------------------ io

    @property
    def _versions_dir(self) -> str:
        return os.path.join(self.path, "_versions")

    @property
    def _latest_ptr(self) -> str:
        return os.path.join(self.path, "_LATEST")

    def _data_dir(self, version: int) -> str:
        return os.path.join(self.path, "data", f"v{version:08d}")

    def exists(self) -> bool:
        return os.path.exists(self._latest_ptr)

    def latest_version(self) -> int:
        with open(self._latest_ptr) as f:
            return int(f.read().strip())

    def manifest(self, version: int | None = None) -> dict:
        self._repair_pending_rename()  # cheap existence probe; see rename_to
        if version is None:
            version = self.latest_version()
        with open(os.path.join(self._versions_dir, f"v{version:08d}.json")) as f:
            return json.load(f)

    def schema(self, version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self.manifest(version)["schema"])

    # -- committed-batch bookkeeping: O(1) manifest size, not O(history).
    # A streaming source's batch ids are monotone, so `max_batch_id` plus a
    # small recent window gives exact idempotence without appending every id
    # forever (10^6 microbatches would otherwise rewrite MBs per commit and
    # make the guard a linear scan). Non-monotone callers are covered within
    # the window; beyond it, ids below min(recent) are treated committed.

    _BATCH_WINDOW = 64

    #: A claimed-but-unpointed v{N}.json younger than this is an IN-FLIGHT
    #: commit (claim→pointer-swap window), not a crashed orphan; skipping it
    #: would silently drop its MERGE. Far above any real swap latency (two
    #: local file ops), far below operator response time to a true crash.
    ORPHAN_GRACE_SECONDS = 60.0

    @staticmethod
    def _committed_state(m: dict) -> tuple[int | None, list[int]]:
        if "recent_batch_ids" in m:
            return m.get("max_batch_id"), m["recent_batch_ids"]
        ids = m.get("batch_ids", [])  # legacy manifests: migrate on next commit
        return (max(ids) if ids else None), sorted(ids)[-LakeTable._BATCH_WINDOW:]

    def is_committed(self, batch_id: int, m: dict | None = None) -> bool:
        m = m or self.manifest()
        if self.epoch is not None and m.get("epoch") != self.epoch:
            # different id sequence — INCLUDING a manifest with no epoch at
            # all (populated by direct batch callers): its recent window
            # says nothing about this stream's ids. Replaying is
            # idempotent-safe; skipping would be data loss.
            return False
        mx, recent = self._committed_state(m)
        if batch_id in recent:
            return True
        below = bool(recent) and batch_id < min(recent)
        if below and self.epoch is None and batch_id < min(recent) - self._BATCH_WINDOW:
            # epoch-less caller replaying an id far below the window: almost
            # certainly a relocated/reset checkpoint, not a true replay
            warnings.warn(
                f"LakeTable {self.path}: treating batch_id={batch_id} as a "
                f"replay (window min {min(recent)}). If the streaming "
                "checkpoint was reset, this SKIPS NEW DATA — set "
                "LakeTable.epoch (CdcPipeline.run_stream does) to detect "
                "stream restarts.",
                stacklevel=3,
            )
        return below

    def _batch_fields(
        self, m: dict, batch_id: int, delivered_ts: int | None = None
    ) -> dict:
        """Manifest fields recording ``batch_id`` as committed, and the
        largest source optime any committed batch delivered
        (``max_delivered_ts``, no-ops and filtered namespaces included —
        the resume staleness gate's floor; optimes are global to the
        source, so it survives an epoch change)."""
        seen = [t for t in (m.get("max_delivered_ts"), delivered_ts) if t is not None]
        delivered = {"max_delivered_ts": max(seen)} if seen else {}
        if self.epoch is not None and m.get("epoch") != self.epoch:
            # first commit of a new stream instance: reset the window — the
            # old epoch's ids belong to a different batch-id sequence
            return {
                "epoch": self.epoch,
                "max_batch_id": batch_id,
                "recent_batch_ids": [batch_id],
                **delivered,
            }
        mx, recent = self._committed_state(m)
        recent = sorted(set(recent) | {batch_id})[-self._BATCH_WINDOW:]
        new_max = batch_id if mx is None else max(mx, batch_id)
        return {
            "epoch": self.epoch if self.epoch is not None else m.get("epoch"),
            "max_batch_id": new_max,
            "recent_batch_ids": recent,
            **delivered,
        }

    def committed_batch_ids(self) -> set[int]:
        """Recently committed ids (exact within the retention window)."""
        return set(self._committed_state(self.manifest())[1])

    def _commit(self, manifest: dict) -> None:
        """Optimistic atomic commit (Iceberg-style): the version-numbered
        manifest file is claimed with O_CREAT|O_EXCL — exactly one writer
        can create ``v{N}.json`` — then the pointer swaps. Scenarios:

        - crash between claim and swap: pointer stays at the old version;
          the orphan manifest is detected on the next commit (pointer did
          not advance AND the claim is older than ``ORPHAN_GRACE_SECONDS``)
          and skipped by taking the next version number — orphans stay
          harmless. A YOUNG unpointed claim is an in-flight concurrent
          writer, not an orphan: skipping it would build the next version
          on the stale manifest and lose its MERGE, so it raises
          ``CommitConflict`` instead (caller re-reads and retries).
        - concurrent second writer (zombie driver after failover, the
          classic dual-committer case): it loses the claim AND observes the
          pointer advanced → ``CommitConflict`` instead of silently
          overwriting the winner's manifest (previous behavior lost one of
          the two commits).
        """
        os.makedirs(self._versions_dir, exist_ok=True)
        version = manifest["version"]
        while True:
            mpath = os.path.join(self._versions_dir, f"v{version:08d}.json")
            try:
                fd = os.open(mpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                latest = self.latest_version() if self.exists() else 0
                if latest >= version:
                    raise CommitConflict(
                        f"{self.path}: version {version} was committed by a "
                        "concurrent writer (table now at "
                        f"v{latest}) — re-read and retry the merge"
                    )
                # pointer never advanced to `version`: either a crashed
                # writer's orphan claim (safe to skip) or a LIVE writer in
                # its claim-to-swap window — skipping THAT would commit
                # v{N+1} built on the stale pre-v{N} manifest and silently
                # drop the in-flight MERGE. Claim age disambiguates: only
                # claims older than the grace period are treated as dead.
                try:
                    age = time.time() - os.path.getmtime(mpath)
                except OSError:
                    age = 0.0  # claim vanished mid-look: treat as in-flight
                if age < self.ORPHAN_GRACE_SECONDS:
                    raise CommitConflict(
                        f"{self.path}: version {version} is claimed by an "
                        f"in-flight writer (claim age {age:.1f}s < grace "
                        f"{self.ORPHAN_GRACE_SECONDS}s) — re-read and retry"
                    )
                version += 1
        manifest = dict(manifest, version=version)
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        ptmp = self._latest_ptr + f".tmp.{uuid.uuid4().hex}"
        with open(ptmp, "w") as f:
            f.write(str(version))
        os.replace(ptmp, self._latest_ptr)

    # --------------------------------------------------------------- write

    def _write_buckets(
        self,
        df: DataFrame,
        version: int,
        n_buckets: int,
        aligned: bool = False,
        root: str = "data",
    ) -> dict[str, list[str]]:
        """Write rows (must already carry BUCKET_COL) partitioned by bucket;
        return {bucket: [absolute files]}. When ``aligned`` the caller
        guarantees each task already holds disjoint buckets (a frame
        hash-partitioned on the key straight out of the MERGE join, or on
        the bucket itself), so no repartition is needed — ``partitionBy``
        splits the few buckets per task into their own files. Otherwise
        repartition on the bucket.

        The directory carries a per-ATTEMPT unique suffix: two concurrent
        writers racing for the same version number would otherwise stage
        into the SAME ``v{N}`` dir with mode=overwrite — the loser's write
        deletes the winner's files BEFORE the manifest claim decides the
        race, so the winner's committed manifest points at vanished data
        (observed in the dual-writer retry test). Readers only ever follow
        manifest paths, never the dir layout; a conflict loser's staged
        files are unreferenced and reaped by ``expire_versions``."""
        out = os.path.join(self.path, root,
                           f"v{version:08d}-{uuid.uuid4().hex[:8]}")
        if not aligned:
            df = df.repartition(n_buckets, BUCKET_COL)
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(out)
        buckets: dict[str, list[str]] = {}
        if os.path.exists(out):
            for d in os.listdir(out):
                if d.startswith(f"{BUCKET_COL}="):
                    b = d.split("=", 1)[1]
                    files = [
                        os.path.join(out, d, fn)
                        for fn in os.listdir(os.path.join(out, d))
                        if fn.endswith(".parquet")
                    ]
                    buckets[b] = sorted(files)
        return buckets

    def create_or_replace(
        self,
        df: DataFrame,
        key_cols: list[str],
        ts_col: str = "ts",
        n_buckets: int = 16,
        write_mode: str = "cow",
        bucket_cols: list[str] | None = None,
    ) -> "LakeTable":
        """Initial snapshot load (reference K1: idempotent full load,
        /root/reference/mongosync/mongo/syncer.py:104-123 — re-runs converge
        because the whole version is replaced atomically).

        ``write_mode``: 'cow' rewrites changed buckets in full on every
        MERGE (read-optimized); 'mor' (merge-on-read, Iceberg MoR /
        deletion-vector analogue) appends per-bucket delta files of net
        events and resolves at read time, compacting per bucket every
        ``compact_threshold`` deltas — per-batch write I/O scales with the
        BATCH, not the table (the 100-TB-stream requirement: a CoW table
        whose every microbatch touches most buckets rewrites O(table) per
        batch)."""
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        bcols = bucket_cols or key_cols
        missing = [c for c in bcols if c not in df.columns]
        if missing:
            raise ValueError(f"bucket_cols not in frame: {missing}")
        version = (self.latest_version() + 1) if self.exists() else 1
        data_cols = df.columns
        dfb = df.withColumn(DELETED_COL, F.lit(False)).withColumn(
            BUCKET_COL, bucket_expr(bcols, n_buckets)
        )
        buckets = self._write_buckets(dfb, version, n_buckets)
        manifest = {
            "version": version,
            "schema": df.schema.jsonValue(),
            "columns": data_cols,
            "key_cols": key_cols,
            "bucket_cols": bcols,
            "ts_col": ts_col,
            "n_buckets": n_buckets,
            "write_mode": write_mode,
            "buckets": buckets,
            "deltas": {},
            "max_batch_id": None,
            "recent_batch_ids": [],
        }
        self._commit(manifest)
        return self

    # ---------------------------------------------------------------- read

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame:
        """Scan the table (optionally one snapshot version / bucket subset).
        Bucket pruning = reading only the manifest-listed files; the explicit
        schema makes files that predate an evolved column yield NULLs.

        Deleted keys persist as hidden tombstone rows (``_deleted=true``) so
        a replayed/out-of-order stale insert can never resurrect them — the
        monotone-ts guard applies to deletes exactly like to updates. Normal
        reads filter them out; MERGE reads them.

        Merge-on-read buckets with pending delta files resolve here: base
        rows + net-event deltas feed the SAME per-key fold the pipeline uses
        (operators/dedup.py) ordered by (ts, batch_seq) — one window pass
        per touched bucket, pruned identically."""
        m = self.manifest(version)
        schema = T.StructType.fromJson(m["schema"])
        phys = T.StructType(schema.fields + [T.StructField(DELETED_COL, T.BooleanType(), True)])
        bmap = m["buckets"]
        dmap = m.get("deltas", {})
        if buckets is not None:
            keys = [str(b) for b in buckets]
        else:
            keys = sorted(set(bmap) | {k for k, v in dmap.items() if v}, key=int)
        files = [f for k in keys for f in bmap.get(k, [])]
        if not files:
            df = self.spark.createDataFrame([], phys)
        else:
            df = self.spark.read.schema(phys).parquet(*files)
        dfiles = [f for k in keys for f in dmap.get(k, [])]
        if dfiles:
            df = self._resolve_deltas(m, df, dfiles)
        if include_tombstones:
            return df
        return df.where(_live()).drop(DELETED_COL)

    def _resolve_deltas(self, m: dict, base: DataFrame, dfiles: list[str]) -> DataFrame:
        """Merge-on-read resolution: base rows become 'replace'/'delete'
        events at their stored ts (batch_seq −1 so any delta wins an equal-ts
        tie, matching the CoW monotone guard's ``src.ts >= tgt.ts``); delta
        net events replay over them through the engine's own per-key fold —
        patches on absent keys drop, tombstones persist."""
        from py_mongo_sync_spark.operators.dedup import fold_net_events

        p = _mor_read_plan(json.dumps(m["schema"]), tuple(m["key_cols"]), m["ts_col"])
        deltas = self.spark.read.schema(p.delta_phys).parquet(*dfiles).select(*p.deltas)
        folded = fold_net_events(
            base.select(*p.base).unionByName(deltas),
            key_cols=m["key_cols"], payload_cols=p.payload, ts_col=m["ts_col"],
            op_col=_OP, patch_col=_PATCH, seq_col=_BSEQ,
            unset_col=_UNSET, inc_col=_INC,
        )
        # net patch = UpdateOne on an absent key → no row
        return folded.where(p.upserted).select(*p.out)

    # --------------------------------------------------------------- merge

    def merge(
        self,
        source: DataFrame | None,
        batch_id: int,
        all_buckets: bool = False,
        compact_threshold: int | None = None,
        retries: int = 2,
        delivered_ts: int | None = None,
    ) -> dict:
        """MERGE INTO this table. ``source`` must have exactly one row per
        key (LWW-deduped, see operators/dedup.py) with table columns plus
        ``_op`` ('d' delete / anything else upsert) and ``_is_patch``.

        By default the merge probes the source itself for the buckets it
        changes and the new columns it carries (persisting it so the source
        lineage still runs once), so both are exact by construction.
        ``all_buckets`` (a batch large enough that essentially every bucket
        changes) skips that probe: every bucket is rewritten and the
        expensive source lineage executes in exactly ONE job — the
        join+write — with no persist round-trip. It is honoured only when
        the source carries no column the table lacks, since schema
        evolution needs the probe. ``source=None`` (a batch with no data
        events) commits the batch id without running a Spark job.
        ``delivered_ts`` (the batch's largest source optime, of any event)
        is recorded with the batch id (``_batch_fields``).

        Optimistic-concurrency retry (the Iceberg commit loop): a
        ``CommitConflict`` — a concurrent writer won the version claim, or
        holds a young in-flight claim — re-reads the manifest and re-runs
        the whole MERGE against the new table state, up to ``retries``
        times with a short backoff. The batch-id guard re-checks first, so
        a conflicting commit of the SAME batch resolves to a skip, never a
        double-apply. Conflicts that outlive the retries (e.g. a writer
        that died inside its claim window — resolved only after
        ``ORPHAN_GRACE_SECONDS``) still raise: failing loudly beats
        building on a state another writer may be mid-swap on.

        Returns commit stats. Idempotent on ``batch_id``.
        """
        last_conflict: CommitConflict | None = None
        for attempt in range(retries + 1):
            m = self.manifest()
            if self.is_committed(batch_id, m):
                return {"skipped": True, "batch_id": batch_id,
                        "version": m["version"]}
            try:
                return self._merge_attempt(
                    source, batch_id, m, all_buckets, compact_threshold, delivered_ts
                )
            except CommitConflict as e:
                last_conflict = e
                if attempt < retries:
                    time.sleep(min(2.0, 0.2 * (2 ** attempt)))
        raise last_conflict

    def _merge_attempt(
        self,
        source: DataFrame | None,
        batch_id: int,
        m: dict,
        all_buckets: bool,
        compact_threshold: int | None,
        delivered_ts: int | None,
    ) -> dict:
        """One optimistic MERGE attempt against manifest snapshot ``m``."""
        fields = self._batch_fields(m, batch_id, delivered_ts)
        if source is None:
            return self._commit_empty(m, batch_id, fields)
        if m.get("write_mode", "cow") == "mor":
            def inner(src, bid, mf, changed):
                return self._merge_mor(src, bid, mf, changed, fields, compact_threshold)
        else:
            def inner(src, bid, mf, changed):
                return self._merge_inner(src, bid, mf, changed, fields)

        if all_buckets and not self._new_cols(source, m):
            return inner(source, batch_id, m, list(range(m["n_buckets"])))
        # probe: pin the source so probe + join share one materialization.
        # DISK_ONLY: spark.local.dir is fast local storage (tmpfs here, NVMe
        # on a cluster) and skips the columnar-compression cache build.
        from pyspark import StorageLevel

        source = source.persist(StorageLevel.DISK_ONLY)
        try:
            return inner(source, batch_id, m, None)
        finally:
            source.unpersist()

    @staticmethod
    def _new_cols(source: DataFrame, m: dict) -> list[str]:
        """Source columns the table schema lacks (schema-evolution
        candidates)."""
        return [
            c for c in source.columns
            if c not in m["columns"] and c not in MERGE_META_COLS and c != BUCKET_COL
        ]

    def _prep_source(
        self, source: DataFrame, m: dict, changed: list[int] | None
    ) -> dict:
        """Shared MERGE head for both write modes: cast the source to the
        table schema, detect schema-evolution columns, and compute the
        changed-bucket set (given, or from a one-aggregation probe whose
        collect is ≤ n_buckets boolean rows, never row data).

        Evolution: batch columns absent from the table schema merge in as
        nullable iff the batch actually carries values there (Iceberg
        mergeSchema; replaces oplog 'c' handling, mongo/handler.py:156-163).
        """
        table_json = json.dumps(m["schema"])
        source_json = source.schema.json()
        head = _prep_head(
            table_json, source_json, tuple(manifest_bucket_cols(m)), m["n_buckets"]
        )
        src = source.select(*head.cols).withColumn(BUCKET_COL, head.bucket)

        evolved: tuple[str, ...] = ()
        if changed is None:
            probe = src.groupBy(BUCKET_COL).agg(*head.probe).collect()
            changed = sorted(r[BUCKET_COL] for r in probe)
            evolved = tuple(c for c in head.new_cols if any(r[c] for r in probe))
        tail = _prep_tail(table_json, source_json, evolved)
        return {
            "src": src.select(*tail.cols), "schema": tail.schema, "changed": changed,
            "has_unset": head.has_unset, "has_inc": head.has_inc,
        }

    def _commit_empty(self, m: dict, batch_id: int, fields: dict) -> dict:
        """Empty-batch fast path: record the batch id, touch no data."""
        new_manifest = dict(m, version=m["version"] + 1, **fields)
        new_manifest.pop("batch_ids", None)
        self._commit(new_manifest)
        return {"skipped": False, "batch_id": batch_id, "n_source": 0,
                "changed_buckets": 0, "version": new_manifest["version"]}

    def _merge_inner(
        self,
        source: DataFrame,
        batch_id: int,
        m: dict,
        changed: list[int] | None,
        fields: dict,
    ) -> dict:
        t0 = time.monotonic()
        n_buckets: int = m["n_buckets"]
        prep = self._prep_source(source, m, changed)
        src, schema, changed = prep["src"], prep["schema"], prep["changed"]
        t_probe = time.monotonic() - t0
        if not changed:
            return self._commit_empty(m, batch_id, fields)

        tgt = self.read(buckets=changed, include_tombstones=True)
        p = _cow_plan(
            schema.json(), tuple(tgt.columns), tuple(m["key_cols"]), m["ts_col"],
            tuple(manifest_bucket_cols(m)), n_buckets, prep["has_unset"], prep["has_inc"],
        )
        # --- the MERGE itself: one full-outer equi-join on the key, then
        # pure column expressions (_cow_plan). The source side carries an
        # explicit shuffle_hash hint (guide §3.1): a microbatch plan runs
        # without AQE and Catalyst's size estimate for the UDF+fold subtree
        # is unusable, so the planner would default to SortMergeJoin and
        # sort BOTH the table and the batch on every merge. The build side
        # is the folded batch — bounded by batch size over the shuffle
        # partitions, never by table size — so the hash map is safe at any
        # table scale, and SHJ's output partitioning on the join key keeps
        # the bucket-aligned write (measured: join+write 4.59 → 4.22 s
        # floor on a 1M-event batch into a 2M-row table, interleaved
        # best-of-4).
        joined = tgt.select(*p.target).alias("t").join(
            src.alias("s").hint("shuffle_hash"), on=p.on, how="full_outer"
        )
        merged = joined.where(p.keep).select(*p.out)

        t1 = time.monotonic()
        version = m["version"] + 1
        buckets = dict(m["buckets"])
        for b in changed:
            buckets[str(b)] = []
        new_files = self._write_buckets(merged, version, n_buckets, aligned=True)
        # Guard: every written bucket must be one we read (a source row whose
        # true bucket fell outside the changed set would otherwise replace
        # that bucket's files with only itself — silent loss of its other
        # keys). Raised BEFORE commit.
        stray = set(new_files) - {str(b) for b in changed}
        if stray:
            raise RuntimeError(
                f"internal bucket-math mismatch: probe said {sorted(changed)}, "
                f"write produced {sorted(stray)}"
            )
        buckets.update(new_files)
        t_write = time.monotonic() - t1
        new_manifest = dict(
            m,
            version=version,
            schema=schema.jsonValue(),
            columns=schema.fieldNames(),
            buckets=buckets,
            **fields,
        )
        new_manifest.pop("batch_ids", None)
        self._commit(new_manifest)
        return {
            "skipped": False,
            "batch_id": batch_id,
            "changed_buckets": len(changed),
            "version": version,
            "t_probe": round(t_probe, 2),
            "t_join_write": round(t_write, 2),
        }

    def _merge_mor(
        self,
        source: DataFrame,
        batch_id: int,
        m: dict,
        changed: list[int] | None,
        fields: dict,
        compact_threshold: int | None = None,
    ) -> dict:
        """Merge-on-read write path: append the batch's net events as
        per-bucket DELTA files — no base rewrite, so per-batch write I/O is
        O(batch), not O(table) (the CoW scale-killer at streaming cadence:
        any realistic batch touches ~every bucket and rewrites the table).
        Reads resolve base+deltas via the engine fold (see read());
        ``compact_threshold`` bounds read amplification by folding a
        bucket's deltas into its base once that many accumulate.

        The delta write runs in ``min(n_buckets, shuffle partitions)``
        tasks: hash partitioning on the bucket still puts each bucket in
        one task, so a batch writes one file per changed bucket, but a
        small tail batch no longer pays for a task per bucket."""
        t0 = time.monotonic()
        prep = self._prep_source(source, m, changed)
        src, schema, changed = prep["src"], prep["schema"], prep["changed"]
        if not changed:
            return self._commit_empty(m, batch_id, fields)

        version = m["version"] + 1
        head = _mor_delta_head(
            tuple(schema.fieldNames()), prep["has_unset"], prep["has_inc"]
        )
        n_tasks = min(
            m["n_buckets"], int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        )
        delta = src.select(
            *head, F.lit(batch_id).cast("long").alias(_BSEQ)
        ).repartition(n_tasks, BUCKET_COL)
        new_files = self._write_buckets(
            delta, version, m["n_buckets"], aligned=True, root="delta"
        )
        stray = set(new_files) - {str(b) for b in changed}
        if stray:
            raise RuntimeError(
                f"internal bucket-math mismatch: probe said {sorted(changed)}, "
                f"delta write produced {sorted(stray)}"
            )
        deltas = {k: list(v) for k, v in m.get("deltas", {}).items()}
        for b, files in new_files.items():
            deltas.setdefault(b, [])
            deltas[b] = deltas[b] + files
        delta_bytes = sum(
            os.path.getsize(f) for files in new_files.values() for f in files
        )
        new_manifest = dict(
            m,
            version=version,
            schema=schema.jsonValue(),
            columns=schema.fieldNames(),
            deltas=deltas,
            **fields,
        )
        new_manifest.pop("batch_ids", None)
        self._commit(new_manifest)
        res = {
            "skipped": False,
            "batch_id": batch_id,
            "changed_buckets": len(changed),
            "version": version,
            "delta_bytes": delta_bytes,
            "t_write": round(time.monotonic() - t0, 2),
        }
        if compact_threshold:
            # Staggered per-bucket due thresholds. Under a uniform key mix
            # every bucket accrues ~1 delta per batch, so one shared
            # threshold makes ALL buckets come due in the SAME batch — a
            # synchronized compaction storm (measured: 2.3x batch wall
            # time every compact_threshold batches, BENCH_sustained r5).
            # Offsetting each bucket's threshold by (bucket % jitter)
            # spreads the rewrites over ~jitter consecutive batches, and
            # the distinct per-bucket periods keep them from
            # re-synchronizing; worst-case read amplification grows from
            # threshold to threshold + jitter - 1 deltas on a bucket.
            jitter = max(1, compact_threshold // 2)
            due = [
                int(b) for b, files in deltas.items()
                if len(files) >= compact_threshold + (int(b) % jitter)
            ]
            if due:
                t_c = time.monotonic()
                res["compacted"] = self.compact(buckets=due)
                res["compacted"]["t_sec"] = round(time.monotonic() - t_c, 2)
        return res

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Fold delta files into their base buckets (Iceberg
        ``rewrite_data_files`` for MoR): rewrites ONLY the targeted buckets
        — the CoW rewrite cost amortized over ``compact_threshold`` batches
        instead of paid per batch. Tombstones persist through compaction."""
        m = self.manifest()
        dmap = m.get("deltas", {})
        target = sorted(
            {str(b) for b in (buckets if buckets is not None else dmap)
             if dmap.get(str(b))},
            key=int,
        )
        if not target:
            return {"compacted_buckets": 0, "version": m["version"]}
        resolved = self.read(
            buckets=[int(b) for b in target], include_tombstones=True
        ).withColumn(BUCKET_COL, bucket_expr(manifest_bucket_cols(m), m["n_buckets"]))
        version = m["version"] + 1
        new_files = self._write_buckets(resolved, version, m["n_buckets"])
        buckets_map = dict(m["buckets"])
        for k in target:
            buckets_map[k] = []
        buckets_map.update(new_files)
        deltas = {k: ([] if k in target else list(v)) for k, v in dmap.items()}
        self._commit(dict(m, version=version, buckets=buckets_map, deltas=deltas))
        return {"compacted_buckets": len(target), "version": version}

    def add_column(self, name: str, type_name: str = "string") -> bool:
        """ALTER TABLE ADD COLUMN — metadata-only schema evolution (new
        manifest version, no data rewrite; existing files read back NULL).
        Replaces the reference's oplog 'c' DDL replication
        (mongo/handler.py:156-163). No-op if the column exists."""
        m = self.manifest()
        schema = T.StructType.fromJson(m["schema"])
        if name in [f.name for f in schema.fields]:
            return False
        try:
            dtype = T._parse_datatype_string(type_name)
        except Exception:
            dtype = T.StringType()
        schema = schema.add(T.StructField(name, dtype, True))
        self._commit(dict(
            m, version=m["version"] + 1, schema=schema.jsonValue(),
            columns=[f.name for f in schema.fields],
        ))
        return True

    def drop_column(self, name: str) -> bool:
        """ALTER TABLE DROP COLUMN — metadata-only (files keep the bytes;
        the explicit read schema projects the column away, Iceberg-style).
        Key/ts columns are refused. No-op if absent."""
        m = self.manifest()
        if (name in m["key_cols"] or name == m["ts_col"]
                or name in manifest_bucket_cols(m)):
            raise ValueError(f"cannot drop key/ts/bucket column {name!r}")
        schema = T.StructType.fromJson(m["schema"])
        if name not in [f.name for f in schema.fields]:
            return False
        schema = T.StructType([f for f in schema.fields if f.name != name])
        self._commit(dict(
            m, version=m["version"] + 1, schema=schema.jsonValue(),
            columns=[f.name for f in schema.fields],
        ))
        return True

    def truncate(self) -> None:
        """Empty the table as a new version (metadata-only; old files expire
        later) — the lake analogue of a replayed drop/emptyCollection
        command (reference re-runs arbitrary commands, mongo/handler.py:156-163)."""
        m = self.manifest()
        self._commit(dict(
            m, version=m["version"] + 1,
            buckets={str(b): [] for b in range(m["n_buckets"])},
            deltas={},
        ))

    def history(self) -> DataFrame:
        """Version history as a DataFrame (the Iceberg ``table.history()``
        inspection analogue): one row per manifest version with its commit
        metadata — time-travel targets, batch bookkeeping, schema width,
        and file counts. Driver-side directory listing of small JSONs; no
        Spark job until the caller acts on the frame."""
        rows = []
        if os.path.isdir(self._versions_dir):
            for name in sorted(os.listdir(self._versions_dir)):
                if not (name.startswith("v") and name.endswith(".json")):
                    continue
                try:
                    with open(os.path.join(self._versions_dir, name)) as f:
                        m = json.load(f)
                except (json.JSONDecodeError, OSError):
                    continue  # crashed writer's partial claim
                rows.append({
                    "version": int(m.get("version", int(name[1:-5]))),
                    "epoch": m.get("epoch"),
                    "max_batch_id": m.get("max_batch_id"),
                    "n_buckets": m.get("n_buckets"),
                    "n_columns": len(m.get("columns", [])),
                    "n_data_files": sum(len(v) for v in m.get("buckets", {}).values()),
                    "n_delta_files": sum(len(v) for v in m.get("deltas", {}).values()),
                    "write_mode": m.get("write_mode", "cow"),
                    "is_latest": False,
                })
        latest = self.latest_version() if self.exists() else None
        for r in rows:
            r["is_latest"] = r["version"] == latest
        schema = ("version int, epoch string, max_batch_id long, "
                  "n_buckets int, n_columns int, n_data_files int, "
                  "n_delta_files int, write_mode string, is_latest boolean")
        return self.spark.createDataFrame(rows, schema)

    def bucket_stats(self) -> dict:
        """Table-health telemetry from the manifest + file sizes alone (no
        Spark job, no row scan): per-bucket bytes/file counts, skew ratio
        (max/median bucket bytes), pending MoR deltas, and a rebucket
        advisory — a bucket layout sized for yesterday's table silently
        degrades MERGE pruning as the table grows 100×, and this is the
        signal an operator (or a cron) watches to schedule ``rebucket``.
        Driver-side cost: O(n_buckets + files) stat calls."""
        m = self.manifest()
        per_bucket = {}
        for b, files in m.get("buckets", {}).items():
            n_bytes = sum(
                os.path.getsize(p) for p in files if os.path.exists(p)
            )
            per_bucket[b] = {"files": len(files), "bytes": n_bytes}
        n_deltas = sum(len(v) for v in m.get("deltas", {}).values())
        sizes = sorted(v["bytes"] for v in per_bucket.values()) or [0]
        median = sizes[len(sizes) // 2]
        mx = sizes[-1]
        avg = sum(sizes) / len(sizes)
        skew = round(mx / median, 2) if median else None
        # ~128-256 MB parquet per bucket file is the sweet spot at scale;
        # advise doubling once the AVERAGE bucket outgrows it (max alone
        # flags skew, which salting/AQE handle — resizing won't)
        advise = avg > 256 * 1024 * 1024
        return {
            "version": m["version"],
            "n_buckets": m["n_buckets"],
            "write_mode": m.get("write_mode", "cow"),
            "total_bytes": int(sum(sizes)),
            "avg_bucket_bytes": int(avg),
            "median_bucket_bytes": int(median),
            "max_bucket_bytes": int(mx),
            "skew_max_over_median": skew,
            "pending_delta_files": n_deltas,
            "rebucket_advised": bool(advise),
            "advised_n_buckets": int(m["n_buckets"] * 2) if advise else None,
        }

    #: Marker persisted INSIDE the table dir for the duration of a rename:
    #: written (with the pre-move path) before ``os.rename`` and removed
    #: only after every manifest's path prefixes are rewritten, so a crash
    #: anywhere in between is repaired by the next open (see
    #: :meth:`_repair_pending_rename`).
    _RENAME_MARKER = "_PENDING_RENAME_FROM"

    def rename_to(self, new_path: str) -> None:
        """Metadata-level table move (the lake analogue of the reference's
        replayed renameCollection command, mongo/handler.py:156-163, and of
        an Iceberg catalog rename): ONE directory rename — no data rewrite —
        then a path-prefix rewrite over the version manifests, whose file
        lists are absolute. Same-filesystem ``os.rename`` is atomic; crash
        safety comes from the ``_PENDING_RENAME_FROM`` marker written before
        the move: if the process dies between the move and the manifest
        rewrite, the marker (now inside the moved dir, carrying the old
        prefix) makes the next ``manifest()``/``read()`` re-run the — fully
        idempotent — prefix rewrite before serving any paths."""
        new_path = os.path.normpath(new_path)
        old_path = os.path.normpath(self.path)
        if os.path.exists(new_path):
            raise FileExistsError(f"rename target exists: {new_path}")
        marker = os.path.join(old_path, self._RENAME_MARKER)
        tmp = marker + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(old_path)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, marker)
        os.makedirs(os.path.dirname(new_path), exist_ok=True)
        os.rename(old_path, new_path)
        self.path = new_path
        self._fix_manifest_prefixes(old_path)
        os.remove(os.path.join(new_path, self._RENAME_MARKER))

    def _repair_pending_rename(self) -> None:
        """Finish a crashed :meth:`rename_to`: if the marker survives, the
        manifests may still carry the pre-move path prefix — rewrite them
        against the CURRENT path (a no-op for any manifest already fixed)
        and only then drop the marker. Called from :meth:`manifest`, so no
        read can observe stale absolute paths."""
        marker = os.path.join(self.path, self._RENAME_MARKER)
        if not os.path.exists(marker):
            return
        with open(marker) as f:
            old_path = f.read().strip()
        if old_path and old_path != os.path.normpath(self.path):
            self._fix_manifest_prefixes(old_path)
        os.remove(marker)

    def _fix_manifest_prefixes(self, old_path: str) -> None:
        """Rewrite every version manifest's absolute file paths from
        ``old_path`` to the current ``self.path`` (idempotent: paths not
        under the old prefix pass through untouched)."""
        new_path = os.path.normpath(self.path)

        def fix(p: str) -> str:
            return new_path + p[len(old_path):] if p.startswith(old_path + os.sep) else p

        for name in sorted(os.listdir(self._versions_dir)):
            if not name.endswith(".json"):
                continue
            mpath = os.path.join(self._versions_dir, name)
            with open(mpath) as f:
                m = json.load(f)
            m["buckets"] = {b: [fix(p) for p in fs] for b, fs in m.get("buckets", {}).items()}
            if m.get("deltas"):
                m["deltas"] = {b: [fix(p) for p in fs] for b, fs in m["deltas"].items()}
            tmp = mpath + f".tmp.{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(m, f)
            os.replace(tmp, mpath)

    # -------------------------------------------------------------- utils

    def vacuum_tombstones(self, before_ts) -> dict:
        """Physically drop tombstones older than ``before_ts`` (a safe
        horizon: no replay can reach below the retained stream history).
        Full-table rewrite as one new version — run rarely, like Iceberg
        ``rewrite_data_files``."""
        m = self.manifest()
        version = m["version"] + 1
        df = self.read(include_tombstones=True).withColumn(
            BUCKET_COL, bucket_expr(manifest_bucket_cols(m), m["n_buckets"])
        )
        kept = df.where(
            ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            | (F.col(m["ts_col"]) >= F.lit(before_ts))
        )
        buckets = self._write_buckets(kept, version, m["n_buckets"])
        all_buckets = {str(b): [] for b in range(m["n_buckets"])}
        all_buckets.update(buckets)
        # the rewrite resolved any pending deltas into the new base — keeping
        # them would re-apply residual $inc deltas on the next read
        self._commit(dict(m, version=version, buckets=all_buckets, deltas={}))
        return {"version": version}

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental changelog between two snapshot versions (Iceberg
        incremental-read analogue) — what a downstream training pipeline
        consumes instead of rescanning the table. Cost is bounded by the
        TOUCHED buckets: buckets whose file/delta lists are identical in
        both manifests are skipped entirely, and the row-level diff is one
        full-outer join per touched bucket set.

        Rows: table columns (new values; deletes carry the tombstone's
        last-known values) plus ``_change_type`` ∈ insert / update / delete. ``update`` requires a
        newer ts (rewritten-but-identical rows inside a touched bucket are
        NOT changes and are filtered)."""
        m_from = self.manifest(from_version)
        m_to = self.manifest(to_version)
        if m_to.get("n_buckets") != m_from.get("n_buckets"):
            touched = None  # rebucket between versions: diff everything
        else:
            touched = sorted(
                int(b)
                for b in set(m_to["buckets"]) | set(m_from["buckets"])
                if m_to["buckets"].get(b) != m_from["buckets"].get(b)
                or m_to.get("deltas", {}).get(b) != m_from.get("deltas", {}).get(b)
            )
            if not touched:
                schema = T.StructType.fromJson(m_to["schema"])
                empty = T.StructType(
                    schema.fields + [T.StructField("_change_type", T.StringType())]
                )
                return self.spark.createDataFrame([], empty)
        key_cols: list[str] = m_to["key_cols"]
        ts_col: str = m_to["ts_col"]
        old = self.read(version=from_version, buckets=touched,
                        include_tombstones=True)
        new = self.read(version=m_to["version"], buckets=touched,
                        include_tombstones=True)
        cols = [f.name for f in T.StructType.fromJson(m_to["schema"]).fields]
        for c in cols:  # schema evolution between the versions
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None))
        o, n = old.alias("o"), new.alias("n")
        j = o.join(n, [o[k].eqNullSafe(n[k]) for k in key_cols], "full_outer")
        o_dead = F.coalesce(F.col(f"o.{DELETED_COL}"), F.lit(False))
        n_dead = F.coalesce(F.col(f"n.{DELETED_COL}"), F.lit(False))
        o_live = F.col(f"o.{ts_col}").isNotNull() & ~o_dead
        n_live = F.col(f"n.{ts_col}").isNotNull() & ~n_dead
        change = (
            F.when(~o_live & n_live, F.lit("insert"))
            .when(o_live & ~n_live & n_dead, F.lit("delete"))
            .when(o_live & n_live
                  & (F.col(f"n.{ts_col}") > F.col(f"o.{ts_col}")),
                  F.lit("update"))
        )
        out_cols = [
            F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}")).alias(c)
            if c in key_cols else F.col(f"n.{c}").alias(c)
            for c in cols
        ]
        return (
            j.select(*out_cols, change.alias("_change_type"))
            .where(F.col("_change_type").isNotNull())
        )

    def rebucket(self, new_n_buckets: int) -> dict:
        """Bucket-count evolution (Iceberg partition-spec-evolution
        analogue): a table created with N buckets eventually outgrows them
        — per-bucket files get huge and MERGE parallelism caps at N. One
        full rewrite into ``new_n_buckets`` as a new version (rare,
        amortized like vacuum); tombstones and pending MoR deltas are
        carried/folded into the new base, batch-id bookkeeping survives,
        and subsequent merges pick the new count up from the manifest
        (probe/write bucket math reads the manifest, not the config)."""
        if new_n_buckets < 1:
            raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
        m = self.manifest()
        version = m["version"] + 1
        df = self.read(include_tombstones=True).withColumn(
            BUCKET_COL, bucket_expr(manifest_bucket_cols(m), new_n_buckets)
        )
        buckets = self._write_buckets(df, version, new_n_buckets)
        all_buckets = {str(b): [] for b in range(new_n_buckets)}
        all_buckets.update(buckets)
        self._commit(dict(
            m, version=version, n_buckets=new_n_buckets,
            buckets=all_buckets, deltas={},
        ))
        return {"version": version, "n_buckets": new_n_buckets}

    def expire_versions(self, keep: int = 3) -> int:
        """Drop data/manifests older than the newest ``keep`` versions that
        are not referenced by them (Iceberg ``expire_snapshots``)."""
        latest = self.latest_version()
        keep_versions = set(range(max(1, latest - keep + 1), latest + 1))
        referenced: set[str] = set()
        for v in keep_versions:
            try:
                mv = self.manifest(v)
            except FileNotFoundError:
                continue
            for files in mv["buckets"].values():
                referenced.update(files)
            for files in mv.get("deltas", {}).values():
                referenced.update(files)
        removed = 0
        for sub in ("data", "delta"):
            data_root = os.path.join(self.path, sub)
            if os.path.isdir(data_root):
                for vdir in list(os.listdir(data_root)):
                    full = os.path.join(data_root, vdir)
                    for root, _dirs, files in os.walk(full):
                        for fn in files:
                            p = os.path.join(root, fn)
                            if fn.endswith(".parquet") and p not in referenced:
                                os.remove(p)
                                removed += 1
        return removed
