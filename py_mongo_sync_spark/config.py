"""Sync configuration — namespace filter, rename map, field projection.

Reference analogue: ``Config`` (/root/reference/mongosync/config.py:30-73),
``DataFilter`` (/root/reference/mongosync/data_filter.py:4-60) and the TOML
loader (/root/reference/mongosync/config_file.py:8-80). Semantics ported
exactly (incl. ``db.*`` wildcard and the valid_oplog rules); execution is
pure Spark column expressions in :mod:`py_mongo_sync_spark.functions.namespace`.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def parse_namespace(ns: str) -> tuple[str, str]:
    """Split ``"<db>.<coll>"`` on the FIRST dot (collections may contain
    dots). Reference: /root/reference/mongosync/mongo_utils.py:182-187."""
    db, _, coll = ns.partition(".")
    return db, coll


def gen_namespace(db: str, coll: str) -> str:
    """Reference: /root/reference/mongosync/mongo_utils.py:189-192."""
    return f"{db}.{coll}"


@dataclass
class SyncConfig:
    """Everything the pipeline needs to know, in one place.

    include_colls
        Namespace allowlist; supports the ``db.*`` wildcard
        (reference: data_filter.py:25-31). Empty ⇒ pass everything.
    ns_mapping
        src-ns → dst-ns renames, built from db-level and coll-level maps like
        the reference's ``db_mapping``/``db_coll_mapping``
        (/root/reference/mongosync/config.py:65-73).
    include_fields
        Dotted-path projection allowlist (reference: doc_utils.py:37-49,
        config_file.py:56-67). Empty ⇒ keep all payload columns.
    """

    src_path: str = ""
    dst_path: str = ""
    checkpoint_path: str = ""
    include_colls: frozenset[str] = frozenset()
    db_mapping: dict[str, str] = field(default_factory=dict)
    ns_mapping: dict[str, str] = field(default_factory=dict)
    include_fields: frozenset[str] = frozenset()
    n_buckets: int = 16
    #: 'cow' rewrites changed buckets per MERGE (read-optimized);
    #: 'mor' appends per-bucket net-event delta files and resolves at read
    #: time (write ∝ batch size — the 100 TB streaming default), compacting
    #: a bucket once ``compact_threshold`` deltas accumulate.
    write_mode: str = "cow"
    compact_threshold: int = 16
    #: two-phase salted fold for single-key event floods: >0 splits each
    #: key's events into this many time-contiguous slices before the per-key
    #: fold (operators/dedup.py::fold_net_events_salted). 0 = single-phase.
    fold_salt: int = 0
    #: retain this many table versions for time travel; older data files are
    #: physically removed every ``expire_every`` batches (0 = never expire).
    keep_versions: int = 8
    expire_every: int = 32
    #: when a batch has ≥ n_buckets × this many data events (and no column
    #: the table lacks), the MERGE skips its changed-bucket probe of the
    #: parsed fold: essentially every bucket changes anyway, so it rewrites
    #: them all. Pruning still engages for small batches.
    probe_skip_factor: int = 200
    #: fail a batch that carries Mongo update operators the lake MERGE cannot
    #: express ($push/$rename/...); default = apply the expressible parts and
    #: count the rest into n_unsupported_ops telemetry (the reference's
    #: log-and-skip posture, mongo/handler.py:156-163).
    strict_ops: bool = False
    #: MultiCdcPipeline: per-table MERGE commits are independent (each table
    #: has its own manifest dir), so up to this many run concurrently from a
    #: thread pool — per-batch latency tracks the LARGEST table's merge, not
    #: the sum over all tables (the reference syncs whole replica sets:
    #: hundreds of collections). 1 = serial.
    merge_parallelism: int = 8

    # ---- DataFilter port (data_filter.py:19-51) ----------------------------

    @property
    def filter_active(self) -> bool:
        return bool(self.include_colls)

    @property
    def related_dbs(self) -> frozenset[str]:
        return frozenset(ns.split(".", 1)[0] for ns in self.include_colls)

    def valid_db(self, db: str) -> bool:
        return not self.related_dbs or db in self.related_dbs

    def valid_coll(self, db: str, coll: str) -> bool:
        if not self.include_colls:
            return True
        if f"{db}.*" in self.include_colls:
            return True
        return gen_namespace(db, coll) in self.include_colls

    def valid_ns(self, ns: str) -> bool:
        return self.valid_coll(*parse_namespace(ns))

    def valid_oplog(self, op: str, ns: str) -> bool:
        """Port of data_filter.py:40-51: pass-all when inactive; when active,
        drop no-ops, validate commands by db, everything else by full ns."""
        if not self.filter_active:
            return True
        if op == "n":
            return False
        if op == "c":
            return parse_namespace(ns)[0] in self.related_dbs
        return self.valid_ns(ns)

    # ---- rename map (config.py:65-73, applied mongo/syncer.py:298-301) ----

    def map_ns(self, ns: str) -> str:
        if ns in self.ns_mapping:
            return self.ns_mapping[ns]
        db, coll = parse_namespace(ns)
        if db in self.db_mapping:
            return gen_namespace(self.db_mapping[db], coll)
        return ns
