"""TOML config loader — the reference's whole UX is
``python sync.py -f conf.toml`` (/root/reference/sync.py:17,
command_options.py:13-63, config_file.py:8-80). Same file shape, adapted to
lake destinations:

.. code-block:: toml

    [src]
    events_path = "/data/oplog"        # change-event files (JSON lines / parquet)
    events_format = "json"
    snapshot_path = "/data/snapshot"   # optional initial-load parquet

    [dst]
    path = "/lake/transcripts"
    checkpoint_path = "/lake/_checkpoints"

    [engine]
    n_buckets = 64
    write_mode = "mor"                 # or "cow"

    [sync]
    start_optime = 12345               # reference: sync.start_optime

    [[sync.dbs]]                       # reference: per-db/coll filter + rename
    db = "chat"
    rename_db = "chat_v2"
    colls = ["transcripts",
             { coll = "notes", fields = ["text", "role"] }]

Per-collection field lists union into the engine's global projection
allowlist (the reference keeps a per-ns fieldmap, config_file.py:56-67 —
our payload schema is shared across destinations, so one allowlist).
"""

from __future__ import annotations

import tomllib

from py_mongo_sync_spark.config import SyncConfig, gen_namespace


def load_config(path: str) -> tuple[SyncConfig, dict]:
    """Parse a TOML config file → (SyncConfig, extras). ``extras`` carries
    the non-engine settings: src paths/format and start_optime."""
    with open(path, "rb") as f:
        tml = tomllib.load(f)

    dst = tml.get("dst", {})
    if "path" not in dst:
        raise ValueError("config: [dst] path is required")
    engine = tml.get("engine", {})
    sync = tml.get("sync", {})

    include_colls: set[str] = set()
    db_mapping: dict[str, str] = {}
    include_fields: set[str] = set()
    for dbentry in sync.get("dbs", []):
        if not dbentry.get("db"):
            raise ValueError("config: 'db' missing/empty in sync.dbs")
        dbname = dbentry["db"].strip()
        rename_db = dbentry.get("rename_db", "").strip()
        if rename_db:
            if dbname in db_mapping:
                raise ValueError(f"config: duplicate db in sync.dbs: {dbname}")
            db_mapping[dbname] = rename_db
        colls = dbentry.get("colls")
        if not colls:
            include_colls.add(gen_namespace(dbname, "*"))
            continue
        for collentry in colls:
            if isinstance(collentry, str):
                include_colls.add(gen_namespace(dbname, collentry.strip()))
            elif isinstance(collentry, dict):
                if not collentry.get("coll"):
                    raise ValueError("config: 'coll' missing/empty in sync.dbs.colls")
                include_colls.add(gen_namespace(dbname, collentry["coll"].strip()))
                include_fields.update(f.strip() for f in collentry.get("fields", []))
            else:
                raise ValueError(f"config: invalid sync.dbs.colls entry: {collentry!r}")

    known = {f.name for f in SyncConfig.__dataclass_fields__.values()}
    engine_kw = {k: v for k, v in engine.items() if k in known}
    unknown = set(engine.keys()) - known
    if unknown:
        raise ValueError(f"config: unknown [engine] keys: {sorted(unknown)}")

    cfg = SyncConfig(
        src_path=tml.get("src", {}).get("snapshot_path", ""),
        dst_path=dst["path"],
        checkpoint_path=dst.get("checkpoint_path", dst["path"] + "_checkpoints"),
        include_colls=frozenset(include_colls),
        db_mapping=db_mapping,
        include_fields=frozenset(include_fields),
        **engine_kw,
    )
    extras = {
        "events_path": tml.get("src", {}).get("events_path", ""),
        "events_format": tml.get("src", {}).get("events_format", "json"),
        "snapshot_path": tml.get("src", {}).get("snapshot_path", ""),
        "start_optime": sync.get("start_optime"),
        "dst_ns": dst.get("ns", "chat.transcripts"),
        # catalog inputs for multi-table sync: the explicitly-listed source
        # namespaces, and whether any db entry was a wildcard (db.*) that
        # needs stream-observed discovery
        "namespaces": sorted(
            ns for ns in include_colls if not ns.endswith(".*")
        ),
        "has_wildcard_dbs": any(ns.endswith(".*") for ns in include_colls),
    }
    return cfg, extras
