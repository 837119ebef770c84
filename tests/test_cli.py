"""CLI / TOML-config entry point (reference UX: ``python sync.py -f
conf.toml``, /root/reference/sync.py:14-37, config_file.py:8-80), the
standalone check verdict tool (/root/reference/check.py:138-146), and
DDL-skip telemetry (mongo/handler.py:156-163 log-and-skip, upgraded to
counted lineage rows)."""

from __future__ import annotations

import json

import pandas as pd
import pytest

from py_mongo_sync_spark.config_file import load_config
from py_mongo_sync_spark.sources.generate import (
    gen_oplog_events,
    gen_transcripts_snapshot,
    oracle_replay,
    write_events_jsonl,
)


def _write_conf(tmp_path, body: str) -> str:
    p = tmp_path / "conf.toml"
    p.write_text(body)
    return str(p)


def test_load_config_full(tmp_path):
    conf = _write_conf(tmp_path, """
[src]
events_path = "/data/oplog"
events_format = "parquet"
snapshot_path = "/data/snap"

[dst]
path = "/lake/t"
checkpoint_path = "/lake/cp"

[engine]
n_buckets = 8
write_mode = "mor"

[sync]
start_optime = 777

[[sync.dbs]]
db = "chat"
rename_db = "chat_v2"
colls = ["transcripts", { coll = "notes", fields = ["text", "role"] }]

[[sync.dbs]]
db = "logs"
""")
    cfg, extras = load_config(conf)
    assert cfg.dst_path == "/lake/t" and cfg.checkpoint_path == "/lake/cp"
    assert cfg.n_buckets == 8 and cfg.write_mode == "mor"
    assert cfg.include_colls == frozenset(
        {"chat.transcripts", "chat.notes", "logs.*"})
    assert cfg.db_mapping == {"chat": "chat_v2"}
    assert cfg.include_fields == frozenset({"text", "role"})
    assert extras["start_optime"] == 777
    assert extras["events_format"] == "parquet"
    # filter semantics survive the load (wildcard + rename)
    assert cfg.valid_ns("logs.anything") and cfg.valid_ns("chat.notes")
    assert not cfg.valid_ns("other.t")
    assert cfg.map_ns("chat.transcripts") == "chat_v2.transcripts"


def test_load_config_rejects_unknown_engine_key(tmp_path):
    conf = _write_conf(tmp_path, """
[dst]
path = "/lake/t"
[engine]
n_bukkets = 8
""")
    with pytest.raises(ValueError, match="unknown"):
        load_config(conf)


def test_cli_full_sync_and_idempotent_rerun(spark, tmp_path):
    from py_mongo_sync_spark.__main__ import main
    from py_mongo_sync_spark.plans.lake import LakeTable

    snap = gen_transcripts_snapshot(spark, 10, 3)
    ev = gen_oplog_events(spark, 10, 3, 200)
    snap.write.parquet(str(tmp_path / "snap"))
    write_events_jsonl(ev, str(tmp_path / "ev"), n_files=2)
    conf = _write_conf(tmp_path, f"""
[src]
events_path = "{tmp_path}/ev"
snapshot_path = "{tmp_path}/snap"
[dst]
path = "{tmp_path}/lake"
checkpoint_path = "{tmp_path}/cp"
[engine]
n_buckets = 4
""")
    assert main(["-f", conf, "--cores", "8"]) == 0

    expected = oracle_replay(snap.toPandas(), ev.toPandas())
    table = LakeTable(spark, str(tmp_path / "lake"))
    got = table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(expected)
    assert list(got["text"]) == list(expected["text"])

    # rerun: everything replays idempotently, final state unchanged
    assert main(["-f", conf, "--cores", "8"]) == 0
    assert table.read().count() == len(expected)

    # resume flag resolves the watermark without error
    assert main(["-f", conf, "--cores", "8", "--resume"]) == 0


def test_check_cli_verdict(spark, tmp_path, capsys):
    from py_mongo_sync_spark.check import main as check_main
    from py_mongo_sync_spark.config import SyncConfig
    from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

    snap = gen_transcripts_snapshot(spark, 8, 3)
    cfg = SyncConfig(dst_path=str(tmp_path / "lake"),
                     checkpoint_path=str(tmp_path / "cp"), n_buckets=2)
    pipe = CdcPipeline(spark, cfg)
    pipe.initial_sync(snap)
    snap.write.parquet(str(tmp_path / "expected"))

    rc = check_main([str(tmp_path / "expected"), str(tmp_path / "lake"),
                     "--cols", "role,text,ts"])
    out = capsys.readouterr().out
    assert rc == 0 and "SUCCESS" in out

    # perturb: drop a row from the expectation → FAILED, exit 1
    snap.limit(5).write.parquet(str(tmp_path / "expected_bad"))
    rc = check_main([str(tmp_path / "expected_bad"), str(tmp_path / "lake"),
                     "--cols", "role,text,ts"])
    out = capsys.readouterr().out
    assert rc == 1 and "FAILED" in out


def test_ddl_commands_and_skip_telemetry(spark, tmp_path):
    from py_mongo_sync_spark.config import SyncConfig
    from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

    cfg = SyncConfig(dst_path=str(tmp_path / "lake"),
                     checkpoint_path=str(tmp_path / "cp"), n_buckets=2)
    pipe = CdcPipeline(spark, cfg)
    pipe.initial_sync(gen_transcripts_snapshot(spark, 6, 2))

    ev = spark.createDataFrame([
        (10, "c", "chat.transcripts", json.dumps({"cmd": "add_column", "name": "score", "type": "double"})),
        (11, "c", "chat.transcripts", json.dumps({"cmd": "renameCollection", "to": "x"})),
        (12, "c", "chat.transcripts", json.dumps({"cmd": "collMod"})),
        (13, "i", "chat.transcripts", json.dumps(
            {"conv_id": "c9", "turn_idx": 0, "role": "user", "text": "x", "score": 1.5})),
    ], "ts long, op string, ns string, doc string")
    res = pipe.apply_batch(ev, 0)
    assert res["ddl"] == {"applied": 1, "skipped": 2,
                          "skipped_cmds": ["renameCollection", "collMod"]}
    # skipped DDL is auditable from the lineage table alone
    marker = pipe.cplog.read().where("partition_id = -2").collect()
    assert len(marker) == 1 and marker[0]["n_events"] == 2
    assert "score" in pipe.table.read().columns

    # drop_column + truncate round-trip
    ev2 = spark.createDataFrame([
        (20, "c", "chat.transcripts", json.dumps({"cmd": "drop_column", "name": "score"})),
    ], "ts long, op string, ns string, doc string")
    res2 = pipe.apply_batch(ev2, 1)
    assert res2["ddl"]["applied"] == 1
    assert "score" not in pipe.table.read().columns
    ev3 = spark.createDataFrame([
        (30, "c", "chat.transcripts", json.dumps({"cmd": "truncate"})),
    ], "ts long, op string, ns string, doc string")
    pipe.apply_batch(ev3, 2)
    assert pipe.table.read().count() == 0


def test_cli_multi_table_sync_from_toml_catalog(spark, tmp_path):
    """r2 VERDICT #7: `--multi` builds the namespace catalog from
    [[sync.dbs]] alone (no explicit ns_list anywhere) and syncs every
    listed collection to its own table — wildcard dbs are discovered from
    the event stream, the reference's _collect_colls analogue."""
    from py_mongo_sync_spark.__main__ import main
    from py_mongo_sync_spark.plans.lake import LakeTable

    ev = gen_oplog_events(
        spark, 10, 3, 400, ns_main="chat.transcripts",
        ns_extra=[("chat.notes", 25), ("logs.events", 20), ("junk.skipme", 10)],
    )
    write_events_jsonl(ev, str(tmp_path / "ev"), n_files=2)
    conf = _write_conf(tmp_path, f"""
[src]
events_path = "{tmp_path}/ev"
[dst]
path = "{tmp_path}/lakes"
checkpoint_path = "{tmp_path}/cps"
[engine]
n_buckets = 4

[[sync.dbs]]
db = "chat"
colls = ["transcripts", "notes"]

[[sync.dbs]]
db = "logs"
""")
    assert main(["-f", conf, "--cores", "8", "--multi"]) == 0

    ev_pdf = ev.toPandas()
    empty = pd.DataFrame(columns=["conv_id", "turn_idx", "role", "text", "ts"])
    for ns in ["chat.transcripts", "chat.notes", "logs.events"]:
        t = LakeTable(spark, str(tmp_path / "lakes" / ns.replace(".", "__")))
        exp = oracle_replay(empty, ev_pdf, dst_ns=ns)
        got = t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        assert len(got) == len(exp), (ns, len(got), len(exp))
        assert list(got["text"]) == list(exp["text"]), ns
    # the unlisted namespace was filtered by the catalog, not synced
    import os
    assert not os.path.exists(str(tmp_path / "lakes" / "junk__skipme"))

    # idempotent rerun over the same checkpoint
    assert main(["-f", conf, "--cores", "8", "--multi"]) == 0
    t = LakeTable(spark, str(tmp_path / "lakes" / "chat__transcripts"))
    exp = oracle_replay(empty, ev_pdf, dst_ns="chat.transcripts")
    assert t.read().count() == len(exp)

    # --resume resolves the min cross-table watermark and changes nothing
    assert main(["-f", conf, "--cores", "8", "--multi", "--resume"]) == 0
    assert t.read().count() == len(exp)


def test_cli_rebucket_admin(spark, tmp_path):
    """Admin path: sync, rebucket via the CLI, then keep syncing against
    the evolved layout."""
    from py_mongo_sync_spark.__main__ import main
    from py_mongo_sync_spark.plans.lake import LakeTable

    snap = gen_transcripts_snapshot(spark, 10, 3)
    ev = gen_oplog_events(spark, 10, 3, 150)
    snap.write.parquet(str(tmp_path / "snap"))
    write_events_jsonl(ev, str(tmp_path / "ev"), n_files=1)
    conf = _write_conf(tmp_path, f"""
[src]
events_path = "{tmp_path}/ev"
snapshot_path = "{tmp_path}/snap"
[dst]
path = "{tmp_path}/lake"
checkpoint_path = "{tmp_path}/cp"
[engine]
n_buckets = 2
""")
    assert main(["-f", conf, "--cores", "8"]) == 0
    t = LakeTable(spark, str(tmp_path / "lake"))
    n_before = t.read().count()

    assert main(["-f", conf, "--cores", "8", "--rebucket", "8"]) == 0
    assert t.manifest()["n_buckets"] == 8
    assert t.read().count() == n_before

    # a later sync of NEW events applies against the evolved layout
    ev2 = gen_oplog_events(spark, 10, 3, 60, start_optime=10 * 3 + 1000 + 150,
                           seed=3)
    write_events_jsonl(ev2, str(tmp_path / "ev2"), n_files=1)
    conf2 = _write_conf(tmp_path, f"""
[src]
events_path = "{tmp_path}/ev2"
[dst]
path = "{tmp_path}/lake"
checkpoint_path = "{tmp_path}/cp"
[engine]
n_buckets = 2
""")
    # new source path → its own spark checkpoint (a file-stream checkpoint
    # is bound to one source path); the epoch guard makes the restarted
    # batch ids apply rather than skip
    assert main(["-f", conf2, "--cores", "8",
                 "--spark-checkpoint", str(tmp_path / "scp2")]) == 0
    assert t.manifest()["n_buckets"] == 8   # layout stays evolved
    assert t.read().count() >= n_before     # second segment applied


def test_cli_admin_vacuum_and_expire(spark, tmp_path):
    """Admin maintenance path: vacuum old tombstones and expire history
    through the CLI."""
    from py_mongo_sync_spark.__main__ import main
    from py_mongo_sync_spark.plans.lake import LakeTable

    snap = gen_transcripts_snapshot(spark, 8, 3)
    ev = gen_oplog_events(spark, 8, 3, 120)
    snap.write.parquet(str(tmp_path / "snap"))
    write_events_jsonl(ev, str(tmp_path / "ev"), n_files=1)
    conf = _write_conf(tmp_path, f"""
[src]
events_path = "{tmp_path}/ev"
snapshot_path = "{tmp_path}/snap"
[dst]
path = "{tmp_path}/lake"
checkpoint_path = "{tmp_path}/cp"
[engine]
n_buckets = 2
""")
    assert main(["-f", conf, "--cores", "8"]) == 0
    t = LakeTable(spark, str(tmp_path / "lake"))
    n_live = t.read().count()
    had_dead = t.read(include_tombstones=True).where("_deleted").count()
    assert had_dead > 0

    # vacuum with a horizon past everything: all tombstones drop, live
    # rows intact; then expire down to the newest 2 versions
    assert main(["-f", conf, "--cores", "8",
                 "--vacuum-tombstones", "999999",
                 "--expire-versions", "2"]) == 0
    assert t.read().count() == n_live
    assert t.read(include_tombstones=True).where("_deleted").count() == 0
