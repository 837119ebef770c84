"""Current-document sync through CdcPipeline's LakeTable sink — the
scenarios of the reference's second syncer (dispatch sync.py:25-34; ES
syncer es/syncer.py), served by the one table format: partial-update
translation, deletes as tombstones that every read hides, batch-id replay
skips, the epoch guard, and per-batch rewrites of touched buckets only."""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd
from pyspark.sql import functions as F

from py_mongo_sync_spark.config import SyncConfig
from py_mongo_sync_spark.sources.generate import (
    gen_oplog_events,
    gen_transcripts_snapshot,
    oracle_replay,
)
from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

NS = "chat.transcripts"
ENVELOPE = "ts long, op string, ns string, doc string"


def _pipe(spark, tmp_path, n_buckets=2):
    cfg = SyncConfig(dst_path=str(tmp_path / "index"),
                     checkpoint_path=str(tmp_path / "cp"), n_buckets=n_buckets)
    return CdcPipeline(spark, cfg)


def _keys(pipe) -> set:
    return {(r["conv_id"], r["turn_idx"]) for r in pipe.table.read().collect()}


def test_search_sink_matches_oracle_over_batches(spark, tmp_path):
    pipe = _pipe(spark, tmp_path)
    snap = gen_transcripts_snapshot(spark, 10, 3)
    ev = gen_oplog_events(spark, 10, 3, 240)
    pipe.initial_sync(snap)
    # contiguous optime ranges: the oplog source contract is in-order
    # delivery across microbatches (patch composition equality with the
    # sequential oracle requires it; disorder-tolerance is covered by the
    # tombstone/LWW tests)
    lo = ev.agg(F.min("ts")).first()[0]
    for i in range(3):
        pipe.apply_batch(
            ev.where((F.col("ts") >= lo + i * 80) & (F.col("ts") < lo + (i + 1) * 80)), i
        )

    expected = oracle_replay(snap.toPandas(), ev.toPandas())
    got = pipe.table.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    cols = [c for c in expected.columns if c in got.columns]
    pd.testing.assert_frame_equal(
        got[cols], expected[cols].reset_index(drop=True), check_dtype=False
    )


def test_search_sink_deletes_are_tombstones_and_replays_skip(spark, tmp_path):
    """A delete leaves a tombstone that every read hides; vacuum purges it;
    re-applying the batch id is a skip."""
    pipe = _pipe(spark, tmp_path)
    pipe.initial_sync(gen_transcripts_snapshot(spark, 6, 2))
    d = spark.createDataFrame(
        [(50, "d", NS, json.dumps({"conv_id": "conv_000001", "turn_idx": 1}))],
        ENVELOPE,
    )
    assert not pipe.apply_batch(d, 0)["skipped"]
    assert ("conv_000001", 1) not in _keys(pipe)
    dead = pipe.table.read(include_tombstones=True).where("_deleted").collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in dead] == [("conv_000001", 1)]
    assert pipe.apply_batch(d, 0)["skipped"]  # idempotent on batch_id

    pipe.table.vacuum_tombstones(before_ts=dt.datetime(2100, 1, 1))
    assert pipe.table.read(include_tombstones=True).where("_deleted").count() == 0
    assert ("conv_000001", 1) not in _keys(pipe)
    assert len(_keys(pipe)) == 6 * 2 - 1


def test_search_sink_stale_insert_after_delete_stays_deleted(spark, tmp_path):
    """A delete at ts 100, then a replayed insert of the same key at ts 50
    in a later batch: the tombstone's ts wins, the key stays deleted."""
    pipe = _pipe(spark, tmp_path)
    snap = spark.createDataFrame(
        [(k, 0, "user", "t", pd.Timestamp(1_700_000_010, unit="s").to_pydatetime())
         for k in ("a", "b")],
        "conv_id string, turn_idx int, role string, text string, ts timestamp")
    pipe.initial_sync(snap)
    key = {"conv_id": "a", "turn_idx": 0}
    pipe.apply_batch(spark.createDataFrame(
        [(100, "d", NS, json.dumps(key))], ENVELOPE), 0)
    res = pipe.apply_batch(spark.createDataFrame(
        [(50, "i", NS, json.dumps(dict(key, role="user", text="zombie")))],
        ENVELOPE), 1)
    assert not res["skipped"]
    assert _keys(pipe) == {("b", 0)}


def test_search_sink_partial_update_translation(spark, tmp_path):
    """$set/$unset/$inc → the ES partial-update analogue
    (es/syncer.py:182-216), resolved against the current doc."""
    pipe = _pipe(spark, tmp_path)
    pipe.initial_sync(gen_transcripts_snapshot(spark, 6, 2))
    ev = spark.createDataFrame([
        (60, "u", NS, json.dumps({"conv_id": "conv_000000", "turn_idx": 0,
                                  "$set": {"text": "patched"}})),
        (61, "u", NS, json.dumps({"conv_id": "conv_000000", "turn_idx": 0,
                                  "$unset": {"role": ""}})),
        (62, "u", NS, json.dumps({"conv_id": "conv_000000", "turn_idx": 1,
                                  "$inc": {"score": 2.5}})),
        (63, "u", NS, json.dumps({"conv_id": "ghost", "turn_idx": 0,
                                  "$set": {"text": "x"}})),  # absent → no-op
    ], ENVELOPE)
    pipe.apply_batch(ev, 0)
    got = {(r["conv_id"], r["turn_idx"]): r.asDict() for r in pipe.table.read().collect()}
    assert got[("conv_000000", 0)]["text"] == "patched"
    assert got[("conv_000000", 0)]["role"] is None
    assert got[("conv_000000", 1)]["score"] == 2.5  # evolved via the event
    assert ("ghost", 0) not in got


def test_search_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """Per-batch I/O is O(touched buckets), not O(table): a one-key batch
    against a 10× table writes files for that key's bucket only, about a
    bucket's worth of bytes, and every other bucket keeps its files."""
    import os

    def batch_bytes(n_convs, sub):
        cfg = SyncConfig(dst_path=str(tmp_path / sub / "index"),
                         checkpoint_path=str(tmp_path / sub / "cp"),
                         n_buckets=8)
        pipe = CdcPipeline(spark, cfg)
        pipe.initial_sync(gen_transcripts_snapshot(spark, n_convs, 5))
        before = pipe.table.manifest()["buckets"]
        ev = spark.createDataFrame(
            [(10_000, "u", NS,
              json.dumps({"conv_id": "conv_000000", "turn_idx": 0,
                          "role": "user", "text": "patched"}))],
            ENVELOPE)
        res = pipe.apply_batch(ev, 0)
        assert res["changed_buckets"] == 1
        after = pipe.table.manifest()["buckets"]
        touched = [b for b in after if after[b] != before[b]]
        assert len(touched) == 1  # only the touched bucket was rewritten
        new = set(after[touched[0]]) - set(before[touched[0]])
        assert new
        return sum(os.path.getsize(f) for f in new), pipe

    small, _ = batch_bytes(40, "s")        # 200 docs
    big, pipe = batch_bytes(400, "b")      # 2000 docs (10×)
    # bucket sizes grow 10× but a bucket is 1/8 of the table: far below a
    # full rewrite, and the small/big ratio tracks bucket (not table) size
    assert big < small * 6
    # correctness after the pruned rewrite: doc count preserved, patch in
    got = pipe.table.read()
    assert got.count() == 2000
    assert got.where("conv_id = 'conv_000000' AND turn_idx = 0").first()["text"] == "patched"


def test_search_sink_delete_empties_bucket(spark, tmp_path):
    """All docs of a bucket deleted → the bucket reads as empty."""
    pipe = _pipe(spark, tmp_path)
    snap = spark.createDataFrame(
        [("only", 0, "user", "t", pd.Timestamp(1_700_000_000, unit="s").to_pydatetime())],
        "conv_id string, turn_idx int, role string, text string, ts timestamp")
    pipe.initial_sync(snap)
    ev = spark.createDataFrame(
        [(10_000, "d", NS, json.dumps({"conv_id": "only", "turn_idx": 0}))],
        ENVELOPE)
    res = pipe.apply_batch(ev, 0)
    assert not res["skipped"]
    assert pipe.table.read().count() == 0


def test_search_sink_expires_unreferenced_bucket_versions(spark, tmp_path):
    """Continuous streams must not grow storage unboundedly: expired
    versions drop files no recent manifest references, while files a recent
    manifest still points at (even in OLD version dirs) survive."""
    import os

    cfg = SyncConfig(dst_path=str(tmp_path / "index"),
                     checkpoint_path=str(tmp_path / "cp"), n_buckets=4,
                     keep_versions=2, expire_every=2)
    pipe = CdcPipeline(spark, cfg)
    pipe.initial_sync(gen_transcripts_snapshot(spark, 12, 3))
    ev = gen_oplog_events(spark, 12, 3, 120)
    stats = [pipe.apply_batch(ev.where(f"ts % 4 = {i}"), i) for i in range(4)]
    assert any(s.get("expired_files", 0) > 0 for s in stats)
    # current state fully readable: every live file pointer resolves
    m = pipe.table.manifest()
    live = [f for part in ("buckets", "deltas")
            for files in m.get(part, {}).values() for f in files]
    assert live and all(os.path.exists(f) for f in live)
    assert pipe.table.read().count() > 0


def test_search_sink_epoch_guard_and_run_stream(spark, tmp_path):
    """A second event segment under a FRESH spark checkpoint (batch ids
    restart at 0) must apply, not be skipped as a replay — and same-epoch
    re-delivery stays idempotent."""
    from py_mongo_sync_spark.sources.generate import write_events_jsonl
    from py_mongo_sync_spark.sources.oplog import read_oplog_stream

    cfg = SyncConfig(dst_path=str(tmp_path / "index"),
                     checkpoint_path=str(tmp_path / "cp"), n_buckets=4)
    pipe = CdcPipeline(spark, cfg)
    snap = gen_transcripts_snapshot(spark, 10, 3)
    pipe.initial_sync(snap)

    ev1 = gen_oplog_events(spark, 10, 3, 200)
    write_events_jsonl(ev1, str(tmp_path / "ev1"), n_files=2)
    pipe.run_stream(read_oplog_stream(spark, str(tmp_path / "ev1"),
                                      max_files_per_trigger=1),
                    str(tmp_path / "scp1"))
    n1 = pipe.table.read().count()

    # same checkpoint re-run: everything replays as committed (idempotent)
    pipe.run_stream(read_oplog_stream(spark, str(tmp_path / "ev1"),
                                      max_files_per_trigger=1),
                    str(tmp_path / "scp1"))
    assert pipe.table.read().count() == n1

    # fresh checkpoint + second segment: batch ids restart at 0 but MUST
    # apply under the new epoch
    ev2 = gen_oplog_events(spark, 10, 3, 120, start_optime=10 * 3 + 1000 + 200,
                           seed=5)
    write_events_jsonl(ev2, str(tmp_path / "ev2"), n_files=1)
    pipe2 = CdcPipeline(spark, cfg)
    pipe2.run_stream(read_oplog_stream(spark, str(tmp_path / "ev2"),
                                       max_files_per_trigger=1),
                     str(tmp_path / "scp2"))

    all_ev = pd.concat([ev1.toPandas(), ev2.toPandas()])
    exp = oracle_replay(snap.toPandas(), all_ev)
    assert pipe2.table.read().count() == len(exp)
