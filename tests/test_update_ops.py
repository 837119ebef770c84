"""Mongo update-operator semantics ($set/$unset/$inc/set-null), the
equal-ts seq tiebreak, probe/merge bucket-hash safety, bounded manifests and
telemetry — round-2 hardening.

Reference semantics under test: $set/$unset translation
(/root/reference/mongosync/es/syncer.py:182-216), server-side full update
replay (/root/reference/mongosync/mongo/handler.py:152), log-and-skip for
inexpressible commands (mongo/handler.py:156-163)."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_mongo_sync_spark.config import SyncConfig
from py_mongo_sync_spark.operators.dedup import fold_net_events, fold_net_events_agg
from py_mongo_sync_spark.schema import KEY_COLS
from py_mongo_sync_spark.sources.generate import oracle_replay
from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

SCHEMA = (
    "conv_id string, turn_idx int, ts long, seq long, op string, "
    "is_patch boolean, text string, role string, score double, "
    "unset_cols array<string>, inc_map map<string,double>"
)


def _ev(conv, turn, ts, op, is_patch=False, text=None, role=None, score=None,
        unset=None, inc=None, seq=None):
    return (conv, turn, ts, seq if seq is not None else ts, op, is_patch,
            text, role, score, unset, inc)


def _fold(spark, rows, fn=fold_net_events):
    df = spark.createDataFrame(rows, SCHEMA)
    out = fn(
        df, key_cols=["conv_id", "turn_idx"],
        payload_cols=["text", "role", "score"], ts_col="ts",
        seq_col="seq", unset_col="unset_cols", inc_col="inc_map",
    )
    return {(r["conv_id"], r["turn_idx"]): r.asDict() for r in out.collect()}


BOTH_FOLDS = [fold_net_events, fold_net_events_agg]


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_unset_over_replace_nulls_field(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 1, "i", text="a", role="user"),
        _ev("c", 0, 2, "u", is_patch=True, unset=["role"]),
    ], fn)
    r = net[("c", 0)]
    assert r["text"] == "a" and r["role"] is None and not r["_is_patch"]


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_set_then_unset_then_set_composes(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 1, "u", is_patch=True, text="p1"),
        _ev("c", 0, 2, "u", is_patch=True, unset=["text"]),
        _ev("c", 0, 3, "u", is_patch=True, text="p3"),
    ], fn)
    r = net[("c", 0)]
    assert r["_is_patch"] and r["text"] == "p3" and r["_unset_cols"] == []


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_leading_unset_survives_as_patch_meta(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 1, "u", is_patch=True, unset=["text"]),
        _ev("c", 0, 2, "u", is_patch=True, role="assistant"),
    ], fn)
    r = net[("c", 0)]
    assert r["_is_patch"] and r["role"] == "assistant"
    assert r["_unset_cols"] == ["text"] and r["text"] is None


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_inc_over_base_folds_to_value(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 1, "i", text="a", score=1.0),
        _ev("c", 0, 2, "u", is_patch=True, inc={"score": 2.5}),
        _ev("c", 0, 3, "u", is_patch=True, inc={"score": -1.0}),
    ], fn)
    r = net[("c", 0)]
    assert r["score"] == 2.5 and not r["_is_patch"] and r["_inc_map"] == {}


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_inc_on_missing_base_stays_residual(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 1, "u", is_patch=True, inc={"score": 2.0}),
        _ev("c", 0, 2, "u", is_patch=True, inc={"score": 3.0}),
    ], fn)
    r = net[("c", 0)]
    assert r["_is_patch"] and r["score"] is None
    assert r["_inc_map"] == {"score": 5.0}


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_inc_after_unset_resolves_from_zero(spark, fn):
    # Mongo: $unset then $inc → field equals the increment
    net = _fold(spark, [
        _ev("c", 0, 1, "u", is_patch=True, unset=["score"]),
        _ev("c", 0, 2, "u", is_patch=True, inc={"score": 7.0}),
    ], fn)
    r = net[("c", 0)]
    assert r["_is_patch"] and r["score"] == 7.0
    assert r["_unset_cols"] == [] and r["_inc_map"] == {}


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_set_wins_over_older_inc(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 1, "u", is_patch=True, inc={"score": 9.0}),
        _ev("c", 0, 2, "u", is_patch=True, score=1.0),
    ], fn)
    r = net[("c", 0)]
    assert r["score"] == 1.0 and r["_inc_map"] == {}


@pytest.mark.parametrize("fn", BOTH_FOLDS)
def test_equal_ts_seq_tiebreak_deterministic(spark, fn):
    net = _fold(spark, [
        _ev("c", 0, 5, "u", text="first", seq=1),
        _ev("c", 0, 5, "u", text="second", seq=2),
    ], fn)
    assert net[("c", 0)]["text"] == "second"


# --------------------------------------------------------------- MERGE e2e


def _mk_pipe(spark, tmp_path, n_buckets=4, snap_rows=None):
    cfg = SyncConfig(
        dst_path=str(tmp_path / "lake"), checkpoint_path=str(tmp_path / "cp"),
        n_buckets=n_buckets,
    )
    pipe = CdcPipeline(spark, cfg)
    rows = snap_rows or [
        ("c0", 0, "user", "hello", pd.Timestamp(1_700_000_000, unit="s").to_pydatetime()),
        ("c0", 1, "assistant", "hi", pd.Timestamp(1_700_000_001, unit="s").to_pydatetime()),
        ("c1", 0, "user", "yo", pd.Timestamp(1_700_000_002, unit="s").to_pydatetime()),
    ]
    snap = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    pipe.initial_sync(snap)
    return pipe


def _events_df(spark, events):
    return spark.createDataFrame(events, "ts long, op string, ns string, doc string")


def test_unset_e2e_nulls_target_column(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    ev = [
        (10, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0, "$unset": {"role": ""}})),
    ]
    pipe.apply_batch(_events_df(spark, ev), 0)
    got = {(r["conv_id"], r["turn_idx"]): r for r in pipe.table.read().collect()}
    assert got[("c0", 0)]["role"] is None
    assert got[("c0", 0)]["text"] == "hello"  # untouched column kept
    assert got[("c0", 1)]["role"] == "assistant"  # other keys untouched


def test_set_null_e2e_equals_unset(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    ev = [
        (10, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 1, "$set": {"text": None, "role": "tool"}})),
    ]
    pipe.apply_batch(_events_df(spark, ev), 0)
    got = {(r["conv_id"], r["turn_idx"]): r for r in pipe.table.read().collect()}
    assert got[("c0", 1)]["text"] is None and got[("c0", 1)]["role"] == "tool"


def test_inc_e2e_evolves_and_accumulates(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    # batch 0: $inc creates the score column via schema evolution
    pipe.apply_batch(_events_df(spark, [
        (10, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0, "$inc": {"score": 3}})),
    ]), 0)
    # batch 1: accumulates on the existing value
    pipe.apply_batch(_events_df(spark, [
        (11, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0, "$inc": {"score": -1}})),
        (12, "u", "chat.transcripts",
         json.dumps({"conv_id": "c1", "turn_idx": 0, "$inc": {"score": 5}})),
    ]), 1)
    got = {(r["conv_id"], r["turn_idx"]): r for r in pipe.table.read().collect()}
    assert got[("c0", 0)]["score"] == 2.0
    assert got[("c1", 0)]["score"] == 5.0
    assert got[("c0", 1)]["score"] is None  # untouched key: NULL backfill


def test_inc_on_absent_key_is_noop(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    pipe.apply_batch(_events_df(spark, [
        (10, "u", "chat.transcripts",
         json.dumps({"conv_id": "ghost", "turn_idx": 9, "$inc": {"score": 3}})),
    ]), 0)
    keys = {(r["conv_id"], r["turn_idx"]) for r in pipe.table.read().collect()}
    assert ("ghost", 9) not in keys


def test_unsupported_op_applies_rest_and_counts(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    ev = [
        (10, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0,
                     "$set": {"text": "kept"}, "$push": {"tags": "x"}})),
    ]
    res = pipe.apply_batch(_events_df(spark, ev), 0)
    assert res["n_unsupported_ops"] == 1
    got = {(r["conv_id"], r["turn_idx"]): r for r in pipe.table.read().collect()}
    assert got[("c0", 0)]["text"] == "kept"  # $set part still applied


def test_strict_ops_fails_batch(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    pipe.cfg.strict_ops = True
    ev = [
        (10, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0, "$rename": {"a": "b"}})),
    ]
    with pytest.raises(RuntimeError, match="update operators"):
        pipe.apply_batch(_events_df(spark, ev), 0)


def test_strict_ops_enforced_on_big_batch_probe_skip_path(spark, tmp_path):
    """r2 ADVICE medium: the big-batch path (n_data ≥ n_buckets ×
    probe_skip_factor) skipped the doc scan, left n_unsupported_ops=None,
    and the falsy-None gate let a $push batch apply partially under
    strict_ops=True. Now strict mode always measures — the cheap rlike
    aggregate runs even when the key probe is skipped."""
    pipe = _mk_pipe(spark, tmp_path, n_buckets=2)
    pipe.cfg.probe_skip_factor = 5   # big-batch threshold: 2*5 = 10 events
    pipe.cfg.strict_ops = True
    # no column the table lacks → the MERGE really takes the all-buckets path
    pipe.cfg.include_fields = frozenset({"role", "text"})
    ev = [
        (10 + i, "i", "chat.transcripts",
         json.dumps({"conv_id": f"c{i}", "turn_idx": 0, "role": "user",
                     "text": f"t{i}"}))
        for i in range(19)
    ] + [
        (40, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0, "$push": {"tags": "x"}})),
    ]
    before = pipe.table.latest_version()
    with pytest.raises(RuntimeError, match="update operators"):
        pipe.apply_batch(_events_df(spark, ev), 0)
    assert pipe.table.latest_version() == before  # nothing applied

    # and the same big batch WITHOUT strict mode applies cleanly (no gate),
    # rewriting every bucket without the MERGE's own bucket probe (a probe
    # shows as changed=None here)
    seen = []
    prep = pipe.table._prep_source

    def spy(source, m, changed):
        seen.append(changed)
        return prep(source, m, changed)

    pipe.table._prep_source = spy
    pipe.cfg.strict_ops = False
    res = pipe.apply_batch(_events_df(spark, ev), 1)
    assert not res["skipped"]
    assert seen == [[0, 1]]
    assert res["changed_buckets"] == 2


def test_small_batch_lineage_counts_ddl_events(spark, tmp_path):
    """A batch below the all-buckets threshold counts every i/u/d/c event
    in its one lineage row, its add_column command included."""
    pipe = _mk_pipe(spark, tmp_path)
    ev = [
        (10, "c", "chat.transcripts",
         json.dumps({"cmd": "add_column", "name": "tool", "type": "string"})),
        (11, "i", "chat.transcripts",
         json.dumps({"conv_id": "c2", "turn_idx": 0, "role": "user",
                     "text": "new", "tool": "calc"})),
        (12, "u", "chat.transcripts",
         json.dumps({"conv_id": "c0", "turn_idx": 0, "$set": {"text": "p"}})),
        (13, "d", "chat.transcripts", json.dumps({"conv_id": "c1", "turn_idx": 0})),
        (14, "n", "chat.transcripts", "{}"),
    ]
    assert len(ev) < pipe.cfg.n_buckets * pipe.cfg.probe_skip_factor
    res = pipe.apply_batch(_events_df(spark, ev), 0)
    rows = pipe.cplog.read().collect()
    assert [(r["batch_id"], r["n_events"], r["max_ts"]) for r in rows] == [(0, 4, 13)]
    assert res["n_events"] == 4
    assert "tool" in pipe.table.manifest()["columns"]


def test_mixed_ops_batch_matches_sequential_oracle(spark, tmp_path):
    """One batch interleaving $set/$unset/$inc/set-null/replace/delete on
    colliding keys must equal the event-by-event pandas replay."""
    pipe = _mk_pipe(spark, tmp_path)
    snap_pdf = pd.DataFrame([
        {"conv_id": "c0", "turn_idx": 0, "role": "user", "text": "hello",
         "ts": pd.Timestamp(1_700_000_000, unit="s")},
        {"conv_id": "c0", "turn_idx": 1, "role": "assistant", "text": "hi",
         "ts": pd.Timestamp(1_700_000_001, unit="s")},
        {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "yo",
         "ts": pd.Timestamp(1_700_000_002, unit="s")},
    ])
    ev = [
        (10, "u", "chat.transcripts", json.dumps({"conv_id": "c0", "turn_idx": 0, "$inc": {"score": 2}})),
        (11, "u", "chat.transcripts", json.dumps({"conv_id": "c0", "turn_idx": 0, "$unset": {"role": ""}})),
        (12, "u", "chat.transcripts", json.dumps({"conv_id": "c0", "turn_idx": 0, "$inc": {"score": 3}})),
        (13, "u", "chat.transcripts", json.dumps({"conv_id": "c0", "turn_idx": 1, "$set": {"text": None}})),
        (14, "i", "chat.transcripts", json.dumps({"conv_id": "c2", "turn_idx": 0, "role": "user", "text": "new"})),
        (15, "u", "chat.transcripts", json.dumps({"conv_id": "c2", "turn_idx": 0, "$inc": {"score": 7}})),
        (16, "d", "chat.transcripts", json.dumps({"conv_id": "c1", "turn_idx": 0})),
        (17, "u", "chat.transcripts", json.dumps({"conv_id": "c1", "turn_idx": 0, "$set": {"text": "ghost"}})),
    ]
    pipe.apply_batch(_events_df(spark, ev), 0)
    expected = oracle_replay(snap_pdf, pd.DataFrame(ev, columns=["ts", "op", "ns", "doc"]))
    got = (
        pipe.table.read().orderBy("conv_id", "turn_idx")
        .toPandas()[list(expected.columns)]
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), expected.reset_index(drop=True),
        check_dtype=False,
    )


# ------------------------------------------------- bucket-hash safety nets


def test_probe_bucket_matches_long_key_schema(spark, tmp_path):
    """Regression (ADVICE r1, high): a pandas-inferred snapshot types
    turn_idx long; the probe must hash keys at the TABLE schema's types, or
    its changed-bucket hint omits real buckets and a MERGE silently deletes
    unrelated pre-existing rows."""
    cfg = SyncConfig(dst_path=str(tmp_path / "lake"),
                     checkpoint_path=str(tmp_path / "cp"), n_buckets=2)
    snap_pdf = pd.DataFrame([
        {"conv_id": "c0", "turn_idx": 1, "role": "user", "text": "keep-me",
         "ts": pd.Timestamp(1_700_000_000, unit="s")},
    ])
    pipe = CdcPipeline(spark, cfg)
    pipe.initial_sync(spark.createDataFrame(snap_pdf))  # turn_idx: long
    for i, (conv, turn) in enumerate([("c1", 1), ("c2", 3), ("c3", 0), ("c4", 2)]):
        pipe.apply_batch(_events_df(spark, [
            (10 + i, "i", "chat.transcripts",
             json.dumps({"conv_id": conv, "turn_idx": turn, "role": "user", "text": f"t{i}"})),
        ]), i)
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in pipe.table.read().collect()}
    assert got[("c0", 1)] == "keep-me"
    assert len(got) == 5


def test_manifest_batch_bookkeeping_is_constant_size(spark, tmp_path):
    """Committed-batch bookkeeping is max + a fixed recent window — a
    10^6-microbatch stream must not grow the manifest (the r1 format
    appended every batch_id forever)."""
    import json as _json

    from py_mongo_sync_spark.plans.lake import LakeTable

    m = {"version": 1, "max_batch_id": None, "recent_batch_ids": []}
    t = LakeTable(spark, str(tmp_path / "x"))
    sizes = []
    for b in range(5000):
        m.update(t._batch_fields(m, b))
        sizes.append(len(_json.dumps(m)))
    assert len(m["recent_batch_ids"]) == t._BATCH_WINDOW
    assert max(sizes[2000:]) == sizes[-1] == min(sizes[2000:])  # flat
    assert t.is_committed(0, m) and t.is_committed(4999, m)
    assert not t.is_committed(5000, m)
    # legacy manifest migrates transparently
    legacy = {"version": 9, "batch_ids": [0, 1, 2]}
    assert t.is_committed(1, legacy) and not t.is_committed(3, legacy)


def test_merge_idempotence_survives_window(spark, tmp_path):
    """End-to-end: replays inside AND below the recent window are skipped."""
    pipe = _mk_pipe(spark, tmp_path, n_buckets=2)
    for b in range(3):
        pipe.table.merge(
            spark.createDataFrame(
                [("c0", 0, None, "t%d" % b, None, None,
                  pd.Timestamp(1_700_000_100 + b, unit="s").to_pydatetime(), "u", False)],
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, score double, ts timestamp, _op string, _is_patch boolean",
            ),
            batch_id=b,
        )
    assert pipe.table.is_committed(0) and pipe.table.is_committed(2)
    res = pipe.table.merge(
        spark.createDataFrame(
            [("c0", 0, None, "stale", None, None,
              pd.Timestamp(1_700_000_100, unit="s").to_pydatetime(), "u", False)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, score double, ts timestamp, _op string, _is_patch boolean",
        ),
        batch_id=1,
    )
    assert res["skipped"]
    got = {(r["conv_id"], r["turn_idx"]): r["text"] for r in pipe.table.read().collect()}
    assert got[("c0", 0)] == "t2"


def test_salted_fold_equals_plain_fold_on_hot_key(spark):
    """fold_net_events_salted (time-contiguous two-phase) must equal the
    single-phase fold exactly — including interleaved $set/$unset/$inc on
    one flooded key (an ARBITRARY split would reorder patch composition)."""
    import random

    from py_mongo_sync_spark.operators.dedup import fold_net_events_salted

    rng = random.Random(13)
    rows = []
    for ts in range(1000, 1400):  # one hot key, 400 events
        kind = rng.choice(["i", "set", "unset", "inc", "d"])
        if kind == "i":
            rows.append(_ev("hot", 0, ts, "i", text=f"t{ts}", role="user", score=1.0))
        elif kind == "set":
            rows.append(_ev("hot", 0, ts, "u", is_patch=True, text=f"p{ts}"))
        elif kind == "unset":
            rows.append(_ev("hot", 0, ts, "u", is_patch=True, unset=["role"]))
        elif kind == "inc":
            rows.append(_ev("hot", 0, ts, "u", is_patch=True,
                            inc={"score": float(rng.randint(-3, 3))}))
        else:
            rows.append(_ev("hot", 0, ts, "d"))
    # plus a few cold keys
    for ts in range(1400, 1420):
        rows.append(_ev(f"c{ts % 5}", ts % 3, ts, "i", text=f"x{ts}", role="user"))

    df = spark.createDataFrame(rows, SCHEMA)
    kw = dict(key_cols=["conv_id", "turn_idx"], payload_cols=["text", "role", "score"],
              ts_col="ts", seq_col="seq", unset_col="unset_cols", inc_col="inc_map")
    plain = {(r["conv_id"], r["turn_idx"]): r.asDict()
             for r in fold_net_events(df, **kw).collect()}
    salted = {(r["conv_id"], r["turn_idx"]): r.asDict()
              for r in fold_net_events_salted(df, ts_lo=1000, ts_hi=1419, n_salt=8, **kw).collect()}
    assert plain == salted and len(plain) > 5

    # r2 ADVICE low: bounds tighter than the data (events BELOW ts_lo /
    # above ts_hi) must still fold correctly — the salt is clamped into
    # [0, n_salt) at both ends, so out-of-range events join the edge slices
    # instead of creating a negative slice that breaks slice-order=time-order
    clamped = {(r["conv_id"], r["turn_idx"]): r.asDict()
               for r in fold_net_events_salted(df, ts_lo=1100, ts_hi=1300, n_salt=8, **kw).collect()}
    assert plain == clamped


def test_pipeline_fold_salt_matches_oracle(spark, tmp_path):
    from py_mongo_sync_spark.sources.generate import (
        gen_oplog_events,
        gen_transcripts_snapshot,
        oracle_replay,
    )

    cfg = SyncConfig(dst_path=str(tmp_path / "lake"),
                     checkpoint_path=str(tmp_path / "cp"),
                     n_buckets=4, fold_salt=8)
    pipe = CdcPipeline(spark, cfg)
    snap = gen_transcripts_snapshot(spark, 10, 3)
    ev = gen_oplog_events(spark, 10, 3, 300, hot_frac=0.5)  # heavy single-conv skew
    pipe.initial_sync(snap)
    pipe.apply_batch(ev, 0)
    expected = oracle_replay(snap.toPandas(), ev.toPandas())
    expected = expected.where(pd.notnull(expected), None)
    got = pipe.table.read().toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    cols = [c for c in expected.columns if c in got.columns]
    pd.testing.assert_frame_equal(got[cols], expected[cols].reset_index(drop=True),
                                  check_dtype=False)


def test_replayed_batch_appends_no_lineage(spark, tmp_path):
    pipe = _mk_pipe(spark, tmp_path)
    ev = _events_df(spark, [
        (10, "i", "chat.transcripts",
         json.dumps({"conv_id": "c9", "turn_idx": 0, "role": "user", "text": "x"})),
    ])
    pipe.apply_batch(ev, 0)
    n1 = pipe.cplog.read().count()
    res = pipe.apply_batch(ev, 0)  # replay
    assert res["skipped"]
    assert pipe.cplog.read().count() == n1
