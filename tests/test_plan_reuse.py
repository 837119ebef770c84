"""Plan expressions are built once per signature and reused
(``py_mongo_sync_spark.exprcache``): a steady batch makes a bounded number
of py4j round trips, and pipelines or schemas that differ in any part of a
builder's key never share its expressions."""

from __future__ import annotations

import json
import sys
import threading

import pandas as pd
import py4j.java_gateway as jg
import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from py_mongo_sync_spark.config import SyncConfig
from py_mongo_sync_spark.exprcache import per_context
from py_mongo_sync_spark.sources.generate import oracle_replay
from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

EV_SCHEMA = "ts long, op string, ns string, doc string"
NS = "chat.transcripts"


def _snapshot(spark, rows):
    pdf = pd.DataFrame([
        {"conv_id": c, "turn_idx": t, "role": "user", "text": f"s-{c}-{t}",
         "ts": pd.Timestamp(1_700_000_000, unit="s")}
        for c, t in rows
    ])
    return pdf, spark.createDataFrame(
        pdf, "conv_id string, turn_idx long, role string, text string, ts timestamp"
    )


def _pipe(spark, tmp_path, name, **cfg_kw):
    cfg = SyncConfig(dst_path=str(tmp_path / name / "lake"),
                     checkpoint_path=str(tmp_path / name / "cp"), n_buckets=2, **cfg_kw)
    return cfg


def _ev(ts, op, ns, **doc):
    return (ts, op, ns, json.dumps(doc))


def _table_matches(pipe, expected: pd.DataFrame) -> None:
    """The table equals the oracle on every key and on the table's own
    columns (the oracle never drops a column)."""
    got = pipe.table.read().toPandas()
    cols = list(got.columns)
    assert set(cols) <= set(expected.columns), (cols, list(expected.columns))
    want = expected[cols].astype(object).where(pd.notnull(expected[cols]), None)
    got = got.astype(object).where(pd.notnull(got), None)
    key = ["conv_id", "turn_idx"]
    want = want.sort_values(key).reset_index(drop=True)
    got = got.sort_values(key).reset_index(drop=True)
    got["turn_idx"] = got["turn_idx"].astype(int)
    want["turn_idx"] = want["turn_idx"].astype(int)
    assert got.to_dict("records") == want.to_dict("records")


# ------------------------------------------------------------ the memo


def test_per_context_keys_on_args_and_live_context(monkeypatch):
    """One build per (live SparkContext, args); concurrent first calls all
    get the object that was kept."""
    built = []

    @per_context
    def build(a, b):
        built.append((a, b))
        return object()

    class Ctx:  # a weak-referenceable stand-in for a SparkContext
        pass

    first, second = Ctx(), Ctx()
    monkeypatch.setattr(SparkContext, "_active_spark_context", first)
    x = build(1, "a")
    assert build(1, "a") is x
    assert build(2, "a") is not x
    monkeypatch.setattr(SparkContext, "_active_spark_context", second)
    assert build(1, "a") is not x
    assert built == [(1, "a"), (2, "a"), (1, "a")]

    got = []
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda: got.append(build(3, "c")))
                   for _ in range(32)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(switch)
    assert len(got) == 32 and len({id(v) for v in got}) == 1


# ------------------------------------------------------- py4j budget


def _batch(n0, conv):
    """A small batch: replace, $set, $unset, insert, delete, no-op. It
    carries no column the table lacks, so two such batches share every
    plan signature."""
    return [
        _ev(n0, "u", NS, conv_id=conv, turn_idx=0, role="assistant", text=f"r{n0}"),
        _ev(n0 + 1, "u", NS, conv_id=conv, turn_idx=1, **{"$set": {"text": f"p{n0}"}}),
        _ev(n0 + 2, "u", NS, conv_id=conv, turn_idx=2, **{"$unset": {"role": ""}}),
        _ev(n0 + 3, "i", NS, conv_id=f"{conv}-new", turn_idx=n0, role="user", text="n"),
        _ev(n0 + 4, "d", NS, conv_id=conv, turn_idx=3),
        _ev(n0 + 5, "n", NS),
    ]


@pytest.mark.parametrize("write_mode", ["mor", "cow"])
def test_steady_batch_py4j_round_trip_budget(spark, tmp_path, monkeypatch, write_mode):
    """The second of two batches with one signature reuses every plan
    expression: it makes a bounded number of driver↔JVM round trips
    (rebuilding them costs ~7,000 on a MoR tail batch and ~10,000 on a CoW
    catch-up batch)."""
    cfg = _pipe(spark, tmp_path, write_mode, write_mode=write_mode)
    pipe = CdcPipeline(spark, cfg)
    pipe.initial_sync(_snapshot(spark, [(f"c{i}", t) for i in range(4) for t in range(4)])[1])
    pipe.apply_batch(spark.createDataFrame(_batch(10, "c0"), EV_SCHEMA), 0)

    second = spark.createDataFrame(_batch(20, "c1"), EV_SCHEMA)
    calls = [0]
    send = jg.GatewayClient.send_command

    def counting(self, *a, **kw):
        calls[0] += 1
        return send(self, *a, **kw)

    monkeypatch.setattr(jg.GatewayClient, "send_command", counting)
    res = pipe.apply_batch(second, 1)
    monkeypatch.undo()
    assert not res["skipped"] and res["changed_buckets"] >= 1
    assert calls[0] <= 1500, calls[0]


# ------------------------------------------------- cache-key equivalence


def test_interleaved_pipelines_with_different_filters_match_their_oracles(spark, tmp_path):
    """Five pipelines, each differing from another in exactly one
    namespace-filter input (include_colls, ns_mapping, db_mapping,
    destination namespace), apply the same batches, interleaved, in one
    session: each equals its own sequential replay, and its lineage counts
    exactly the events it accepts."""
    snap_pdf, snap = _snapshot(spark, [("c0", 0), ("c1", 0)])
    configs = {
        "plain": ({}, NS),
        "ns_map": (dict(ns_mapping={"app.msgs": NS}), NS),
        "filtered": (dict(include_colls=frozenset({"app.*"}),
                          ns_mapping={"app.msgs": NS}), NS),
        "db_map": (dict(db_mapping={"app": "chat"}), NS),
        "other_dst": ({}, "app.msgs"),
    }
    pipes = {}
    for name, (kw, dst_ns) in configs.items():
        pipes[name] = CdcPipeline(spark, _pipe(spark, tmp_path, name, **kw), dst_ns=dst_ns)
        pipes[name].initial_sync(snap)
    events = [
        _ev(10, "i", NS, conv_id="c2", turn_idx=0, role="user", text="chat"),
        _ev(11, "i", "app.msgs", conv_id="c3", turn_idx=0, role="user", text="msgs"),
        _ev(12, "i", "app.transcripts", conv_id="c4", turn_idx=0, role="user", text="app"),
        _ev(13, "u", "app.msgs", conv_id="c0", turn_idx=0, **{"$set": {"text": "m"}}),
        _ev(14, "i", "other.x", conv_id="c5", turn_idx=0, role="user", text="other"),
        _ev(20, "d", NS, conv_id="c1", turn_idx=0),
        _ev(21, "u", "app.transcripts", conv_id="c0", turn_idx=0, **{"$set": {"role": "a"}}),
        _ev(22, "i", "app.msgs", conv_id="c6", turn_idx=1, role="user", text="msgs2"),
        _ev(23, "u", NS, conv_id="c2", turn_idx=0, **{"$unset": {"role": ""}}),
        _ev(24, "u", "app.msgs", conv_id="c3", turn_idx=0, **{"$set": {"role": "b"}}),
    ]
    for bid, (lo, hi) in enumerate([(0, 5), (5, len(events))]):
        batch = spark.createDataFrame(events[lo:hi], EV_SCHEMA)
        for pipe in pipes.values():
            pipe.apply_batch(batch, bid)
    ev_pdf = pd.DataFrame(events, columns=["ts", "op", "ns", "doc"])
    for name, pipe in pipes.items():
        kw, dst_ns = configs[name]
        cfg = SyncConfig(**kw)
        expected = oracle_replay(snap_pdf, ev_pdf, cfg=cfg, dst_ns=dst_ns)
        _table_matches(pipe, expected)
        accepted = sum(1 for _ts, op, ns, _d in events
                       if cfg.valid_oplog(op, ns) and cfg.map_ns(ns) == dst_ns)
        assert pipe.cplog.read().agg(F.sum("n_events")).first()[0] == accepted, name


@pytest.mark.parametrize("write_mode", ["mor", "cow"])
def test_schema_changes_mid_stream_match_oracle_batch_by_batch(spark, tmp_path, write_mode):
    """One stream whose table schema changes three times — `score`
    evolves from a $inc, then an add_column, then a drop_column — equals
    the sequential replay after every batch (on MoR, through read()'s
    delta resolution)."""
    snap_pdf, snap = _snapshot(spark, [(f"c{i}", t) for i in range(3) for t in range(2)])
    pipe = CdcPipeline(spark, _pipe(spark, tmp_path, write_mode, write_mode=write_mode,
                                    compact_threshold=0))
    pipe.initial_sync(snap)
    batches = [
        # no schema change
        [_ev(10, "u", NS, conv_id="c0", turn_idx=0, **{"$set": {"text": "a"}}),
         _ev(11, "i", NS, conv_id="c3", turn_idx=0, role="user", text="b")],
        # score evolves from data, on the same table schema as batch 0
        [_ev(20, "u", NS, conv_id="c0", turn_idx=1, **{"$inc": {"score": 2}}),
         _ev(21, "u", NS, conv_id="c1", turn_idx=0, **{"$set": {"text": "c"}}),
         _ev(22, "u", NS, conv_id="c0", turn_idx=1, **{"$inc": {"score": 3}})],
        # add_column tool, then values for it
        [_ev(30, "c", NS, cmd="add_column", name="tool", type="string"),
         _ev(31, "i", NS, conv_id="c4", turn_idx=0, role="user", text="d", tool="calc"),
         _ev(32, "u", NS, conv_id="c0", turn_idx=1, **{"$inc": {"score": 1}}),
         _ev(33, "u", NS, conv_id="c1", turn_idx=1, **{"$set": {"tool": "web"}})],
        # drop_column tool
        [_ev(40, "c", NS, cmd="drop_column", name="tool"),
         _ev(41, "u", NS, conv_id="c2", turn_idx=0, **{"$inc": {"score": 5}}),
         _ev(42, "d", NS, conv_id="c3", turn_idx=0)],
        # steady after the drop
        [_ev(50, "u", NS, conv_id="c2", turn_idx=1, **{"$set": {"text": "e"}}),
         _ev(51, "u", NS, conv_id="c0", turn_idx=1, **{"$inc": {"score": -1}})],
    ]
    seen = []
    for bid, batch in enumerate(batches):
        seen += batch
        pipe.apply_batch(spark.createDataFrame(batch, EV_SCHEMA), bid)
        expected = oracle_replay(snap_pdf, pd.DataFrame(seen, columns=["ts", "op", "ns", "doc"]))
        _table_matches(pipe, expected)
        cols = pipe.table.read().columns
        assert ("score" in cols) == (bid >= 1)
        assert ("tool" in cols) == (bid == 2)
    if write_mode == "mor":
        assert any(pipe.table.manifest()["deltas"].values())  # reads resolved deltas


def test_merge_sources_of_different_shapes_onto_one_table_schema(spark, tmp_path):
    """Sources that differ only in their own columns (with or without the
    patch-meta columns, with or without a column the table lacks) merge
    into tables of one schema, interleaved, each exactly as if alone."""
    import datetime as dt

    from py_mongo_sync_spark.plans.lake import LakeTable

    ts = [dt.datetime(2024, 1, 1, 0, 0, s) for s in range(4)]
    base = spark.createDataFrame(
        [("a", 0, "x", ts[0]), ("b", 1, "y", ts[0])],
        "conv_id string, turn_idx int, text string, ts timestamp",
    )
    plain = "conv_id string, turn_idx int, text string, ts timestamp, _op string, _is_patch boolean"
    sources = {
        "plain": (plain, lambda i: ("a", 0, f"p{i}", ts[i + 1], "u", False)),
        "meta": (plain + ", _unset_cols array<string>",
                 lambda i: ("b", 1, None, ts[i + 1], "u", True, ["text"])),
        "wider": (plain + ", tool string",
                  lambda i: ("c", 2, f"w{i}", ts[i + 1], "u", False, f"t{i}")),
    }
    tables = {}
    for name in sources:
        tables[name] = LakeTable(spark, str(tmp_path / name)).create_or_replace(
            base, key_cols=["conv_id", "turn_idx"], n_buckets=2)
    for i in range(2):
        for name, (schema, row) in sources.items():
            tables[name].merge(spark.createDataFrame([row(i)], schema), batch_id=i)
    got = {name: sorted(tuple(r) for r in t.read().select(
        "conv_id", "turn_idx", "text", *(["tool"] if name == "wider" else [])).collect())
        for name, t in tables.items()}
    assert got == {
        "plain": [("a", 0, "p1"), ("b", 1, "y")],
        "meta": [("a", 0, "x"), ("b", 1, None)],
        "wider": [("a", 0, "x", None), ("b", 1, "y", None), ("c", 2, "w1", "t1")],
    }


# ------------------------------------------------ restart staleness gate


def _edge_batches(case):
    """Two batches around a restart; ``case`` names the events at the
    edge. Every optime is contiguous except in ``true_gap``."""
    first = [_ev(10 + i, "i", NS, conv_id="c9", turn_idx=i, role="user", text="x")
             for i in range(4)]
    second = [_ev(14 + i, "i", NS, conv_id="c8", turn_idx=i, role="user", text="y")
              for i in range(4)]
    if case == "noop_last_before":
        first[-1] = _ev(13, "n", NS)
    elif case == "noop_first_after":
        second[0] = _ev(14, "n", NS)
    elif case == "foreign_ns_at_edge":
        first[-1] = _ev(13, "i", "other.coll", conv_id="z", turn_idx=0)
        second[0] = _ev(14, "i", "other.coll", conv_id="z", turn_idx=1)
    elif case == "true_gap":
        second = [_ev(ts + 5, op, ns, **json.loads(doc)) for ts, op, ns, doc in second]
    return first, second


@pytest.mark.parametrize(
    "case", ["noop_last_before", "noop_first_after", "foreign_ns_at_edge", "true_gap"]
)
def test_restart_gate_reads_every_delivered_optime(spark, tmp_path, case):
    """A restarted pipeline resumes when a no-op or another namespace's
    event sits at the restart edge (neither is in the lineage watermark),
    and still aborts on a real gap in the delivered optimes."""
    cfg = _pipe(spark, tmp_path, case)
    first, second = _edge_batches(case)
    pipe = CdcPipeline(spark, cfg)
    pipe.initial_sync(_snapshot(spark, [("c0", 0)])[1])
    pipe.apply_batch(spark.createDataFrame(first, EV_SCHEMA), 0)

    restarted = CdcPipeline(spark, cfg)
    batch = spark.createDataFrame(second, EV_SCHEMA)
    if case == "true_gap":
        with pytest.raises(RuntimeError, match="stale"):
            restarted.apply_batch(batch, 1)
        return
    restarted.apply_batch(batch, 1)
    keys = {(r["conv_id"], r["turn_idx"]) for r in restarted.table.read().collect()}
    assert {("c8", 1), ("c8", 2), ("c8", 3)} <= keys
