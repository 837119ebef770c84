"""Round-6 optimization pins: the fast parse path, the shared
shingle-hash signature, and the MERGE join strategy.

Each test pins an equivalence the optimization relies on — if a future
change breaks the fast path's parity with the exact path, these fail
before the driver's oracle does.
"""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- parse

#: every shape the parse contract covers, including the fast-path
#: triggers ('"$'-free docs) and every slow-path trigger
PARSE_DOCS = [
    # plain full doc (fast path)
    json.dumps({"conv_id": "c1", "turn_idx": 1, "role": "user", "text": "hi"}),
    # fast path with tool + score
    json.dumps({"conv_id": "c1", "turn_idx": 2, "role": "tool",
                "text": "t", "tool": "calc", "score": 7.5}),
    # key-only delete doc (fast path)
    json.dumps({"conv_id": "c2", "turn_idx": 0}),
    # $set patch (slow path)
    json.dumps({"conv_id": "c1", "turn_idx": 1, "$set": {"text": "patched"}}),
    # $set to null ≡ unset (slow path)
    json.dumps({"conv_id": "c1", "turn_idx": 1, "$set": {"role": None}}),
    # $unset + $inc (slow path)
    '{"conv_id": "c3", "turn_idx": 4, "$unset": {"role": ""}, "$inc": {"score": -2}}',
    # BSON extended-JSON scalars (slow path via '"$')
    '{"conv_id": "c4", "turn_idx": {"$numberInt": "9"}, "text": "x"}',
    # '"$' INSIDE a payload value — false-positive fast-path detection:
    # must still parse exactly (slow path, but not a patch)
    json.dumps({"conv_id": "c5", "turn_idx": 5, "text": 'price "$400"'}),
    # unparseable / empty / null docs
    "not json at all",
    "",
    None,
    "{}",
    # hostile shapes: bare NaN / Infinity (orjson rejects, stdlib reads),
    # an escaped "$set" key, $set to null, an extended-JSON key, escapes
    '{"conv_id": "h_nan", "turn_idx": 0, "role": "user", "text": "bare nan", '
    '"score": NaN}',
    '{"conv_id": "h_inf", "turn_idx": 0, "role": "user", "text": "bare infinity", '
    '"score": Infinity}',
    '{"conv_id": "r_esc", "turn_idx": 0, "\\u0024set": {"text": "escaped set"}}',
    '{"conv_id": "r_null", "turn_idx": 0, "$set": {"text": null}}',
    '{"conv_id": "h_long", "turn_idx": {"$numberLong": "7"}, "role": "assistant", '
    '"text": "extended json key"}',
    '{"conv_id": "h_uni", "turn_idx": 0, "role": "user", '
    '"text": "caf\\u00e9 \\ud83d\\ude00 \\u4e2d\\u6587 \\"q\\""}',
    # poison docs: not an object (the row reads empty) ...
    "null",
    "42",
    "[1]",
    '"x"',
    "[" * 100_000 + "]" * 100_000,  # past both decoders' nesting limits
    # ... and fields of a JSON type their column cannot hold (NULL there)
    '{"conv_id": "p1", "turn_idx": 1, "text": 5}',
    '{"conv_id": "p2", "turn_idx": "x", "text": "t"}',
    '{"conv_id": "p3", "turn_idx": 1.5, "text": "t"}',
    '{"conv_id": "p4", "turn_idx": 4, "score": "hi"}',
    '{"conv_id": "p5", "turn_idx": {"$numberLong": "abc"}}',
    '{"conv_id": "p6", "turn_idx": 6, "$set": 5}',
    # a lone surrogate: orjson rejects it, stdlib reads it, UTF-8 cannot
    # hold it
    '{"conv_id": "p7", "turn_idx": 7, "text": "\\ud800"}',
    # an integer past int64 in a double column, on both decoders
    '{"conv_id": "p8", "turn_idx": 8, "score": 123456789012345678901234567890}',
    '{"conv_id": "p9", "turn_idx": 9, "$set": {"score": 123456789012345678901234567890}}',
    # an integral double in the int key column is that integer (the Mongo
    # shell stores numbers as doubles; relaxed extended JSON writes 3.0),
    # on both decoders
    '{"conv_id": "p10", "turn_idx": 3.0, "text": "t"}',
    '{"conv_id": "p11", "turn_idx": {"$numberDouble": "3"}, "text": "t"}',
    '{"conv_id": "p12", "turn_idx": 1e20, "text": "t"}',
    '{"conv_id": "p13", "turn_idx": NaN, "text": "t"}',
]

#: the column type each payload field must fit; a value whose JSON type
#: misfits reads as NULL
_COL_TYPES = {"conv_id": str, "turn_idx": int, "role": str, "text": str,
              "tool": str, "score": float}


def _utf8(v: str) -> bool:
    try:
        v.encode("utf-8")
        return True
    except UnicodeEncodeError:
        return False


def _typed(v, typ):
    if typ is str:
        return v if type(v) is str and _utf8(v) else None
    if typ is int:
        if type(v) is float and v.is_integer():
            v = int(v)
        return v if type(v) is int and -2**31 <= v < 2**31 else None
    return float(v) if type(v) in (int, float) else None


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def _legacy_parse(docs, with_tool=True):
    """The pre-optimization reference output, row by row."""
    from py_mongo_sync_spark.functions.parse import _parse_one
    from py_mongo_sync_spark.schema import payload_parse_schema

    schema = payload_parse_schema(with_tool)
    cols = [f.name for f in schema.fields
            if f.name not in ("is_patch", "unset_cols", "inc_map")]
    return [_parse_one(s, cols) for s in docs]


def test_parse_udf_matches_legacy_row_semantics(spark):
    """The tiered UDF (C-JSON fast path + exact slow path) must produce
    the same rows the row-at-a-time stdlib reading does, for every contract
    shape including the '"$'-in-payload false positive, the hostile shapes
    and the poison docs (none of which may fail the batch)."""
    from py_mongo_sync_spark.functions.parse import parsed_events

    rows = [(i, i, "u", "chat.transcripts", s)
            for i, s in enumerate(PARSE_DOCS)]
    df = spark.createDataFrame(
        rows, "ts long, seq long, op string, ns string, doc string"
    )
    got = {r["ts"]: r.asDict() for r in parsed_events(df).collect()}
    exp = _legacy_parse(PARSE_DOCS)
    for i, e in enumerate(exp):
        g = got[i]
        for c, typ in _COL_TYPES.items():
            want = _typed(e[c], typ)
            assert _same(g[c], want), f"doc {i} col {c}: {g[c]!r} != {want!r}"
        assert g["is_patch"] == e["is_patch"], f"doc {i} is_patch"
        assert (g["unset_cols"] or None) == (e["unset_cols"] or None), f"doc {i} unset"
        assert (g["inc_map"] or None) == (e["inc_map"] or None), f"doc {i} inc"


# ------------------------------------------------- shared shingle hashes

def test_banded_rows_from_hashes_equals_signature_rows(spark):
    """banded_rows_from_hashes over the pinned distinct (doc, hash) frame
    must emit exactly the band rows banded_signature_rows computes from
    scratch (min over a distinct set ≡ min over the shingle multiset) —
    the equivalence the rare-shingle/banding pass-sharing rests on."""
    from py_mongo_sync_spark.operators.neardup import (
        banded_rows_from_hashes,
        banded_signature_rows,
        doc_shingle_hashes,
    )

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different text with its own shingles"),
         (4, "shrt")],  # shorter than k
        ["doc_id", "text"],
    )
    ref = {tuple(r) for r in
           banded_signature_rows(d, "doc_id", "text").collect()}
    dsh = doc_shingle_hashes(d, "doc_id", "text", k=5)
    got = {tuple(r) for r in banded_rows_from_hashes(dsh).collect()}
    dsh.unpersist()
    assert got == ref


# ----------------------------------------------------------- merge join

def test_cow_merge_plans_shuffled_hash_join(spark, tmp_path):
    """The CoW MERGE must plan a ShuffledHashJoin (not SortMergeJoin):
    microbatch plans run without AQE and would otherwise sort both the
    table and the batch on every merge."""
    from py_mongo_sync_spark.plans.lake import (
        BUCKET_COL, LakeTable, bucket_expr, manifest_bucket_cols,
    )

    t = LakeTable(spark, str(tmp_path / "lake"))
    base = spark.createDataFrame(
        [("c1", 1, "user", "a", 10), ("c2", 2, "user", "b", 11)],
        "conv_id string, turn_idx int, role string, text string, ts long",
    )
    t.create_or_replace(base, key_cols=["conv_id", "turn_idx"], n_buckets=4)

    captured = {}
    orig = LakeTable._write_buckets

    def spy(self, df, *a, **kw):
        captured["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return orig(self, df, *a, **kw)

    LakeTable._write_buckets = spy
    try:
        src = spark.createDataFrame(
            [("c1", 1, "user", "zz", 20, "u", False)],
            "conv_id string, turn_idx int, role string, text string, "
            "ts long, _op string, _is_patch boolean",
        )
        t.merge(src, batch_id=0)
    finally:
        LakeTable._write_buckets = orig
    assert "ShuffledHashJoin" in captured["plan"], captured["plan"][:2000]
    assert "SortMergeJoin" not in captured["plan"]
