"""Vectorized BSON-ish JSON parse — the event-payload decode step, and the
only code in the engine that decodes a change-event doc.

Reference analogue: per-event dict handling throughout
(mongosync/multi_oplog_replayer.py:99-121) and the ``$set`` translation
(mongosync/es/syncer.py:182-216). Runs as an Arrow UDF: batches cross the
JVM↔Python boundary as Arrow record batches and the payload struct is built
straight from Python lists — no row-at-a-time serde, no pandas frame. It
normalizes:

- ``$set`` patches: ``{conv_id, turn_idx, "$set": {...}}`` →
  flat columns + ``is_patch=True`` (UpdateOne semantics:
  multi_oplog_replayer.py:105-112);
- BSON extended-JSON scalars: ``{"$numberLong": "7"}``,
  ``{"$numberInt": "7"}``, ``{"$date": <ms>}``;
- missing/extra fields (schemaless source → fixed lake schema).

Stdlib ``json`` is the authority on what a doc means (bare ``NaN`` and
``Infinity`` included). A doc that is not a JSON object reads as an empty
row, so its event drops like an undecodable one; a field whose JSON type
its column cannot hold reads as NULL in that column only.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type

from py_mongo_sync_spark.exprcache import per_context
from py_mongo_sync_spark.schema import payload_parse_schema

_BSON_SCALARS = ("$numberLong", "$numberInt", "$numberDouble")
_META = ("is_patch", "unset_cols", "inc_map")


def _unwrap(v):
    """Extended-JSON scalar → its value; a malformed wrapper stays a dict
    (which no column can hold, so it reads as NULL)."""
    if isinstance(v, dict):
        try:
            for k in _BSON_SCALARS:
                if k in v:
                    num = v[k]
                    return float(num) if k == "$numberDouble" else int(num)
            if "$date" in v:
                return int(v["$date"])
        except (TypeError, ValueError, OverflowError):
            pass
    return v


#: what a value its column cannot hold raises from pyarrow
_MISFIT = (pa.ArrowException, TypeError, ValueError, OverflowError)


def _convert(vals: list, typ: pa.DataType) -> pa.Array:
    if pa.types.is_integer(typ):
        # a typed conversion truncates 1.5 to 1 without a word: infer, then
        # cast (safe: an integral double such as 3.0 fits; truncation,
        # NaN and overflow raise)
        arr = pa.array(vals)
        t = arr.type
        if not (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_null(t)):
            raise TypeError(f"{t} values in an {typ} column")
        return arr.cast(typ)
    return pa.array(vals, type=typ)


def _fit(v, typ: pa.DataType):
    """``v`` as a ``typ`` column holds it, or None if it cannot."""
    try:
        if type(v) is int and pa.types.is_floating(typ):
            v = float(v)  # a JSON integer past int64 is still a number
        _convert([v], typ)
        return v
    except _MISFIT:
        return None


def _column(vals: list, typ: pa.DataType) -> pa.Array:
    """One ``pa.array`` call per column; only a column that holds a misfit
    is rebuilt, value by value, with the misfits nulled."""
    try:
        return _convert(vals, typ)
    except _MISFIT:
        return _convert([_fit(v, typ) for v in vals], typ)


def _parse_one(s: str | None, cols: list[str]) -> dict:
    out: dict = dict.fromkeys(cols)
    out["is_patch"] = False
    out["unset_cols"] = None
    out["inc_map"] = None
    if not s:
        return out
    try:
        d = json.loads(s)
    except (ValueError, RecursionError):
        return out
    if not isinstance(d, dict):
        return out
    patch = d.pop("$set", None)
    unset = d.pop("$unset", None)
    inc = d.pop("$inc", None)
    # any other $-operator ($push/$rename/...) is ignored here and counted
    # into batch telemetry by the pipeline's envelope stats (reference
    # posture: the ES syncer translates only $set/$unset,
    # es/syncer.py:182-216; unknown DDL is logged-and-skipped,
    # mongo/handler.py:156-163)
    for k in [k for k in d if k.startswith("$")]:
        d.pop(k)
    if patch is not None or unset is not None or inc is not None:
        # an operator whose argument is not an object changes nothing, but
        # the event stays a patch: it must never replace the row
        out["is_patch"] = True
        unset_cols: set = set()
        if isinstance(patch, dict):
            for k, v in patch.items():
                if v is None:
                    unset_cols.add(k)  # $set to null ≡ $unset on fixed schema
                else:
                    d[k] = v
        if isinstance(unset, dict):
            unset_cols.update(unset.keys())
        out["unset_cols"] = sorted(unset_cols)
        if isinstance(inc, dict) and inc:
            out["inc_map"] = {
                k: x for k, v in inc.items()
                if (x := _fit(_unwrap(v), pa.float64())) is not None
            }
    for c in cols:
        if c in d:
            out[c] = _unwrap(d[c])
    return out


try:  # C JSON decoder (~5× json.loads on short docs); stdlib fallback
    import orjson as _fastjson
except ImportError:  # pragma: no cover - orjson ships in this env
    _fastjson = None


def make_parse_udf(with_tool: bool = True):
    """Build the Arrow parse UDF: string doc → payload struct.

    Two tiers per row (guide §4.2 — do the heavy lifting in native code):
    a doc with neither a ``"$`` byte nor an escaped ``$`` (``\\u0024``) — no
    update operators, no BSON extended-JSON scalars, the overwhelming
    majority of a real oplog — decodes with the C JSON parser straight
    into per-column lists. Any other doc, and any doc the C parser rejects
    (bare ``NaN``, lone surrogates, ...), takes the exact stdlib
    :func:`_parse_one` path (a false positive — ``"$`` inside PAYLOAD
    text — merely pays the slow path).
    """
    schema = payload_parse_schema(with_tool)
    names = [f.name for f in schema.fields]
    cols = [c for c in names if c not in _META]
    fields = [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields]

    @F.arrow_udf(schema)
    def parse_doc(doc: pa.Array) -> pa.Array:
        loads = _fastjson.loads if _fastjson is not None else json.loads
        docs = doc.to_pylist()
        n = len(docs)
        data: dict = {c: [None] * n for c in names}
        data["is_patch"] = [False] * n
        for i, s in enumerate(docs):
            if not s:
                continue
            if '"$' not in s and "\\u0024" not in s:
                try:
                    d = loads(s)
                except (ValueError, RecursionError):
                    d = None  # stdlib decides below
                if type(d) is dict:
                    for c in cols:
                        v = d.get(c)
                        if v is not None:
                            data[c][i] = v
                    continue
            out = _parse_one(s, cols)
            for c in names:
                data[c][i] = out[c]
        return pa.StructArray.from_arrays(
            [_column(data[f.name], f.type) for f in fields], fields=fields
        )

    return parse_doc


def parsed_events(df: DataFrame, with_tool: bool = True) -> DataFrame:
    """Envelope + decoded payload: adds payload columns, ``is_patch``,
    ``unset_cols`` and ``inc_map``. The optional envelope ``seq`` column
    (oplog increment, the equal-ts tiebreak) passes through."""
    parse, cols = _parse_plan(with_tool, "seq" in df.columns)
    return df.withColumn("_p", parse).select(*cols)


@per_context
def _parse_plan(with_tool: bool, has_seq: bool) -> tuple[Column, tuple[Column, ...]]:
    """The parse UDF applied to ``doc``, and the output projection — one
    UDF per SparkContext, reused by every batch."""
    extra = ["seq"] if has_seq else []
    return make_parse_udf(with_tool)(F.col("doc")), tuple(
        F.col(c) for c in ["ts", *extra, "op", "ns", "_p.*"]
    )
