"""Sequential replay: the benchmark's own truth for the CDC tables.

Applies events one at a time in optime order with the engine's documented
apply contract, decoding every doc with stdlib ``json`` (the authority on
what a doc means, bare ``NaN``/``Infinity`` included):

- ``i`` and a ``u`` without update operators replace the row (upsert);
- a ``u`` with ``$set``/``$unset``/``$inc`` updates the row if it exists
  (no upsert); ``$set`` to null and ``$unset`` give NULL, ``$inc`` on a
  missing value starts from 0;
- ``d`` deletes; ``n`` does nothing; ``c`` ``add_column`` adds a column.

A payload column joins the table schema at the first delivered event that
carries a non-null value for it (or an ``$inc`` of it), as with Iceberg's
merge-schema. Row ``ts`` is the optime of the last event applied to it.
"""

from __future__ import annotations

import json

PAYLOAD = ("role", "text", "tool", "score")
_EXT = ("$numberLong", "$numberInt", "$numberDouble")


def _scalar(v):
    """Mongo extended-JSON scalar → its value."""
    if isinstance(v, dict):
        for k in _EXT:
            if k in v:
                return float(v[k]) if k == "$numberDouble" else int(v[k])
    return v


class Replay:
    def __init__(self, snapshot_rows: dict, columns: list[str]):
        self.rows = {k: dict(v) for k, v in snapshot_rows.items()}
        self.columns = [c for c in columns if c not in ("conv_id", "turn_idx")]
        self.counts = {"i": 0, "u": 0, "d": 0, "n": 0, "c": 0}
        self.max_ts = None

    def _evolve(self, col: str) -> None:
        if col in PAYLOAD and col not in self.columns:
            self.columns.append(col)

    def apply(self, ev: dict) -> None:
        op = ev["op"]
        self.counts[op] += 1
        self.max_ts = ev["ts"] if self.max_ts is None else max(self.max_ts, ev["ts"])
        if op == "n":
            return
        doc = json.loads(ev["doc"])
        if op == "c":
            if doc.get("cmd") == "add_column":
                self._evolve(doc["name"])
            return
        key = (_scalar(doc.get("conv_id")), _scalar(doc.get("turn_idx")))
        if op == "d":
            self.rows.pop(key, None)
            return
        upd = {k: doc[k] for k in ("$set", "$unset", "$inc") if k in doc}
        if not upd:
            row = {"conv_id": key[0], "turn_idx": key[1], "ts": ev["ts"]}
            for c in PAYLOAD:
                v = _scalar(doc.get(c))
                row[c] = v
                if v is not None:
                    self._evolve(c)
            self.rows[key] = row
            return
        for c, v in upd.get("$set", {}).items():
            if v is not None:
                self._evolve(c)
        for c in upd.get("$inc", {}):
            self._evolve(c)
        row = self.rows.get(key)
        if row is None:
            return
        for c, v in upd.get("$set", {}).items():
            row[c] = _scalar(v)
        for c in upd.get("$unset", {}):
            row[c] = None
        for c, v in upd.get("$inc", {}).items():
            row[c] = float(row.get(c) or 0.0) + float(_scalar(v))
        row["ts"] = ev["ts"]

    def table(self) -> dict:
        """key → row restricted to the evolved column set."""
        cols = ["conv_id", "turn_idx", *self.columns, "ts"]
        return {k: {c: r.get(c) for c in cols} for k, r in self.rows.items()}
