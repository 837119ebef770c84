"""Seeded input generator for the CDC benchmark.

Everything here is plain Python driven by one ``random.Random(seed)`` per
workload, so the same seed gives byte-identical inputs, and nothing in the
program under test (``sources/generate.py`` included) can change what a
workload feeds it.

Change events use the engine's wire envelope ``{ts, seq, op, ns, doc}``
with ``doc`` a JSON string (the Mongo document or update spec). Optimes are
strictly increasing across a workload, so the sequential replay in
``oracle.py`` has a single order to follow.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

NS = "chat.transcripts"
#: row ts = EPOCH + optime: the engine's public timestamp contract
EPOCH = 1_700_000_000
ROLES = ("user", "assistant", "tool")
TOOLS = ("calculator", "search", "python")


def _words(rng: random.Random, vocab: list[str], n: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


def make_vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(out)


class Snapshot:
    """Starting table: ``n_convs`` x ``turns`` rows plus reserved keys."""

    def __init__(self, rng, vocab, n_convs, turns, evolved, reserved=()):
        self.cols = ["conv_id", "turn_idx", "role", "text"]
        if evolved:
            self.cols += ["tool", "score"]
        self.rows: dict[tuple[str, int], dict] = {}
        ts = 1
        keys = [(f"c{c:06d}", t) for c in range(n_convs) for t in range(turns)]
        keys += list(reserved)
        for conv, turn in keys:
            row = {"conv_id": conv, "turn_idx": turn, "role": ROLES[turn % 3],
                   "text": _words(rng, vocab, 8), "ts": ts}
            if evolved:
                row["tool"] = rng.choice(TOOLS) if turn % 3 == 2 else None
                row["score"] = float(rng.randint(0, 50))
            self.rows[(conv, turn)] = row
            ts += 1
        self.max_ts = ts

    def write_parquet(self, path: str) -> None:
        cols = {c: [r[c] for r in self.rows.values()] for c in self.cols}
        types = {"conv_id": pa.string(), "turn_idx": pa.int32(), "role": pa.string(),
                 "text": pa.string(), "tool": pa.string(), "score": pa.float64()}
        arrays = [pa.array(cols[c], types[c]) for c in self.cols]
        ts = pa.array([(EPOCH + r["ts"]) * 1_000_000 for r in self.rows.values()],
                      pa.timestamp("us", tz="UTC"))
        schema = pa.schema(
            [pa.field(c, types[c], nullable=c not in ("conv_id", "turn_idx"))
             for c in self.cols] + [pa.field("ts", ts.type, nullable=False)]
        )
        table = pa.Table.from_arrays(arrays + [ts], schema=schema)
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


class EventGen:
    """Normal i/u/d/n/c mix over a key space, with ``$set``/``$unset``/
    ``$inc`` patches and a share of events on one hot key."""

    def __init__(self, rng, vocab, n_convs, turns, start_ts, hot_frac=0.0,
                 with_tool=False, with_score=False, ddl=True):
        self.rng, self.vocab = rng, vocab
        self.ddl = ddl
        self.n_convs, self.turns = n_convs, turns
        self.ts = start_ts
        self.hot_frac = hot_frac
        self.with_tool = with_tool
        self.with_score = with_score

    def _key(self):
        if self.hot_frac and self.rng.random() < self.hot_frac:
            return "c000000", 0
        # turn slots past the snapshot's: inserts create new keys
        return (f"c{self.rng.randrange(self.n_convs):06d}",
                self.rng.randrange(self.turns + self.turns // 4 + 1))

    def _full_doc(self, conv, turn) -> dict:
        d = {"conv_id": conv, "turn_idx": turn, "role": ROLES[turn % 3],
             "text": _words(self.rng, self.vocab, 8)}
        if self.with_tool and turn % 3 == 2:
            d["tool"] = self.rng.choice(TOOLS)
        if self.with_score and self.rng.random() < 0.5:
            d["score"] = float(self.rng.randint(0, 50))
        return d

    def _patch(self, conv, turn) -> dict:
        r = self.rng.random()
        d: dict = {"conv_id": conv, "turn_idx": turn}
        if r < 0.5:
            s = {"text": _words(self.rng, self.vocab, 6)}
            if self.rng.random() < 0.3:
                s["role"] = self.rng.choice(ROLES)
            d["$set"] = s
        elif r < 0.7:
            d["$unset"] = {"tool": ""} if self.with_tool and r < 0.6 else {"role": ""}
        elif self.with_score:
            d["$inc"] = {"score": self.rng.randint(-4, 4) or 1}
        else:
            d["$set"] = {"text": _words(self.rng, self.vocab, 6)}
        return d

    def event(self, op: str | None = None, doc: dict | str | None = None) -> dict:
        """One envelope; random op/doc unless given."""
        if op is None:
            r = self.rng.random()
            op = ("i" if r < 0.45 else "u" if r < 0.85 else "d" if r < 0.96
                  else "n" if r < 0.99 or not self.ddl else "c")
        if doc is None:
            conv, turn = self._key()
            if op == "i":
                doc = self._full_doc(conv, turn)
            elif op == "u":
                doc = (self._full_doc(conv, turn) if self.rng.random() < 0.25
                       else self._patch(conv, turn))
            elif op == "d":
                doc = {"conv_id": conv, "turn_idx": turn}
            elif op == "n":
                doc = {"msg": "periodic noop"}
            else:
                # a no-op DDL: the column already exists (catch-up table is
                # pre-evolved), so it applies without changing anything
                doc = {"cmd": "add_column", "name": "role", "type": "string"}
        self.ts += 1
        return {"ts": self.ts, "seq": self.ts, "op": op, "ns": NS,
                "doc": doc if isinstance(doc, str) else json.dumps(doc)}

    def segment(self, n: int) -> list[dict]:
        return [self.event() for _ in range(n)]


def write_segment(events: list[dict], path: str, mtime: float) -> None:
    """JSON-lines segment; strictly increasing mtimes keep the file stream
    source's delivery in optime order."""
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))
        f.write("\n")
    os.utime(path, (mtime, mtime))


# ------------------------------------------------------------- hostile docs
# (name, op, key, doc). Each lands on a key no other event touches; the two
# ``r_`` keys are reserved snapshot rows. Raw strings: the doc text is what a
# source would put on the wire, so bare NaN and escapes survive.
RESERVED = [("r_esc", 0), ("r_null", 0)]
HOSTILE = [
    ("nan", "i", ("h_nan", 0),
     '{"conv_id": "h_nan", "turn_idx": 0, "role": "user", "text": "bare nan", '
     '"score": NaN}'),
    ("infinity", "i", ("h_inf", 0),
     '{"conv_id": "h_inf", "turn_idx": 0, "role": "user", "text": "bare infinity", '
     '"score": Infinity}'),
    ("escaped_set", "u", ("r_esc", 0),
     '{"conv_id": "r_esc", "turn_idx": 0, "\\u0024set": {"text": "escaped set"}}'),
    ("set_null", "u", ("r_null", 0),
     '{"conv_id": "r_null", "turn_idx": 0, "$set": {"text": null}}'),
    ("number_long_key", "i", ("h_long", 7),
     '{"conv_id": "h_long", "turn_idx": {"$numberLong": "7"}, "role": "assistant", '
     '"text": "extended json key"}'),
    ("unicode", "i", ("h_uni", 0),
     '{"conv_id": "h_uni", "turn_idx": 0, "role": "user", '
     '"text": "caf\\u00e9 \\ud83d\\ude00 \\u4e2d\\u6587 \\"q\\""}'),
]


def hostile_events(gen: EventGen) -> list[dict]:
    """One event per hostile shape; ``hostile`` holds the key it lands on
    (dropped before the event is written)."""
    out = []
    for _name, op, key, doc in HOSTILE:
        e = gen.event(op, doc)
        e["hostile"] = key
        out.append(e)
    return out
