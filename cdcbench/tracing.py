"""Tracing from outside the program.

The traced mode wraps the public methods a CDC batch goes through
(``CdcPipeline.apply_batch``, ``LakeTable.merge`` / ``compact`` /
``expire_versions``, ``CheckpointLog.append`` / ``high_watermark``) on the
instances the benchmark created, records one span per call, and sets a
Spark job group per batch and phase (``b<batch>:pre|merge|compact|post``)
so the Spark event log can be split by batch. Spans stay in memory and are
written to one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.merges: list[dict] = []
        self.expired = 0
        #: cleared when the stream ends, so the checks' own calls into the
        #: wrapped methods are not counted
        self.active = True
        self._stack: list[dict] = []
        self.t0 = time.monotonic()

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, batch=None):
        """One span; nested spans inherit the batch of their parent (a
        stream runs one batch at a time, so one stack serves)."""
        parent = self._stack[-1] if self._stack else None
        if batch is None and parent is not None:
            batch = parent["batch"]
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None, "batch": batch,
               "start": time.monotonic() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self.t0
            self._stack.pop()

    def group(self, batch, phase: str) -> None:
        self.sc.setJobGroup(f"b{batch}:{phase}", f"b{batch}:{phase}")

    def wrap(self, obj, method: str, name: str, before=None, after=None):
        """Replace ``obj.method`` by a traced call (instance attribute, so
        the program's own ``self.method(...)`` calls go through it)."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            if not self.active:
                return inner(*args, **kwargs)
            batch = self._stack[-1]["batch"] if self._stack else None
            state = before(batch, args, kwargs) if before else None
            with self.span(name, batch):
                out = inner(*args, **kwargs)
            if after:
                after(batch, state, out)
            return out

        setattr(obj, method, traced)

    # ------------------------------------------------------------ queries

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def phase_splits(self) -> tuple[list[float], list[float]]:
        """Per batch: apply entry → merge entry, merge exit → apply exit."""
        pre, post = [], []
        applies = [s for s in self.spans if s["name"] == "pipeline.apply_batch"]
        for a in applies:
            m = [s for s in self.spans if s["name"] == "lake.merge" and s["parent"] == a["id"]]
            if m:
                pre.append(m[0]["start"] - a["start"])
                post.append(a["end"] - m[-1]["end"])
        return pre, post

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def install_cdc(tracer: Tracer, pipe) -> None:
    """Wrap one CdcPipeline instance and its table and checkpoint log."""
    inner_apply = pipe.apply_batch

    def apply_batch(events, batch_id):
        with tracer.span("pipeline.apply_batch", batch_id):
            tracer.group(batch_id, "pre")
            try:
                return inner_apply(events, batch_id)
            finally:
                tracer.sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.sc.setLocalProperty("spark.job.description", None)

    pipe.apply_batch = apply_batch
    table = pipe.table

    def files_of(m: dict) -> set[str]:
        out = set()
        for part in ("buckets", "deltas"):
            for files in m.get(part, {}).values():
                out.update(files)
        return out

    def merge_before(batch, args, kwargs):
        tracer.group(batch, "merge")
        return files_of(table.manifest())

    def merge_after(batch, before_files, res):
        tracer.group(batch, "post")
        if res.get("skipped"):
            return
        new = files_of(table.manifest()) - before_files
        tracer.merges.append({
            "batch": batch, "files": len(new),
            "bytes": sum(os.path.getsize(f) for f in new if os.path.exists(f)),
        })

    tracer.wrap(table, "merge", "lake.merge", merge_before, merge_after)
    tracer.wrap(table, "compact", "lake.compact",
                lambda b, a, k: tracer.group(b, "compact"),
                lambda b, s, r: tracer.group(b, "merge"))

    def count_expired(batch, state, removed):
        tracer.expired += int(removed or 0)

    tracer.wrap(table, "expire_versions", "lake.expire", after=count_expired)
    tracer.wrap(pipe.cplog, "append", "cplog.append")
    tracer.wrap(pipe.cplog, "high_watermark", "cplog.high_watermark")


def spark_job_stats(eventlog_dir: str) -> dict:
    """Per-job-group task counts and task metrics from the Spark event log
    (read after the session stopped, so the log is complete)."""
    files = [os.path.join(d, f) for d, _dirs, names in os.walk(eventlog_dir)
             for f in names if not f.startswith("appstatus")]
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not g:
                        continue
                    st = groups.setdefault(g, _zero())
                    st["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    st = groups[g]
                    st["tasks"] += 1
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return groups


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0}


def per_batch(groups: dict, key: str) -> list[int]:
    """Sum a job-group counter over the phases of each batch."""
    out: dict[str, int] = {}
    for g, st in groups.items():
        batch = g.split(":", 1)[0]
        out[batch] = out.get(batch, 0) + st[key]
    return list(out.values())


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default
