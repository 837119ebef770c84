"""The CDC workloads: seeded inputs, one closed-loop stream, checks.

Each workload drives the engine only through its public API
(``CdcPipeline.initial_sync`` / ``run_stream``, ``read_oplog_stream``,
``LakeTable.read``, ``CheckpointLog.read``) and checks the result against
``oracle.Replay``.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time

import gen
import oracle
import tracing as tr

#: Per workload: table write mode, starting table, stream make-up. One
#: segment file per microbatch (maxFilesPerTrigger=1); ``seconds`` sets the
#: number of segments, sized so the stream phase lasts about that long on a
#: 4-vCPU host: a few large catch-up batches, and at least 7 tail batches so
#: the tail's ``batch_p50_s`` is a median of 7 or more. The tail keeps the
#: engine's default 16 buckets and stays under ``n_buckets *
#: probe_skip_factor`` data events per batch, so every batch takes the
#: key-probe path. Compaction and expiry cadences are scaled down from the
#: defaults (16, 32, 8) so that each fires within a run of a few batches.
#: In the tail both land on the last batch (compact_threshold=7 staggers the
#: first compactions over batches 6-8, expire_every=6): slow batches stay a
#: minority (batch 0, the restart, the last), so the median is a steady one.
#: ``scans`` repeats the final read until the timed window is several
#: seconds long.
def spec_for(name: str, seconds: int) -> dict:
    if name == "cdc_catchup_cow":
        return dict(
            write_mode="cow", n_convs=2000, turns=10, evolved=True, hot_frac=0.05,
            batches=max(3, seconds // 10), events=20000, n_buckets=8, random_ddl=True,
            restart_at=None, scans=12, cfg=dict(expire_every=2, keep_versions=2),
        )
    if name == "cdc_tail_mor":
        batches = max(7, seconds // 4)
        half = batches // 2
        return dict(
            write_mode="mor", n_convs=1000, turns=10, evolved=False, hot_frac=0.0,
            batches=batches, events=1000, n_buckets=16, random_ddl=False,
            restart_at=half, scans=2,
            add_column_at=2, inc_from=1, hostile_at=half + 1,
            cfg=dict(compact_threshold=7, expire_every=6, keep_versions=1),
        )
    raise KeyError(name)


WORKLOADS = ("cdc_catchup_cow", "cdc_tail_mor")

MTIME0 = 1_600_000_000


class CheckFailed(Exception):
    pass


def build_inputs(spec: dict, seed: int, root: str) -> dict:
    """Write the snapshot parquet and all event segments; return the
    replay inputs. Segments of a restarted stream are written in two
    halves by ``run``."""
    rng = random.Random(seed)
    vocab = gen.make_vocab(rng, 2000)
    snap = gen.Snapshot(rng, vocab, spec["n_convs"], spec["turns"], spec["evolved"],
                        reserved=gen.RESERVED)
    snap.write_parquet(os.path.join(root, "snapshot"))
    eg = gen.EventGen(rng, vocab, spec["n_convs"], spec["turns"], snap.max_ts,
                      hot_frac=spec["hot_frac"], with_tool=spec["evolved"],
                      with_score=spec["evolved"], ddl=spec["random_ddl"])
    segments = []
    for b in range(spec["batches"]):
        if b == spec.get("inc_from"):
            eg.with_score = True
        head = []
        if b == spec.get("add_column_at"):
            head.append(eg.event("c", {"cmd": "add_column", "name": "tool",
                                       "type": "string"}))
            eg.with_tool = True
        seg = head + eg.segment(spec["events"] - len(head))
        if b == spec.get("hostile_at"):
            mid = len(seg) // 2
            seg = seg[:mid] + gen.hostile_events(eg) + seg[mid:]
            # optimes stay increasing through the splice
            for i, e in enumerate(seg):
                e["ts"] = e["seq"] = seg[0]["ts"] + i
            eg.ts = seg[-1]["ts"]
        segments.append(seg)
    if spec.get("restart_at") is not None:
        # the engine's resume check reads a no-op at the restart edge as a
        # gap (see CHANGES.md FOUND): keep data events on both sides
        r = spec["restart_at"]
        for e in (segments[r - 1][-1], segments[r][0]):
            if e["op"] == "n":
                e["op"], e["doc"] = "d", '{"conv_id": "c000001", "turn_idx": 1}'
    return {"snapshot": snap, "segments": segments}


def write_segments(segments, first: int, last: int, in_dir: str) -> None:
    os.makedirs(in_dir, exist_ok=True)
    for b in range(first, last):
        gen.write_segment([{k: v for k, v in e.items() if k != "hostile"}
                           for e in segments[b]],
                          os.path.join(in_dir, f"seg-{b:05d}.json"), MTIME0 + b)


def run(ctx, name: str) -> dict:
    from pyspark.errors import StreamingQueryException

    from py_mongo_sync_spark import SyncConfig
    from py_mongo_sync_spark.sources.oplog import read_oplog_stream
    from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

    spark, spec, root = ctx.spark, spec_for(name, ctx.seconds), ctx.scratch
    inputs = build_inputs(spec, ctx.seed, root)
    segments = inputs["segments"]
    n_seg = len(segments)
    in_dir = os.path.join(root, "oplog")
    cfg = SyncConfig(
        dst_path=os.path.join(root, "lake", "transcripts"),
        checkpoint_path=os.path.join(root, "lake", "_lineage"),
        n_buckets=spec["n_buckets"], write_mode=spec["write_mode"], **spec["cfg"],
    )
    cp_dir = os.path.join(root, "stream_checkpoint")
    halves = ([(0, spec["restart_at"]), (spec["restart_at"], n_seg)]
              if spec["restart_at"] else [(0, n_seg)])
    write_segments(segments, *halves[0], in_dir)

    tracer = ctx.tracer
    out: dict = {}
    pipe = CdcPipeline(spark, cfg)
    t = time.monotonic()
    pipe.initial_sync(spark.read.parquet(os.path.join(root, "snapshot")))
    out["snapshot_s"] = time.monotonic() - t

    progress = []
    stream_wall = 0.0
    cpu0 = ctx.tree_cpu()
    for i, (lo, hi) in enumerate(halves):
        if i:
            # restart: a new pipeline on the same lineage and checkpoint, as
            # a restarted process would build it
            write_segments(segments, lo, hi, in_dir)
        t = time.monotonic()
        if i:
            pipe = CdcPipeline(spark, cfg)
        if tracer:
            tr.install_cdc(tracer, pipe)
        try:
            q = pipe.run_stream(
                read_oplog_stream(spark, in_dir, max_files_per_trigger=1), cp_dir)
        except StreamingQueryException as e:
            raise CheckFailed(f"stream: query failed: {e}") from e
        stream_wall += time.monotonic() - t
        progress += [p for p in q.recentProgress if p.numInputRows]
    out["stream_cpu_s"] = ctx.tree_cpu() - cpu0
    if tracer:
        tracer.active = False
    delivered = sum(len(s) for s in segments)
    out["events_per_s"] = delivered / stream_wall
    out["batch_p50_s"] = statistics.median(
        p.durationMs["triggerExecution"] / 1000 for p in progress)

    replay = oracle.Replay(inputs["snapshot"].rows, inputs["snapshot"].cols)
    for seg in segments:
        for e in seg:
            replay.apply(e)
    expected = replay.table()

    table = pipe.table
    hostile = {e["hostile"] for s in segments for e in s if "hostile" in e}
    failed_ops, lost = check_table(table, expected, replay.columns, hostile)

    # timed scans: full read + one aggregate, checked against the replay
    scan_times = []
    for _ in range(spec["scans"]):
        t = time.monotonic()
        agg = scan_aggregate(table)
        scan_times.append(time.monotonic() - t)
    want = oracle_aggregate(expected)
    if not _agg_equal(agg, want):
        raise CheckFailed(f"scan_aggregate: table {agg} != replay {want}")
    # mean read time over the whole timed window
    out["scan_s"] = sum(scan_times) / len(scan_times)

    failed_ops += check_lineage(pipe, cfg, segments, lost)
    out["lake_mb"] = dir_bytes(os.path.join(root, "lake")) / 1e6

    layer = {}
    if tracer:
        layer = cdc_layers(ctx, pipe, progress, segments, in_dir, stream_wall)
    return {"metrics": out, "layer": layer, "attempted": delivered,
            "failed": failed_ops}


# ------------------------------------------------------------------ checks

def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def check_table(table, expected: dict, columns: list[str], hostile: set):
    """Every key, every column, the evolved column set. A mismatch on a
    planted hostile key is a failed operation; anywhere else it fails the
    run. Returns (failed ops, hostile inserts the table lost)."""
    got_cols = table.read().columns
    want_cols = ["conv_id", "turn_idx", *columns, "ts"]
    if sorted(got_cols) != sorted(want_cols):
        raise CheckFailed(f"table_columns: table {sorted(got_cols)} != "
                          f"replay {sorted(want_cols)}")
    rows = table.read().toArrow().to_pylist()
    got = {}
    for r in rows:
        r["ts"] = int(r["ts"].timestamp()) - gen.EPOCH
        got[(r["conv_id"], r["turn_idx"])] = r
    bad = []
    for key in set(got) | set(expected):
        g, w = got.get(key), expected.get(key)
        if g is None or w is None or not all(_same(g[c], w[c]) for c in w):
            bad.append(key)
    failed = [k for k in bad if k in hostile]
    other = [k for k in bad if k not in hostile]
    if other:
        ex = [(k, got.get(k), expected.get(k)) for k in sorted(other, key=str)[:3]]
        raise CheckFailed(f"table_contents: {len(other)} keys differ from the "
                          f"replay, e.g. {ex}")
    lost = [k for k in failed if k not in got]
    return len(failed), lost


def check_lineage(pipe, cfg, segments, lost: list) -> int:
    """Lineage per committed batch, high watermark and batch count.

    Each committed batch is matched to the delivered segment holding its
    largest optime; its ``n_events`` must equal that segment's i/u/d/c
    events, less the hostile inserts the table lost (already failed
    operations, and unreadable to the engine). One shortfall is tolerated:
    on the key-probe path (fewer than ``n_buckets * probe_skip_factor``
    data events) the engine leaves a batch's ``c`` events out of its
    lineage (CHANGES.md FOUND), so a shortfall of exactly that batch's
    ``c`` count there counts as that many failed operations. Anything else
    fails the run."""
    import bisect

    from pyspark.sql import functions as F

    lost_ts = {e["ts"] for s in segments for e in s if e.get("hostile") in lost}
    counted = [[e for e in s if e["op"] != "n" and e["ts"] not in lost_ts]
               for s in segments]
    starts = [s[0]["ts"] for s in segments]
    rows = pipe.cplog.read().groupBy("epoch", "batch_id").agg(
        F.sum("n_events").alias("n"), F.max("max_ts").alias("max_ts"),
    ).collect()
    if len(rows) != len(segments):
        raise CheckFailed(f"lineage_batches: {len(rows)} committed batches "
                          f"!= {len(segments)} delivered segments")
    seen: set[int] = set()
    failed = 0
    for row in rows:
        i = bisect.bisect_right(starts, row["max_ts"] or -1) - 1
        if i < 0 or i in seen or row["max_ts"] > segments[i][-1]["ts"]:
            raise CheckFailed(f"lineage_batches: batch {row['batch_id']} (max "
                              f"optime {row['max_ts']}) matches no single "
                              f"delivered segment")
        seen.add(i)
        want = len(counted[i])
        n_ddl = sum(1 for e in counted[i] if e["op"] == "c")
        n_data = len(counted[i]) - n_ddl
        probed = n_data < cfg.n_buckets * cfg.probe_skip_factor
        short = want - (row["n"] or 0)
        if short != 0 and not (probed and short == n_ddl):
            raise CheckFailed(
                f"lineage_events: batch {row['batch_id']} (segment {i}) sums "
                f"{row['n']} events, expected {want}"
                + (f" (or {want - n_ddl} without its DDL)" if probed and n_ddl else ""))
        failed += short
    want_hw = max(e["ts"] for s in counted for e in s)
    hw = pipe.cplog.high_watermark()
    if hw != want_hw:
        raise CheckFailed(f"lineage_watermark: high watermark {hw} != largest "
                          f"delivered optime {want_hw}")
    return failed


def scan_aggregate(table) -> dict:
    """Full read of the table plus one aggregate over every row except the
    planted hostile keys (those are checked one by one)."""
    from pyspark.sql import functions as F

    df = table.read()
    df = df.where(~F.col("conv_id").startswith("h_") & ~F.col("conv_id").startswith("r_"))
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum("turn_idx").alias("turn_sum"),
        F.sum(F.length("text")).alias("text_chars"),
        F.count("role").alias("roles"),
    ]
    if "score" in df.columns:
        aggs.append(F.sum("score").alias("score_sum"))
    if "tool" in df.columns:
        aggs.append(F.count("tool").alias("tools"))
    return df.agg(*aggs).first().asDict()


def oracle_aggregate(expected: dict) -> dict:
    rows = [r for k, r in expected.items()
            if not (k[0].startswith("h_") or k[0].startswith("r_"))]
    out = {
        "rows": len(rows),
        "turn_sum": sum(r["turn_idx"] for r in rows),
        "text_chars": sum(len(r["text"]) for r in rows if r["text"] is not None),
        "roles": sum(1 for r in rows if r["role"] is not None),
    }
    if rows and "score" in rows[0]:
        vals = [r["score"] for r in rows if r["score"] is not None]
        out["score_sum"] = float(sum(vals)) if vals else None
    if rows and "tool" in rows[0]:
        out["tools"] = sum(1 for r in rows if r["tool"] is not None)
    return out


def _agg_equal(a: dict, b: dict) -> bool:
    return set(a) == set(b) and all(
        _same(float(a[k]) if a[k] is not None else None,
              float(b[k]) if b[k] is not None else None) for k in a)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


# ---------------------------------------------------------- traced layers

def cdc_layers(ctx, pipe, progress, segments, in_dir, stream_wall) -> dict:
    from pyspark.sql import functions as F

    from py_mongo_sync_spark.functions.parse import parsed_events
    from py_mongo_sync_spark.operators.dedup import fold_net_events
    from py_mongo_sync_spark.sources.oplog import read_oplog_batch

    t = ctx.tracer
    med = tr.median
    pre, post = t.phase_splits()
    merges = t.merges
    m = pipe.table.manifest()
    deltas = sum(len(v) for v in m.get("deltas", {}).values())
    base = sum(len(v) for v in m["buckets"].values())
    out = {
        "session.start_s": (ctx.session_s, "s"),
        "stream.trigger_overhead_ms": (med(
            p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0)
            for p in progress), "ms"),
        "pipeline.apply_batch_s": (med(t.durations("pipeline.apply_batch")), "s"),
        "pipeline.pre_merge_s": (med(pre), "s"),
        "pipeline.post_merge_s": (med(post), "s"),
        "lake.merge_s": (med(t.durations("lake.merge")), "s"),
        "lake.written_mb_per_batch": (med(x["bytes"] / 1e6 for x in merges), "MB"),
        "lake.files_written_per_batch": (med(x["files"] for x in merges), "count"),
        "lake.compact_s": (sum(t.durations("lake.compact")), "s"),
        "lake.compactions": (len(t.durations("lake.compact")), "count"),
        "lake.delta_files_live": (deltas, "count"),
        "lake.scan_files": (base + deltas, "count"),
        "lake.expire_s": (sum(t.durations("lake.expire")), "s"),
        "lake.expired_files": (t.expired, "count"),
        "cplog.append_ms": (med(t.durations("cplog.append")) * 1000, "ms"),
        # the restarted pipeline's resume check is the stream's only
        # watermark read
        "cplog.resume_check_s": (sum(t.durations("cplog.high_watermark")), "s"),
        "trace.stream_s": (stream_wall, "s"),
    }

    # parse and fold alone over the largest delivered batch, noop sink
    seg = max(range(len(segments)), key=lambda i: len(segments[i]))
    path = os.path.join(in_dir, f"seg-{seg:05d}.json")
    env = read_oplog_batch(ctx.spark, path)
    n_env = len(segments[seg])

    def timed(fn, reps=3):
        ts = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            ts.append(time.monotonic() - t0)
        return statistics.median(ts)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out["parse.events_per_s"] = (n_env / timed(lambda: noop(parsed_events(env))), "events/s")
    parsed = parsed_events(env).where(
        F.col("op").isin("i", "u", "d") & F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
    ).cache()
    n_in = parsed.count()

    def fold():
        return fold_net_events(
            parsed, key_cols=["conv_id", "turn_idx"],
            payload_cols=["role", "text", "tool", "score"], ts_col="ts", op_col="op",
            patch_col="is_patch", seq_col="seq", unset_col="unset_cols",
            inc_col="inc_map")

    out["fold.events_per_s"] = (n_in / timed(lambda: noop(fold())), "events/s")
    out["fold.net_ratio"] = (fold().count() / n_in, "ratio")
    parsed.unpersist()
    return out


def spark_layers(eventlog_dir: str) -> dict:
    """Job and task counts per batch and task metrics of the stream's jobs,
    from the Spark event log (job groups ``b<batch>:<phase>``)."""
    groups = {g: st for g, st in tr.spark_job_stats(eventlog_dir).items()
              if g.startswith("b")}

    def total(key):
        return sum(st[key] for st in groups.values())

    return {
        "pipeline.jobs_per_batch": (tr.median(tr.per_batch(groups, "jobs")), "count"),
        "pipeline.tasks_per_batch": (tr.median(tr.per_batch(groups, "tasks")), "count"),
        "spark.executor_cpu_s": (total("cpu_ns") / 1e9, "s"),
        "spark.gc_s": (total("gc_ms") / 1e3, "s"),
        "spark.shuffle_write_mb": (total("shuffle_write") / 1e6, "MB"),
        "spark.spill_mb": (total("spill") / 1e6, "MB"),
    }
