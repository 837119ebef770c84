"""CDC replay profiler (guide §1) — NOT the driver's bench.

Reuses the frozen bench.py machinery (import-only) to materialize the
same 4M-event input, then runs the CoW replay with per-batch phase
timings from CdcPipeline.last_stats (t_pstats = envelope stats scan,
t_probe/t_join_write from the lake MERGE) so the ~40 s wall is
attributable operator by operator.

Usage (from the repo root): PYTHONPATH=. python tools/prof_cdc.py [cow|mor]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # frozen; import only — main() never runs


def main():
    write_mode = sys.argv[1] if len(sys.argv) > 1 else "cow"
    data_dir = os.environ.get("PROF_CDC_DATA")
    if not data_dir:
        data_dir = tempfile.mkdtemp(prefix="prof_cdc_data_")
        spark = bench._spark(bench.CPUS)
        bench.materialize_events(spark, data_dir)
        spark.stop()
        print(f"data at {data_dir} (export PROF_CDC_DATA={data_dir} to reuse)",
              file=sys.stderr)

    from py_mongo_sync_spark.config import SyncConfig
    from py_mongo_sync_spark.sources.oplog import read_oplog_stream
    from py_mongo_sync_spark.streaming.pipeline import CdcPipeline

    spark = bench._spark(bench.CPUS)
    work = tempfile.mkdtemp(prefix=f"prof_cdc_{write_mode}_")
    cfg = SyncConfig(
        dst_path=os.path.join(work, "lake"),
        checkpoint_path=os.path.join(work, "cplog"),
        n_buckets=64, write_mode=write_mode,
    )
    pipe = CdcPipeline(spark, cfg)
    snap = spark.read.parquet(os.path.join(data_dir, "snapshot"))
    bench._warmup(spark)
    t0 = time.monotonic()
    pipe.initial_sync(snap)
    t_snap = time.monotonic() - t0
    stream = read_oplog_stream(
        spark, os.path.join(data_dir, "events"),
        max_files_per_trigger=2, fmt="parquet",
    )
    t1 = time.monotonic()
    pipe.run_stream(stream, os.path.join(work, "spark_cp"))
    t_apply = time.monotonic() - t1
    n_rows = pipe.table.read().count()
    print(json.dumps({
        "write_mode": write_mode,
        "snapshot_sec": round(t_snap, 2), "apply_sec": round(t_apply, 2),
        "events_per_sec": round(bench.N_EVENTS / t_apply, 1),
        "final_rows": n_rows,
        "batches": [
            {k: v for k, v in s.items() if k in (
                "batch_id", "n_events", "wall_ms", "t_pstats", "t_probe",
                "t_join_write", "changed_buckets", "version")}
            for s in pipe.last_stats
        ],
    }))
    spark.stop()
    import shutil
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
