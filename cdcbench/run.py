#!/usr/bin/env python3
"""CDC benchmark: one workload run, one JSON line.

    python3 cdcbench/run.py --workload cdc_tail_mor --seed 1 --seconds 30 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
starts one local Spark session, drives the engine through its public API,
checks every output against the benchmark's own sequential replay and
prints ``{"correct", "attempted", "failed", "metrics"}`` as its last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
A failed check exits 1 and names the check on stderr. All scratch lives
under ``.cdcbench_scratch/`` in the working directory and is removed on
exit; traced runs leave their spans in ``.cdcbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

E2E_UNITS = {
    "setup_s": "s", "snapshot_s": "s", "events_per_s": "events/s",
    "batch_p50_s": "s", "stream_cpu_s": "s", "scan_s": "s", "lake_mb": "MB",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _proc_table() -> tuple[dict, dict]:
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(rest[1]), []).append(pid)
        # utime, stime, and the reaped children's cutime, cstime
        cpu[pid] = sum(int(x) for x in rest[11:15])
    return children, cpu


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, stack = [], list(children.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of this process and every descendant (the driver JVM and
    its Python workers), reaped children included."""
    root = root or os.getpid()
    children, cpu = _proc_table()
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0)
        stack.extend(children.get(p, []))
    return total / os.sysconf("SC_CLK_TCK")


class Ctx:
    def __init__(self, args, scratch):
        self.seed, self.seconds = args.seed, args.seconds
        self.scratch = scratch
        self.spark = None
        self.tracer = None
        self.session_s = 0.0
        self.tree_cpu = tree_cpu_s


def start_spark(ctx: Ctx, traced: bool):
    from py_mongo_sync_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    conf = {
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.scratch}/tmp",
    }
    if traced:
        os.makedirs(os.path.join(ctx.scratch, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(ctx.scratch, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t = time.monotonic()
    spark = get_spark(app_name="cdcbench", cores=cores, extra_conf=conf)
    ctx.session_s = time.monotonic() - t
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM and
    every Python worker under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_descendants()


def reap_descendants(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def _sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "py_mongo_sync_spark", "__init__.py")):
        print("cdcbench: py_mongo_sync_spark not found in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; choose from "
              f"{list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    signal.signal(signal.SIGTERM, _sigterm)
    scratch = os.path.join(root, ".cdcbench_scratch", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    # keep every temp file of Spark, pyspark and the Python workers inside
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, root)
    ctx = Ctx(args, scratch)
    result = None
    error = None
    try:
        ctx.spark = start_spark(ctx, traced=bool(args.trace))
        setup_s = process_age_s()
        if args.trace:
            import tracing as tr

            ctx.tracer = tr.Tracer(ctx.spark)
        try:
            res = workloads.run(ctx, args.workload)
        except workloads.CheckFailed as e:
            error = str(e)
            res = None
        stop_spark(ctx.spark)
        ctx.spark = None
        if res is not None:
            if args.trace:
                layer = dict(res["layer"])
                layer.update(workloads.spark_layers(os.path.join(scratch, "eventlog")))
                metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
                ctx.tracer.write(os.path.join(
                    root, ".cdcbench_traces",
                    f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
            else:
                m = dict(res["metrics"], setup_s=setup_s)
                metrics = {k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items()}
            result = {"correct": error is None, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}
    finally:
        if ctx.spark is not None:
            try:
                stop_spark(ctx.spark)
            except Exception as e:  # still remove the scratch below
                print(f"cdcbench: stopping Spark failed: {e!r}", file=sys.stderr)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    if error is not None:
        print(f"cdcbench: check failed: {error}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
