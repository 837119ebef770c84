"""SparkSession factory tuned for the CDC workload.

Local mode here; the same configs are what we'd ship to a 1000-executor
cluster (AQE on, skew-join on, Arrow on, UTC, shuffle partitions sized to
the cluster rather than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "py_mongo_sync_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(
            os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        )
    if shuffle_partitions is None:
        shuffle_partitions = cores
    # shuffle/spill scratch: prefer the RAM-backed tmpfs in this sandbox —
    # the root disk (~400 MB/s virtio) serializes concurrent writers and
    # masks CPU scaling; on a real cluster this is local NVMe
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # the per-key event fold uses collect_list: keep it in the hash-agg
        # regime (per-key state is a handful of small structs). The 128-key
        # default would flip every realistic microbatch into sort-based
        # aggregation — a full TimSort of the batch per partition.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
        # Arrow batches to Python UDFs: the 10k-row default leaves half the
        # pandas-parse wall in per-batch framing/GIL overhead for the narrow
        # one-string-column oplog docs (measured 5.9 s → 2.6 s on 4M events
        # at 100k). Memory stays bounded by the 64 MB
        # spark.sql.execution.arrow.maxBytesPerBatch cap, which fires first
        # for wide rows (large text/binary cells).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
