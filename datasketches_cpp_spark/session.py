"""SparkSession factory with scale-oriented defaults, and the one helper
that runs independent driver actions concurrently.

Single place where execution knobs live so the bench can flip parallelism
(local[8] vs local[32] standing in for N vs 4N executors) without touching
pipeline code. All settings are plain public Spark conf keys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: generated-class cache size (``spark.sql.codegen.cache.maxEntries``)
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    master: str | None = None,
    app_name: str = "datasketches-cpp-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # parse core count out of local[N] to scale shuffle partitions with it —
    # on a real cluster this would be spark.sql.shuffle.partitions ≈ 2-3×
    # total executor cores (and AQE coalesces down from there)
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = 2 * int(master[6:-1])
        else:
            shuffle_partitions = 2 * cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch size so per-batch numpy state (shingle matrices,
        # lane mixing buffers) stays well inside executor memory at 100 TB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # image corpora are byte-heavy: finer scan splits keep the
        # signature stages parallel even over a handful of fat files
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # static: at the default of 100 entries one dedup_images call
        # evicts its own generated classes, so every repeated call
        # recompiled ~40 of them in Janino and the JIT compiled them anew
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_driver_actions(spark: SparkSession, *actions):
    """Run zero-argument driver actions (counts, collects, eager
    checkpoints) on threads of their own; → their results, in order.

    Each thread runs under a copy of the caller's Spark local properties
    and session tags, taken per action, so its jobs carry the caller's job
    group and description, and an action that sets its own description
    changes only its own copy."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
        return [f.result() for f in futures]
