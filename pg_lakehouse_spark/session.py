"""SparkSession factory.

Spark-first equivalent of the reference's ``_PG_init`` + GUC setup
(reference handler.c:305-350): one place that configures the engine.

Scale posture (100 TB / 1000-executor design, tested on local[32]):

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace hand-tuned plans.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE coalesces from a high initial number, so correctness of
  the plan never depends on this value.
- UTC session timezone: deterministic timestamp semantics (the
  reference distinguishes timestamp/timestamptz, iceberg_bridge.cpp:
  142-143 — we pin NTZ-like behavior by fixing the zone).
- Arrow enabled for any pandas interchange (vectorized UDF path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def shuffle_partitions_for(input_bytes: int) -> int:
    """Size shuffle partitions from input volume: ~32 MB of input per
    partition, floored at 8 (healthy local minimum), capped at 2000.
    At 100 TB this yields ~3k partitions pre-AQE; AQE coalesces or
    splits from there. Fixed values waste task-launch overhead at
    small scale and under-partition at large scale — size to data."""
    return max(8, min(2000, input_bytes // (32 * 1024 * 1024) + 1))


def dir_input_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def get_spark(
    app_name: str = "pg_lakehouse_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    On a real cluster the ``master`` would come from the environment;
    everything else here is cluster-size independent.
    """
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 32)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- adaptive execution: the scale backbone ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite sort-merge to shuffled-hash when every
        # post-shuffle partition's map side fits 64 MB (default 0 =
        # never): skips both sorts. Gated by RUNTIME per-partition
        # size, so it is cluster-size-independent and cannot OOM a
        # build side bigger than the threshold (guide §3.1).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- deterministic semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- scan efficiency: pushdown + vectorized reader ---
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver corpus writes TIMESTAMP(NANOS) parquet, which the
        # vectorized reader rejects; read as int64 nanos and convert
        # (tables.py restores timestamp type, sub-µs residue is zero)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python interchange is always Arrow-batched ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-call call-site capture (PySparkCurrentOrigin) costs
        # several driver py4j round-trips on EVERY DataFrame method —
        # profiled at ~30% of complex queries' plan-build time (guide
        # §5: the driver should do almost no work). It only enriches
        # error messages with user line numbers; off in production.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- broadcast small dims aggressively (dims here are tiny;
        #     at 100 TB the 64 MB threshold still only catches true dims) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local[] mode: driver == executor, give it headroom
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # v2 commit: task output moves to the destination at task
        # commit instead of a second serial rename pass at job commit.
        # Safe for this engine: every write lands in a per-commit
        # _staging dir that is renamed-in or discarded atomically by
        # the table's own commit protocol, so a failed job's partial
        # task commits are never visible (r14; guide §5 driver work —
        # the job-commit rename pass is serial driver-side time on
        # EVERY lakehouse commit)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # managed-table warehouse (bucketed tables land here, not cwd)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/pg_lakehouse_spark_warehouse"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
