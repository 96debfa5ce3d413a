"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; the configs
that matter at cluster scale (AQE, skew-join handling, shuffle partitions,
Arrow) are set here so the same code path is exercised.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pathhier_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/collect_set folds) falls back to
        # SORT-based aggregation once a partition sees more than this many
        # distinct keys; the default 128 is far below the per-partition group
        # counts of every fold here (per-doc, per-(query,doc), per-pair
        # groups: 10^3-10^5 per partition at ANY scale, local or cluster).
        # The in-memory map holds one small buffer per group, so the memory
        # cost is bounded by groups/partition x buffer size — raise the
        # threshold so the hash path survives realistic group counts.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        # AQE coalesces post-shuffle partitions by BYTE size, but this
        # engine's hot columns (token arrays, shingle sets, embeddings)
        # are compute-dense: a 1 MB partition of shingle arrays carries
        # ~10 s of array_intersect CPU, and the default 1m floor was
        # observed collapsing verification stages to 5 tasks with 50+ s
        # of CPU (q85: 2x wall). A lower floor keeps "parallelismFirst"
        # honest for compute-bound stages; at cluster scale, where
        # partitions run 100 MB+, the floor is inert (coalescing never
        # splits below the configured shuffle partition count). 256k was
        # the measured sweet spot: 64k over-fragments light aggregation
        # stages (q11/q07 +20-90% from task overhead), 1m starves the
        # array-verification stages (q85 8.5s vs 3.2s).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        # Long-running sessions (the bench runs ~60 queries; a production
        # driver runs micro-batches for days) accumulate localCheckpoint
        # RDD blocks whose driver-side references die with each query;
        # ContextCleaner only frees them after a driver GC, and the
        # default 30min periodicGC lets dead blocks pile up in executor
        # storage memory, degrading later queries. 30s bounds the pile.
        .config("spark.cleaner.periodicGC.interval", "30s")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
