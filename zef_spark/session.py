"""SparkSession factory for the zef_spark engine.

Scale posture: AQE on (runtime re-planning, skew-join splitting,
coalesced shuffle partitions), Arrow on (fast pandas/Pandas-UDF
interchange), UTC session timezone (deterministic temporal semantics,
matches the DuckDB oracle). ``shuffle_partitions`` defaults small for
local test runs; on a real cluster set it near 2-3x total cores or rely
on AQE coalescing from a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Read parquet NTZ timestamps as NTZ so values match DuckDB exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    # MIN/MAX/COUNT over raw parquet columns answer from footer stats
    # instead of scanning — used by Graph.max_tx and count-style ops.
    "spark.sql.parquet.aggregatePushdown": "true",
    # Broadcast thresholds, split by estimate quality (r09 scale
    # finding): the STATIC threshold judges a scan by its COMPRESSED
    # parquet footprint — at 64MB it admitted 30M-row broadcast
    # builds (GBs decompressed, built serially) and made the bucketed
    # 2-hop plan 3.7x slower at sf5 (26.7s -> 7.1s at 10MB, measured).
    # The ADAPTIVE threshold re-decides from ACTUAL runtime shuffle
    # sizes, so it safely keeps the aggressive 64MB: small dims still
    # upgrade to broadcast at runtime, mis-estimated giants never do.
    "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold":
        str(64 * 1024 * 1024),
    # r12 (guide §3.1): pick the join strategy deliberately — let the
    # planner use shuffled-hash instead of defaulting to sort-merge
    # when its size conditions hold (no sort of either side), and let
    # AQE rewrite a planned sort-merge to shuffled-hash at runtime
    # when every post-shuffle partition fits the same 64MB bound the
    # adaptive broadcast threshold already trusts. Scale posture:
    # both gates are per-partition size checks, so a giant build side
    # keeps sort-merge; AQE skew splitting applies to SHJ as to SMJ.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions":
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    # r12 (guide §1 job census): PySpark 4 wraps EVERY DataFrame API
    # call with a Python stack walk + a JVM origin RPC for error
    # call-site context; on expression-heavy query builders that was
    # ~35% of plan-construction time (kruskal build 0.50 -> 0.32 s
    # measured). Driver-side Python overhead, scale-independent —
    # error messages lose only the Python call-site line.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Compiled-class cache (a static conf, read at JVM start). Spark's
    # 100 entries hold less than one pass of either perfbench workload
    # (writes compiles ~136 classes, reads ~504), so every pass
    # recompiled all of them. 600 is the smallest size measured to
    # hold a reads pass: its next pass compiles 10-34 classes, against
    # ~128 at 500 (CHANGES.md).
    "spark.sql.codegen.cache.maxEntries": "600",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "zef_spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
