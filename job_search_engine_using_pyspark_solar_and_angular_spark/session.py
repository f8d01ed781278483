"""SparkSession factory with scale-appropriate defaults.

Settings chosen for correctness-vs-oracle *and* 100 TB readiness:

- UTC session timezone: fixtures are tz-naive; every timestamp comparison in the
  declared query set happens at seconds precision in UTC (SURVEY.md §7.5).
- AQE on (coalesce partitions + skew-join): replaces the reference's manual
  ``repartition(2)`` / ``shuffle.partitions=2`` tuning
  (reference ``Spark/Tweets_preprocessing.py:30,598-601`` — see SURVEY.md §4.1).
- Arrow enabled for the few pandas-UDF paths (multimodal plumbing, optional
  vector ops); all hot-path operators are pure JVM built-ins.
- Generated-class cache sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`). One pass over the query registry at
  sf0.001 (262 queries, the three pandas-UDF feature queries left out)
  compiles ~3000 distinct classes, HEADLINE ~910 and perfbench's 14
  analytics queries ~400. With Spark's 100-entry default every rerun
  compiled them all again (a second registry pass: 4642 compiles; with
  4096 entries: 131-171). Metaspace after two registry passes: 218 MB, vs
  193 MB with the default. The conf is static: Spark reads it once, when
  the context starts, so a session this factory did not build keeps the
  default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "jse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[N]`` where N comes from ``SPARK_GRAFT_CPUS``
    (driver contract) or all cores. On a real cluster, pass ``master=None`` and
    let spark-submit own it; every conf below is cluster-safe.

    ``extra_conf`` entries are applied LAST (they win over the defaults) —
    for context-startup-only settings like ``spark.scheduler.mode`` that a
    live session cannot change. No effect when a session already exists.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match core count so one shuffle wave; on a cluster AQE
        # coalesces from a higher initial number anyway.
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("JSE_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Reliable df.checkpoint() (operators/checkpointing.lineage_cut) leaves
        # one materialized copy per iteration; default Spark never deletes
        # them. Let the ContextCleaner reclaim superseded checkpoints when
        # their DataFrame is GC'd so long iterative jobs don't fill the dir.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
