"""Fixture/table loaders.

All inputs are the driver-generated parquet tables (TESTDATA.md). Loaders are
thin ``spark.read.parquet`` wrappers so Catalyst keeps full pushdown/pruning;
nothing is cached or collected here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Resolved-once parquet schemas per absolute file path (r11): a bare
# ``spark.read.parquet`` pays a driver-side footer read + schema resolution
# on EVERY call (~70 ms per table here) — across a bench run that is
# hundreds of redundant footer reads, and at 100 TB it is the per-job
# "resolve the merged schema ONCE and pin it" practice load_evolving's
# docstring prescribes. Pure StructType values (session-independent); the
# fixture tables' schemas are part of the testdata contract, so a path's
# schema never changes within a process. Data is still read fresh from
# parquet on every action — only the SCHEMA resolution is reused.
# Keyed on (path, mtime_ns) (ADVICE r11): a fixture regenerated in-process at
# the same path with a different schema misses the cache instead of
# silently reading with the stale pinned schema. The mtime is the newest of
# the path and every file under it: a part file rewritten in place changes
# its own mtime, not its directory's. Stale (path, old_mtime) entries are
# dropped on sight so the dict stays one entry per live path.
_SCHEMA_CACHE: dict[str, tuple[int, "object"]] = {}


def _pinned_schema(spark: SparkSession, path: str):
    try:
        files = (os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        mtime = max(os.stat(p).st_mtime_ns for p in (path, *files))
    except OSError:
        # path missing/unstatable: let spark.read raise its own error
        return spark.read.parquet(path).schema
    hit = _SCHEMA_CACHE.get(path)
    if hit is not None and hit[0] == mtime:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMA_CACHE[path] = (mtime, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Predicates/projections placed on the returned
    DataFrame push down into the parquet scan (verify with .explain).

    ``events.ts`` is written as TIMESTAMP(NANOS); depending on the Spark
    build it surfaces either as int64 (with the legacy nanosAsLong conf) or as
    TIMESTAMP_NTZ. Normalize BOTH to session-local ``TIMESTAMP`` here, once,
    so every consumer (sessionize's epoch math, streaming ``withWatermark``,
    window aggs) sees one canonical type. The session timezone is UTC
    (session.py), so NTZ→TIMESTAMP preserves wall-clock values — identical to
    how DuckDB/Python surface the same column.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf may be static/absent on some builds; the read will tell
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_pinned_schema(spark, path)).parquet(path)
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas (a long-lived ingest adds columns over time): ``mergeSchema``
    unions all file schemas; rows from older files surface the new columns
    as nulls.

    100 TB note: mergeSchema reads every file footer at planning time —
    fine for a partition's worth of files, wasteful across a whole lake.
    For recurring reads, resolve the merged schema ONCE and pin it
    (``spark.read.schema(pinned).parquet(path)``): same union semantics,
    no footer sweep, and the ingest contract becomes explicit. Filter
    pushdown works either way, including on late-added columns (absent
    columns are all-null, so stats-based skipping drops old files whole).
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions than
    the cluster has slots.

    Why: a single parquet file with one row group scans as ONE task, so every
    CPU-heavy downstream stage (tokenize/shingle/hash) runs single-threaded no
    matter how many cores exist. At real scale (thousands of files/splits)
    ``getNumPartitions() >= slots`` and this is a no-op — the repartition
    shuffle only ever pays for itself on pathologically under-split inputs.
    Use before CPU-bound per-row operators, never before plain filters/aggs
    (those are scan-bound and the shuffle would cost more than it saves).
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def observe_metrics(df: DataFrame, name: str, **metrics):
    """Attach in-flight pipeline metrics to a plan (Spark's Observation
    API): named aggregate expressions evaluated DURING the job's single
    pass — row counts, null counts, value sums — with no second scan and
    no extra action (the anti-pattern this replaces is the reference's 18
    ``count()`` re-executions, SURVEY §4.3). Returns (observed_df,
    observation); read ``observation.get`` AFTER an action on the
    observed frame.

    Example:
        df2, obs = observe_metrics(df, "ingest",
                                   rows=F.count(F.lit(1)),
                                   null_ids=F.sum(F.col("id").isNull().cast("long")))
        df2.write.parquet(...)          # ONE pass
        obs.get["rows"], obs.get["null_ids"]
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[v.alias(k) for k, v in metrics.items()]), obs

