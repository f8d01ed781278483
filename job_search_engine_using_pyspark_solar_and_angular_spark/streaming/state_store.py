"""Versioned parquet state store for foreachBatch merge sinks.

The naive pattern — ``spark.read.parquet(target)`` inside try/except, then
overwrite ``target`` in place via a staging copy — has two failure modes the
round-2 review flagged (ADVICE.md):

1. A bare ``except Exception`` treats ANY read failure (transient IO error,
   permission blip, corrupted footer) as "first batch", silently resetting
   all accumulated state to the current micro-batch.
2. The staging-then-overwrite swap is not atomic: a crash between the two
   writes leaves the target half-deleted or half-written.

This store fixes both with versioned directories plus a pointer file:

    <target>/v=1/...parquet     immutable, written once
    <target>/v=2/...parquet
    <target>/_CURRENT           text file holding the live version number

- ``read_state`` checks for the pointer EXPLICITLY: pointer absent means
  "never committed" (first batch); any other failure propagates, so a
  transient error aborts the micro-batch (Structured Streaming retries it)
  instead of resetting state.
- ``commit_state`` writes the new version into a fresh directory, then
  publishes it by atomically replacing the pointer (``os.replace`` — an
  atomic rename on POSIX). A crash before the pointer flip leaves the
  previous version live; a crash after it leaves the new version live;
  no interleaving exposes a partial state.
- Old versions beyond ``keep`` are pruned AFTER the pointer flip — readers
  that resolved the pointer earlier still see immutable data for the
  retention window.

Scale note: this module uses local-filesystem pointer ops (the test and
bench environment). On a cluster, map the pointer flip to the same-atomicity
primitive of the store: HDFS ``rename``, GCS/ABFS atomic object rename, or
an S3 conditional PUT; the version-directory layout is unchanged. (A table
format — Delta/Iceberg — is the production-grade answer; this store is the
dependency-free equivalent of their commit protocol.)
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"


def _pointer_path(target_path: str) -> str:
    return os.path.join(target_path, _POINTER)


def current_version(target_path: str) -> int | None:
    """The committed version number, or None if nothing was ever committed.
    Only pointer ABSENCE maps to None — unreadable/garbage pointer content
    raises (that is corruption, not first-batch)."""
    p = _pointer_path(target_path)
    if not os.path.exists(p):
        return None
    with open(p, encoding="ascii") as fh:
        return int(fh.read().strip())


def read_state(
    spark: SparkSession,
    target_path: str,
    version: int | None = None,
    schema: str | None = None,
) -> DataFrame | None:
    """The committed state DataFrame, or None if never committed.

    ``version`` reads a specific committed version instead of the live one
    (time travel within the retention window, e.g. ``keep=2`` retains the
    previous state for exactly-once replay comparisons and debugging).
    Requesting a pruned or never-written version raises FileNotFoundError
    rather than silently serving the wrong state.

    ``schema`` (a DDL string) reads the version with a declared schema
    instead of inferring one from its files, which costs a Spark job; a
    declared column the version does not hold reads as null."""
    if version is None:
        version = current_version(target_path)
        if version is None:
            return None
    vdir = os.path.join(target_path, f"v={version}")
    if not os.path.isdir(vdir):
        raise FileNotFoundError(
            f"state version {version} not present under {target_path} "
            "(pruned or never committed)"
        )
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(vdir)


def commit_state(df: DataFrame, target_path: str, keep: int = 2) -> int:
    """Write ``df`` as the next version and atomically publish it.
    Returns the committed version number."""
    prev = current_version(target_path)
    nxt = 1 if prev is None else prev + 1
    os.makedirs(target_path, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(target_path, f"v={nxt}"))
    tmp = _pointer_path(target_path) + ".tmp"
    with open(tmp, "w", encoding="ascii") as fh:
        fh.write(str(nxt))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _pointer_path(target_path))
    # prune: keep the last `keep` versions (the live one plus history for
    # in-flight readers); pruning is best-effort and crash-safe (a leftover
    # directory is garbage, never state).
    for name in os.listdir(target_path):
        if name.startswith("v="):
            v = int(name[2:])
            if v <= nxt - keep:
                shutil.rmtree(os.path.join(target_path, name), ignore_errors=True)
    return nxt
