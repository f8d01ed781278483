"""Top-k, pagination, and salting helpers (SURVEY.md §2.7).

``orderBy(...).limit(k)`` maps to Spark's TakeOrderedAndProject physical
operator — per-partition heaps + a k-row driver merge, never a global sort.
That is the scale-correct replacement for the reference's Solr ``rows=k``
retrievals (``Main/SolrRanker.java:77,104,145``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def paginate(df: DataFrame, order: list[Column], offset: int, limit: int) -> DataFrame:
    """Offset/limit pagination (reference O5 — the Angular client's skip/limit
    that the server ignored, ``api/Handler.java:34``). Spark's native
    ``offset``/``limit``: Catalyst plans sort+offset+limit as a bounded
    global-limit — per-partition heaps of offset+limit rows, no
    single-partition row_number window. For deep offsets prefer keyset
    pagination on the order columns."""
    return df.orderBy(*order).offset(offset).limit(limit)


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order: list[Column], k: int
) -> DataFrame:
    """Grouped top-k via rank window — one shuffle on the group key."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def top_k_per_group_partial(
    df: DataFrame,
    group_cols: list[str],
    sort_struct: Column,
    k: int,
    salt_src: Column,
    salts: int = 32,
) -> DataFrame:
    """Two-phase grouped top-k: per-(group, salt) partial top-k folded into
    sorted k-arrays, then ONE tiny merge per group (groups × salts × k rows).

    Why beside :func:`top_k_per_group` (rank window): the window puts a
    group's ENTIRE row set in one task — for low-cardinality groups (a
    batch of query vectors scored against the whole corpus, a handful of
    hot categories) that is a single-task sort of N rows. Here no task
    ever holds more than its (group, salt) slice (~N_group/salts), and the
    final merge sorts k·salts elements. Same result set, pinned
    result-identical in tests.

    ``sort_struct`` must be a struct column whose ASCENDING lexicographic
    order is the desired ranking (negate numeric fields for descending) and
    whose fields carry everything the caller needs back out — they are
    re-exploded into columns, plus a 1-based ``rank``. ``salt_src`` drives
    the deterministic salt (any row-varying column; hashed, layout-stable).
    """
    salt = F.pmod(F.xxhash64(salt_src), F.lit(salts)).cast("int")
    part = (
        df.withColumn("__s", salt)
        .groupBy(*group_cols, "__s")
        .agg(
            F.slice(F.array_sort(F.collect_list(sort_struct)), 1, k).alias("__p")
        )
    )
    merged = (
        part.select(*group_cols, F.explode("__p").alias("__e"))
        .groupBy(*group_cols)
        .agg(
            F.slice(F.array_sort(F.collect_list("__e")), 1, k).alias("__p")
        )
    )
    return merged.select(
        *group_cols, F.posexplode("__p").alias("__r0", "__e")
    ).select(
        *group_cols, (F.col("__r0") + 1).alias("rank"), F.col("__e.*")
    )


def salt_key(
    df: DataFrame,
    key_col: str,
    buckets: int,
    salt_col: str = "__salt",
    salt_src: Optional[Column] = None,
) -> DataFrame:
    """Add a salt column for skew mitigation: heavy keys spread across
    ``buckets`` sub-keys. Pair with a two-phase aggregation (agg on
    (key, salt) then on key). AQE's skew-join handles most cases; this is the
    explicit fallback for known-hot keys.

    The salt is CONTENT-DERIVED (``xxhash64`` of ``salt_src``, defaulting to
    the whole row), never ``F.rand(seed)``: a seeded rand is per-partition
    seeded, so values change with layout/repartitioning, violating the repo's
    layout-stability discipline. Hashing row content spreads a hot key's
    distinct rows uniformly while staying bit-identical across any physical
    layout (repartition-invariance pinned in tests). Exact duplicate rows
    land in the same bucket — harmless for two-phase aggregation, which
    merges them anyway."""
    if salt_src is None:
        salt_src = F.struct(*[F.col(c) for c in df.columns])
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(salt_src), F.lit(buckets)).cast("int")
    )
