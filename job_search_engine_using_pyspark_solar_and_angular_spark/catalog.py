"""Schema DDL / catalog surface (reference R5).

The reference manages Solr field schemas programmatically — add/delete field
and field type, lookups of indexed/stored flags
(``Ranking Model/src/main/java/Utils/SolrSchema.java:27-151``, interactive
lookup ``Main/SolrSetup.java:17-39``). In a Spark-native engine that surface
is the catalog: table registration, schema description, and schema evolution
expressed as plan-level projections (parquet/views are schema-on-read, so
"add field" is a select, not a rewrite).

All functions are metadata-only or lazy — nothing scans data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def register_table(spark: SparkSession, name: str, df: DataFrame) -> None:
    """Catalog registration (Solr collection-create analog,
    ``Main/SolrSetup.java:41-59``)."""
    df.createOrReplaceTempView(name)


def drop_table(spark: SparkSession, name: str) -> None:
    """S9 teardown analog (``Main/SolrCleanup.java:84-116``)."""
    spark.catalog.dropTempView(name)


def describe_fields(df: DataFrame) -> list[dict]:
    """Field lookup (``SolrSchema.java:97-151``): name, type, nullable.

    Every parquet column is implicitly both "indexed" (min/max + dictionary
    page metadata serve pruning) and "docValues" (columnar), so those Solr
    flags have no per-field toggle here — noted for parity.
    """
    return [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
        for f in df.schema.fields
    ]


def add_field(df: DataFrame, name: str, col: F.Column) -> DataFrame:
    """Schema evolution: add a (derived or literal-default) field
    (``SolrSchema.java:27-53`` addField analog). Lazy projection."""
    return df.withColumn(name, col)


def delete_field(df: DataFrame, name: str) -> DataFrame:
    """``SolrSchema.java:55-73`` deleteField analog."""
    return df.drop(name)


def schema_diff(a: DataFrame, b: DataFrame) -> dict[str, list[str]]:
    """Added/removed/retyped fields between two schemas — the check a
    latest-wins merge (D2) should run before unioning existing ∪ incoming."""
    fa = {f.name: f.dataType.simpleString() for f in a.schema.fields}
    fb = {f.name: f.dataType.simpleString() for f in b.schema.fields}
    return {
        "added": sorted(set(fb) - set(fa)),
        "removed": sorted(set(fa) - set(fb)),
        "retyped": sorted(k for k in set(fa) & set(fb) if fa[k] != fb[k]),
    }


def align_to_schema(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project/cast a DataFrame onto a target schema: missing fields become
    typed nulls, extra fields drop, mismatched types cast. The ingest-side
    defense the reference implements as hand-listed selects
    (``Tweets_preprocessing.py:120,150-154`` — per-file schema drift)."""
    cols = []
    have = {f.name for f in df.schema.fields}
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    keys: list[str],
    buckets: int = 32,
    sort: bool = True,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on its join
    keys. Two tables bucketed on the same keys with the same bucket count
    join WITHOUT a shuffle (and without even a sort when both are
    sort-bucketed) — the co-located-join layout for fact⋈fact joins too big
    to broadcast. At 100 TB this turns the recurring shuffle of a daily
    fact-to-fact join into a one-time layout cost at write.

    Pinned by tests/test_plans.py::test_bucketed_join_has_no_shuffle.

    The pre-write ``repartition(buckets, *keys)`` matches bucketBy's hash
    spec (pmod(murmur3, N)), so each task holds exactly one bucket: N files
    total instead of input-partitions x N.
    """
    writer = (
        df.repartition(buckets, *[F.col(k) for k in keys])
        .write.mode("overwrite")
        .bucketBy(buckets, *keys)
    )
    if sort:
        writer = writer.sortBy(*keys)
    writer.option("path", path).saveAsTable(name)


def compact_parquet(
    spark: SparkSession, path: str, target_mb: int = 128
) -> tuple[int, int]:
    """Small-files compaction (lake maintenance): rewrite a parquet
    directory into ceil(bytes / target_mb) files via an atomic
    staging-directory swap. Returns (files_before, files_after).

    Streaming sinks and frequent small appends accumulate KB-scale files;
    at 100 TB the resulting task-per-file scheduling and footer overhead
    dominate scan time. Compaction is a full rewrite of ONE directory —
    run it per partition (e.g. per day), not per lake; the write itself is
    a round-robin repartition, no shuffle key needed. On a real deployment
    the swap is a transactional-table operation (same plan, safe commit).
    """
    import math
    import shutil

    before = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    size_b = sum(os.path.getsize(os.path.join(path, f)) for f in before)
    n_out = max(1, math.ceil(size_b / (target_mb * 1024 * 1024)))
    staging = path.rstrip("/") + "__compacting"
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(
        staging
    )
    shutil.rmtree(path)
    os.rename(staging, path)
    after = [
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    return len(before), len(after)


def zorder_key(cols: list[F.Column], bits: int = 8) -> F.Column:
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    (caller-normalized, non-negative integer) column — bit j of column c
    lands at position j*n_cols + c. Pure bitwise column arithmetic, codegen'd,
    reproducible in any engine.

    Callers normalize dimensions to [0, 2^bits) first (e.g. ``user_id %
    256``, a bucketized value); equal-width bits per dimension is the
    standard trade."""
    n = len(cols)
    z = F.lit(0).cast("long")
    for c_idx, c in enumerate(cols):
        cl = c.cast("long")
        for j in range(bits):
            z = z + F.shiftleft(
                F.shiftright(cl, j).bitwiseAND(F.lit(1)), j * n + c_idx
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[F.Column],
    bits: int = 8,
    n_files: int = 16,
) -> None:
    """Write ``df`` clustered on the Z-order of ``cols``: range-partitioned
    and sorted by the interleaved key, so a multi-dimensional box predicate
    concentrates its matches in FEW files/row-groups instead of all of them
    — min/max stats then skip the rest. The layout cost is one range
    shuffle at write; every subsequent multi-predicate scan pays less.
    Locality quality is pinned by tests/test_sources_catalog.py (box query
    touches a fraction of the files a random layout touches)."""
    keyed = df.withColumn("__z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def audit(df: DataFrame, rules: dict[str, F.Column]) -> DataFrame:
    """Data-quality audit: evaluate every rule (name -> boolean Column that
    should hold) in ONE pass and return per-rule violation counts —
    (rule, n_rows, n_violations, violation_rate).

    All rules compile into a single partial+final aggregate over one scan
    (the conditional-aggregate reshape): auditing 50 rules costs one pass
    at 100 TB, not 50. Row-local rules only — aggregate expectations
    (uniqueness, referential) are joins/aggs the caller expresses directly."""
    aggs = []
    for name, cond in rules.items():
        aggs.append(
            F.sum(F.when(~cond, 1).otherwise(0)).cast("long").alias(f"__v_{name}")
        )
    counts = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    per_rule = [
        F.struct(
            F.lit(name).alias("rule"),
            F.col("__n").cast("long").alias("n_rows"),
            F.col(f"__v_{name}").alias("n_violations"),
            F.round(F.col(f"__v_{name}") / F.col("__n"), 4).alias("violation_rate"),
        )
        for name in rules
    ]
    return counts.select(
        F.explode(F.array(*per_rule)).alias("r")
    ).select("r.rule", "r.n_rows", "r.n_violations", "r.violation_rate")


def quarantine(
    df: DataFrame, rules: dict[str, F.Column], tag_col: str = "failed_rules"
) -> DataFrame:
    """Tag every row with the array of rule names it violates (empty = clean).
    Row-local; callers split clean/quarantined with one filter on
    ``size(failed_rules)`` and route the quarantine to a dead-letter sink
    instead of failing the 100 TB job."""
    tags = F.array_compact(
        F.array(
            *[
                F.when(~cond, F.lit(name)).otherwise(F.lit(None))
                for name, cond in rules.items()
            ]
        )
    )
    return df.withColumn(tag_col, tags)


def flatten_struct(df: DataFrame, sep: str = "_") -> DataFrame:
    """Recursively flatten every struct column into top-level columns named
    by their full path (``user.location.city`` -> ``user_location_city``).
    Arrays stay opaque (explode is a row-multiplying decision the caller
    owns — see plans/preprocess.py for the domain-aware version).

    Pure projection: collapses into the scan, no shuffle, and column
    pruning still reaches parquet for any subset of the flattened output
    (nested schema pruning). The generic exploration tool next to the
    schema'd preprocess flatten."""
    def leaves(schema: T.StructType, path: tuple[str, ...] = ()):
        for f in schema.fields:
            p = path + (f.name,)
            if isinstance(f.dataType, T.StructType):
                yield from leaves(f.dataType, p)
            else:
                yield p

    cols = [
        F.col(".".join(f"`{part}`" for part in p)).alias(sep.join(p))
        for p in leaves(df.schema)
    ]
    return df.select(*cols)


def backfill_partition(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_col: str = "day",
) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions present
    in ``df``, leave every other partition untouched (dynamic partition
    overwrite — the daily-job re-run primitive; a failed Tuesday re-runs
    without clobbering Monday). Static overwrite mode would drop the whole
    table; this scopes the overwrite to ``df``'s partition values, which is
    what makes re-running a single day idempotent at any table size."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def parquet_layout_report(path: str, stat_col: str | None = None) -> dict:
    """Physical-layout diagnostics from parquet footers (pyarrow — metadata
    only, zero data read): file/row-group/row counts, compressed bytes,
    and per-row-group min/max for ``stat_col`` with the fraction of
    row groups a point predicate could skip on average. This is the
    observability half of the data-skipping story: write_zordered /
    bucketed layouts claim better pruning — this measures the footers
    that pruning actually uses."""
    import os as _os

    import pyarrow.parquet as pq

    files = []
    for root, _dirs, names in _os.walk(path):
        files += [
            _os.path.join(root, n) for n in names if n.endswith(".parquet")
        ]
    n_groups = n_rows = n_bytes = 0
    ranges = []
    for f in sorted(files):
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            n_groups += 1
            n_bytes += rg.total_byte_size
            if stat_col is not None:
                idx = {
                    rg.column(i).path_in_schema: i for i in range(rg.num_columns)
                }.get(stat_col)
                if idx is not None:
                    st = rg.column(idx).statistics
                    if st is not None and st.has_min_max:
                        ranges.append((st.min, st.max))
    report = {
        "n_files": len(files),
        "n_row_groups": n_groups,
        "n_rows": n_rows,
        "compressed_bytes": n_bytes,
    }
    if stat_col is not None and ranges:
        lo = min(r[0] for r in ranges)
        hi = max(r[1] for r in ranges)
        width = (hi - lo) or 1
        # expected fraction of row groups overlapping a uniform point probe
        overlap = sum((r[1] - r[0]) / width for r in ranges) / len(ranges)
        report["stat_col"] = stat_col
        report["avg_point_overlap"] = round(float(overlap), 4)
        report["skippable_fraction"] = round(1.0 - float(overlap), 4)
    return report
