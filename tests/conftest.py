"""Shared pytest fixtures: one SparkSession per test run + the DuckDB oracle
comparison helper that mirrors the driver's t2 check (row-count + schema-shape
+ order-insensitive canonical value compare)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark

SF_DIR = os.environ.get("JSE_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="jse-tests")
    yield s


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs that hold persisted blocks: cached DataFrames and
    local lineage cuts. Compare id sets, not counts — Spark's ContextCleaner
    may drop ids at any time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_value(v):
    """Canonicalize a scalar for exact comparison (mirrors a value-hash)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr distinguishes ulp-level differences — intentionally strict.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def type_class(t) -> str:
    """Coarse numeric/type class of a Spark simpleString or DuckDB DESCRIBE
    type. The driver fetches oracle results via arrow/pandas, where DuckDB
    HUGEINT/DECIMAL become decimal128 -> float64 — so a Spark-bigint vs
    DuckDB-hugeint column hashes as "123" vs "123.0" even when numerically
    identical (the CORRECTNESS_r04 ext_cluster_assign red). Classing HUGEINT/
    DECIMAL apart from int surfaces that hazard locally."""
    t = str(t).lower()
    if "hugeint" in t or "decimal" in t:
        return "decimal"
    if any(x in t for x in ("bigint", "int", "long", "smallint", "tinyint", "byte", "short")):
        return "int"
    if any(x in t for x in ("double", "float", "real")):
        return "float"
    if "bool" in t:
        return "bool"
    if any(x in t for x in ("varchar", "string", "char", "text")):
        return "str"
    if "timestamp" in t:
        return "ts"
    if "date" in t:
        return "date"
    if t.startswith("array") or t.endswith("[]") or "list" in t:
        return "array"
    return t


def canon_rows(cols, rows):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def assert_matches_oracle(spark_df, ddb_con, sql, name=""):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    res = ddb_con.execute(sql)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column names differ: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    # Type-CLASS parity: the local fetchall path canonicalizes Decimal('123')
    # and 123 identically, but the driver's arrow/pandas path does not — so
    # compare classes explicitly (DESCRIBE plans the query without running it).
    s_classes = {f.name: type_class(f.dataType.simpleString()) for f in spark_df.schema.fields}
    d_classes = {
        r[0]: type_class(r[1]) for r in ddb_con.execute("DESCRIBE " + sql).fetchall()
    }
    class_diffs = {
        c: (s_classes[c], d_classes[c])
        for c in s_classes
        if c in d_classes and s_classes[c] != d_classes[c]
    }
    assert not class_diffs, (
        f"{name}: result type-class drift (spark, duckdb): {class_diffs} — "
        "cast the oracle (or the query) so both sides agree; an arrow/pandas "
        "fetch renders DECIMAL/HUGEINT as float64 and the driver hash diverges"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count differs: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_canon = canon_rows(s_cols, s_rows)
    d_canon = canon_rows(d_cols, d_rows)
    if s_canon != d_canon:
        diffs = [
            (a, b) for a, b in zip(s_canon, d_canon) if a != b
        ][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
