"""Differential test: every declared query vs its DuckDB oracle at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01); running the full
set at the smallest sf keeps the suite fast enough for every commit.
"""

from __future__ import annotations

import pytest

from job_search_engine_using_pyspark_solar_and_angular_spark.queries import extensions  # noqa: F401  (registers)
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
    QUERIES,
    release_query_caches,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.oracles import ORACLES

from .conftest import SF_DIR, assert_matches_oracle, persisted_rdd_ids

ORACLE_CHECKED = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


def _assert_no_blocks_survive(spark, name, before):
    """Every RDD persisted or cut while building and running ``name`` is
    released with its cache generation."""
    release_query_caches(name)
    left = persisted_rdd_ids(spark) - before
    assert not left, f"{name}: persisted RDDs {sorted(left)} survive release"


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    before = persisted_rdd_ids(spark)
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, ddb, ORACLES[name], name=name)
    _assert_no_blocks_survive(spark, name, before)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    before = persisted_rdd_ids(spark)
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert df.columns  # stable schema
    _assert_no_blocks_survive(spark, name, before)


def test_every_oracle_has_query():
    missing = sorted(set(ORACLES) - set(QUERIES))
    assert not missing, f"oracles without queries: {missing}"
