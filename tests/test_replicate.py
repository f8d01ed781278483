"""The replicator's invariants (sources/replicate.py) at ×3, and a smoke run
of the replication ladder it feeds (``bench.py --ladder``)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import TABLES, load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.operators import dedup
from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
    _shingle_hashes,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.queries import extensions  # noqa: F401
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import QUERIES
from job_search_engine_using_pyspark_solar_and_angular_spark.sources import replicate

from .conftest import SF_DIR

REPS = 3


@pytest.fixture(scope="module")
def rep_dir(spark, tmp_path_factory):
    return replicate.replicate(spark, SF_DIR, REPS, str(tmp_path_factory.mktemp("rep")))


@pytest.fixture(scope="module")
def doc_offset(spark):
    return replicate.key_offsets(spark, SF_DIR)["doc"]


def test_facts_grow_dimensions_do_not(spark, rep_dir):
    for t in TABLES:
        n1 = load_table(spark, SF_DIR, t).count()
        n3 = load_table(spark, rep_dir, t).count()
        assert n3 == (REPS * n1 if t in replicate.FACTS else n1), t


def test_every_lineitem_joins_its_order(spark, rep_dir):
    li = load_table(spark, rep_dir, "lineitem")
    o = load_table(spark, rep_dir, "orders")
    assert o.select("o_orderkey").distinct().count() == o.count()
    assert li.join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti").count() == 0


def test_tpch_q6_is_exactly_three_times(spark, rep_dir):
    one, three = (QUERIES["ext_tpch_q6"](spark, d).first() for d in (SF_DIR, rep_dir))
    assert one["n_items"] > 0
    assert three["n_items"] == REPS * one["n_items"]
    assert round(three["revenue"] * 100) == REPS * round(one["revenue"] * 100)


def test_replica_documents_share_no_shingle_with_replica_0(spark, rep_dir, doc_offset):
    docs = load_table(spark, rep_dir, "documents")
    sh = _shingle_hashes(docs, "doc_id", "text", 3)
    first = sh.filter(F.col("doc_id") < doc_offset).select("h")
    later = sh.filter(F.col("doc_id") >= doc_offset)
    assert later.count() > 0
    assert later.join(first, "h").count() == 0
    assert docs.filter(F.col("n_chars") != F.length("text")).count() == 0


def test_lsh_pairs_stay_within_one_replica(spark, rep_dir, doc_offset):
    pairs = dedup.minhash_lsh_candidates(load_table(spark, rep_dir, "documents"))
    assert pairs.count() > 0
    replica = lambda c: F.floor(F.col(c) / doc_offset)  # noqa: E731
    assert pairs.filter(replica("doc_a") != replica("doc_b")).count() == 0


def test_ladder_rows_and_exponents(spark, tmp_path, monkeypatch):
    """Rungs 1 and 2 on two queries plus one that cannot run: every entry
    gets a row at every rung, a failing one a row holding its error."""
    import bench

    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    names = ["ext_tpch_q6", "q20_bm25_search", "no_such_query"]
    doc = bench.ladder(spark, SF_DIR, [1, 2], names=names)
    for name in names[:2]:
        for rung in ("x1", "x2"):
            row = doc["rows"][name][rung]
            assert set(row) == {"wall_s", "rows", *bench.LADDER_COUNTERS}, row
            assert row["jobs"] > 0 and row["rows"] > 0
        assert math.isfinite(doc["exponents"][name]["x2"]["wall"])
    assert doc["rows"]["ext_tpch_q6"]["x2"]["rows"] == 1
    assert set(doc["rows"]["no_such_query"]) == {"x1", "x2"}
    assert all("error" in r for r in doc["rows"]["no_such_query"].values())
    assert doc["exponents"]["no_such_query"] == {}
