"""The session's generated-class cache holds a rerun's working set.

perfbench's analytics workload builds and noop-forces the same 14 registry
queries pass after pass. Spark's default cache keeps 100 generated classes
and one pass needs ~420, so every pass compiled every class again. With the
cache sized by ``session.get_spark``, a second pass finds its classes cached.
"""

from __future__ import annotations

from job_search_engine_using_pyspark_solar_and_angular_spark.cache import (
    release_query_caches,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
from job_search_engine_using_pyspark_solar_and_angular_spark.queries import (
    extensions as _ext,  # noqa: F401  (registers)
)
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import QUERIES
from job_search_engine_using_pyspark_solar_and_angular_spark.session import (
    CODEGEN_CACHE_ENTRIES,
)

from .conftest import SF_DIR

# perfbench/w_analytics.py QUERIES
ANALYTICS = (
    "ext_curation_verdict", "ext_pagerank", "ext_bfs_distances", "ext_dedup_clusters",
    "q20_bm25_search", "ext_hybrid_rrf", "ext_more_like_this", "ext_bpe_encode",
    "ext_tpch_q9", "ext_tpch_q18", "q11_agg_tpch_q1", "ext_tpch_q6", "q08_latest_wins",
    "q03_anti_join",
)


def _pass(spark) -> int:
    with profiled("analytics-pass") as led:
        for name in ANALYTICS:
            release_query_caches(name)
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            release_query_caches(name)
    return led.compiles


def test_second_analytics_pass_compiles_almost_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    first = _pass(spark)
    second = _pass(spark)
    # A cache smaller than the pass's working set misses on nearly every
    # class of a repeated pass (LRU over a cyclic pattern): 423 of 431 with
    # Spark's default. With the working set cached, only new code compiles,
    # from AQE's run-time choices (codegen stages renumbered, a join
    # flipped): 2-50 classes per pass, the high end when an iterative query
    # (ext_pagerank) is re-planned differently in every iteration. The bound
    # does not depend on what earlier tests left in the cache.
    assert second <= 150, f"second pass compiled {second} classes (first: {first})"
