"""BM25 served-search replication probe — the keyword-side twin of
tools/probe_ann_scale.py: replicate the sf0.1 documents corpus (default
100x -> 500k docs), persist the token-sorted index once, and measure
steady-state query latency against the on-disk postings plus the
one-time build cost.

What it demonstrates at scale: a term query's cost is its terms' posting
LISTS (row-group-pruned file reads growing with corpus size), not the corpus
— so latency should grow far sub-linearly vs the 100x document count,
while the build pays the full corpus pass once.

Usage:
  python tools/probe_bm25_scale.py [reps]     # default 100 (-> 500k docs)

Prints one JSON line. Index cached under .bench/bm25idx_probe_r{reps}.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table  # noqa: E402
from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import bm25_search  # noqa: E402
from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (  # noqa: E402
    build_index,
    read_index,
    write_index,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_DIR = os.path.join(REPO, ".bench")


def replicated_documents(spark, sf_dir: str, reps: int):
    """The documents corpus replicated ``reps`` times: replica r of doc d
    gets doc_id = r*100_000_000 + d, text unchanged (exact-duplicate
    replicas — posting lists grow reps x per term, the property a
    serving-latency probe needs; dedup quality is someone else's probe)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    r = spark.range(reps).select(F.col("id").alias("__rep"))
    return docs.crossJoin(r).select(
        (F.col("__rep") * 100_000_000 + F.col("doc_id")).alias("doc_id"), "text"
    )


def timed_min(fn, trials: int = 2) -> float:
    best = float("inf")
    for _ in range(trials):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark

    spark = get_spark(app_name="probe-bm25-scale")
    spark.sparkContext.setLogLevel("ERROR")

    base = os.path.join(BENCH_DIR, f"bm25idx_probe_r{reps}")
    n_docs = load_table(spark, SF_DIR, "documents").count() * reps

    build_sec = None
    try:
        idx = read_index(spark, base)
        idx.postings.first()
    except Exception:
        corpus = replicated_documents(spark, SF_DIR, reps)
        t0 = time.perf_counter()
        built = build_index(corpus, cache=True)
        write_index(built, base)
        build_sec = round(time.perf_counter() - t0, 3)
        built.postings.unpersist()
        idx = read_index(spark, base)

    force(bm25_search(spark, idx, ["spark", "join"], 10))  # warm
    t_query = timed_min(
        lambda: force(bm25_search(spark, idx, ["spark", "join"], 10))
    )
    # a rarer term pair (smaller posting lists) for the list-size slope
    force(bm25_search(spark, idx, ["window", "stream"], 10))
    t_query_rare = timed_min(
        lambda: force(bm25_search(spark, idx, ["window", "stream"], 10))
    )

    print(
        json.dumps(
            {
                "metric": "served-BM25 replication probe",
                "n_docs": n_docs,
                "reps": reps,
                "build_sec": build_sec,
                "query_sec": t_query,
                "query_rare_sec": t_query_rare,
            }
        )
    )


if __name__ == "__main__":
    main()
