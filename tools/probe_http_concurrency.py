"""HTTP serving concurrency probe: sustained request throughput of the
REST surface (search/http_server.py) at 1/2/4/8 concurrent clients over
the sf0.1 on-disk postings index.

What it answers: the reference serves one Spring thread per request over
Solr; our requests are Spark jobs submitted from handler threads into one
driver. Does a second client add throughput (concurrent job scheduling
works) or just queue (driver/scheduler serialization dominates)? Run under
both FIFO (default) and FAIR to show whether scheduler mode matters at
this request size.

Usage: python tools/probe_http_concurrency.py [requests-per-client]
Writes one JSON line; paste the row into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table  # noqa: E402
from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (  # noqa: E402
    SearchService,
    serve,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (  # noqa: E402
    build_index,
    read_index,
    write_index,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench")

QUERIES = ["spark join", "window shuffle", "parquet scan", "broadcast hash",
           "stream state", "catalyst plan", "partition skew", "codegen stage"]


def _index(spark):
    sf_tag = os.path.basename(SF_DIR.rstrip("/"))
    base = os.path.join(BENCH_DIR, f"index_{sf_tag}")
    try:
        idx = read_index(spark, base)
        idx.postings.first()
    except Exception:
        built = build_index(load_table(spark, SF_DIR, "documents"), cache=True)
        write_index(built, base)
        idx = read_index(spark, base)
    return idx


def run_level(url_base: str, clients: int, per_client: int) -> dict:
    def one_client(cid: int) -> int:
        n = 0
        for i in range(per_client):
            q = QUERIES[(cid + i) % len(QUERIES)].replace(" ", "%20")
            with urllib.request.urlopen(
                url_base + "/api/search/query?query=" + q, timeout=600
            ) as resp:
                body = json.loads(resp.read())
            assert body["status_code"] == 200
            n += 1
        return n

    t0 = time.perf_counter()
    with ThreadPoolExecutor(clients) as pool:
        total = sum(pool.map(one_client, range(clients)))
    dt = time.perf_counter() - t0
    return {
        "clients": clients,
        "requests": total,
        "sec": round(dt, 2),
        "rps": round(total / dt, 2),
        "mean_latency_sec": round(dt * clients / total, 3),
    }


def main() -> None:
    """Scheduler mode is fixed at SparkContext startup, so one process
    probes one mode: JSE_SCHED=FAIR re-runs the ladder under fair pools
    (compare the two JSON lines externally)."""
    per_client = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    mode = os.environ.get("JSE_SCHED", "FIFO").upper()
    extra = {"spark.scheduler.mode": mode} if mode != "FIFO" else None
    spark = get_spark(app_name="jse-http-probe", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    idx = _index(spark)
    docs = load_table(spark, SF_DIR, "documents")
    svc = SearchService(spark, idx, docs)
    out: dict = {
        "sf_dir": SF_DIR,
        "per_client": per_client,
        "scheduler": spark.sparkContext.getConf().get("spark.scheduler.mode", "FIFO"),
    }
    with serve(svc) as handle:
        # warm every distinct query's plan once
        run_level(handle.url, 1, len(QUERIES))
        levels = [run_level(handle.url, c, per_client) for c in (1, 2, 4, 8)]
        out["levels"] = levels
        out["speedup_at_8"] = round(levels[-1]["rps"] / levels[0]["rps"], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
