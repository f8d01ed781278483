"""Shuffle-volume audit: measured shuffle read/write bytes, spill, and
input bytes PER QUERY, at two scale factors — the scaling evidence that
wall-clock alone can't give. A query whose time scales fine on local[32]
can still hide shuffle volume growing super-linearly with input (the
thing that kills at 100 TB when the shuffle no longer fits the cluster's
disks/network); bytes don't lie.

Method: a dedicated session with the UI's REST status API enabled
(spark.ui.enabled=true — the engine's default session disables it), one
snapshot of the completed-stage metric sums before and after each query;
the delta is that query's volume. Ratios between SFs give the scaling
exponent: shuffle_ratio ≈ SF-ratio means linear (healthy — partial aggs
and bucketing are doing their job); >> SF-ratio flags a join or agg whose
shuffle grows faster than the data.

Usage:
  python tools/shuffle_audit.py [query ...]   # default: the heavy set
Writes .bench/shuffle_audit.json and prints one row per (query, sf).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
UI_PORT = int(os.environ.get("JSE_AUDIT_UI_PORT", "4049"))

# the shuffle-heaviest compositions: dedup/LSH self-joins, the curation
# funnel, TPC-H joins, PQ build, pagerank iterations
DEFAULT_QUERIES = [
    "q11_agg_tpch_q1",
    "ext_tpch_q9",
    "ext_tpch_q18",
    "ext_tpch_q21",
    "ext_dedup_clusters",
    "ext_verified_clusters",
    "ext_curation_verdict",
    "ext_preprocess_pipeline",
    "ext_simhash",
    "ext_ann_pq",
    "ext_pagerank",
    "ext_bpe_encode",
]

METRICS = (
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
)


def _rest(path: str):
    url = f"http://127.0.0.1:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read())


def _snapshot(app_id: str) -> dict[str, int]:
    """Sum of each metric over all completed/failed stages so far."""
    totals = dict.fromkeys(METRICS, 0)
    for status in ("COMPLETE", "FAILED"):
        for st in _rest(f"applications/{app_id}/stages?status={status.lower()}"):
            for m in METRICS:
                totals[m] += int(st.get(m, 0) or 0)
    return totals


def _stable_snapshot(app_id: str) -> dict[str, int]:
    """The status API publishes stage completion asynchronously (listener
    bus → AppStatusStore); settle first, then read until three consecutive
    snapshots agree — two can both be stale right after a job ends."""
    time.sleep(1.0)
    prev = _snapshot(app_id)
    agree = 0
    for _ in range(30):
        time.sleep(0.4)
        cur = _snapshot(app_id)
        agree = agree + 1 if cur == prev else 0
        if agree >= 2:
            return cur
        prev = cur
    return prev


def _delta(app_id: str, fn) -> dict[str, float]:
    """Metric deltas (MB) around ``fn()`` plus its wall time."""
    base = _stable_snapshot(app_id)
    t0 = time.perf_counter()
    fn()
    dt = time.perf_counter() - t0
    after = _stable_snapshot(app_id)
    row = {m: round((after[m] - base[m]) / 1e6, 2) for m in METRICS}
    row["sec"] = round(dt, 3)
    return row


def served_main() -> None:
    """Shuffle-volume rows for the SERVING + STREAMING paths (VERDICT r7
    #4 — the batch-query audit had no measured-bytes row for them):

    * q20_bm25_served / http_query_served — per-request bytes (delta over
      2 identical requests, halved) against the on-disk token-sorted index at
      sf0.01 and sf0.1: posting-list reads must scale with the index, the
      shuffle with the ~matching-docs agg, never the corpus;
    * served_refresh — one ~2%-of-corpus delta batch through the full
      serve loop (dedup gate -> segment publish) at both sfs;
    * streaming_ingest — one availableNow replay of the synthetic tweet
      corpus at ~30 MB and ~120 MB (4x): per-batch preprocess shuffle
      must scale with the streamed volume.
    """
    import shutil

    import bench
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.search import (
        serve_loop,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="jse-shuffle-audit-served",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = _rest("applications")[0]["id"]
    from pyspark.sql import functions as F

    out: dict[str, dict[str, dict[str, float]]] = {}

    for sf_dir in SFS:
        sf_tag = os.path.basename(sf_dir.rstrip("/"))

        # -- BM25 + HTTP request paths over the on-disk index ----------
        bench.bench_bm25_served(spark, sf_dir)  # ensures + warms the index
        from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
            bm25_search,
        )
        from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
            read_index,
        )

        idx = read_index(spark, os.path.join(REPO, ".bench", f"index_{sf_tag}"))
        row = _delta(
            app_id,
            lambda: [
                bench.force(bm25_search(spark, idx, ["spark", "join"], 10))
                for _ in range(2)
            ],
        )
        out.setdefault("q20_bm25_served", {})[sf_tag] = {
            k: round(v / 2, 3) for k, v in row.items()
        }

        import json as _json
        import urllib.request

        from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
            SearchService,
            serve,
        )

        docs = load_table(spark, sf_dir, "documents").withColumn(
            "owner", (F.col("doc_id") % 100) + 1
        )
        users = load_table(spark, sf_dir, "customer")
        svc = SearchService(
            spark, idx, docs, users=users, doc_user_key=("owner", "c_custkey")
        )
        with serve(svc) as handle:
            url = handle.url + "/api/search/query?query=spark%20join"

            def one() -> None:
                with urllib.request.urlopen(url, timeout=300) as resp:
                    assert _json.loads(resp.read())["status_code"] == 200

            one()  # warm
            row = _delta(app_id, lambda: [one() for _ in range(2)])
        out.setdefault("http_query_served", {})[sf_tag] = {
            k: round(v / 2, 3) for k, v in row.items()
        }

        # -- serve-loop refresh: one delta batch over bootstrap state ---
        base = os.path.join(REPO, ".bench", f"audit_serving_{sf_tag}")
        shutil.rmtree(base, ignore_errors=True)
        prefix = f"jse_audit_serve_{sf_tag.replace('.', '_')}"
        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        corpus = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .join(emb, "doc_id", "left")
        )
        serve_loop.serve_batch(spark, corpus, base, prefix, vec_col="embedding")
        batch = corpus.filter(F.col("doc_id") % 50 == 1).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.format_string(
                "fresh arrival %d audit batch body %d",
                F.col("doc_id"),
                F.col("doc_id") + F.lit(7),
            ).alias("text"),
            "embedding",
        )
        out.setdefault("served_refresh", {})[sf_tag] = _delta(
            app_id,
            lambda: serve_loop.serve_batch(
                spark, batch, base, prefix, vec_col="embedding"
            ),
        )
        shutil.rmtree(base, ignore_errors=True)

    # -- streaming ingest at two volumes (30 MB vs 120 MB = 4x) --------
    from job_search_engine_using_pyspark_solar_and_angular_spark.plans.preprocess import (
        preprocess,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.synthetic import (
        scaled_tweet_corpus,
        tweets_from_documents,
    )

    schema = tweets_from_documents(
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
            "doc_id", "text"
        )
    ).schema
    for target_mb in (30, 120):
        cdir = os.path.join(REPO, ".bench", f"audit_tweets_{target_mb}mb")
        path, size_mb = scaled_tweet_corpus(
            spark, "/root/testdata/sf0.1", cdir, target_mb=target_mb
        )
        ck = os.path.join(REPO, ".bench", f"audit_stream_ck_{target_mb}")
        shutil.rmtree(ck, ignore_errors=True)

        def replay() -> None:
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 8)
                .json(path)
            )
            q = (
                raw.writeStream.foreachBatch(
                    lambda b, _i: bench.force(preprocess(b))
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        row = _delta(app_id, replay)
        row["input_corpus_mb"] = size_mb
        out.setdefault("streaming_ingest", {})[f"{target_mb}mb"] = row
        shutil.rmtree(ck, ignore_errors=True)

    # scaling verdicts: serving rows at 10x corpus, streaming at 4x volume
    verdicts = {}
    for name, rows in out.items():
        tags = list(rows)
        a, b = rows[tags[0]], rows[tags[-1]]
        data_ratio = 4.0 if name == "streaming_ingest" else 10.0
        w_ratio = (
            round(b["shuffleWriteBytes"] / a["shuffleWriteBytes"], 2)
            if a["shuffleWriteBytes"] > 0.01
            else None
        )
        verdicts[name] = {
            "shuffle_write_ratio": w_ratio,
            "data_ratio": data_ratio,
            "superlinear": bool(w_ratio and w_ratio > 1.25 * data_ratio),
        }
    doc = {"queries": out, "verdicts": verdicts}
    os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
    with open(os.path.join(REPO, ".bench", "shuffle_audit_served.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(doc))


def main() -> None:
    from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark

    if "--served" in sys.argv:
        served_main()
        return
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark(
        app_name="jse-shuffle-audit",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    queries = entry.queries()
    app_id = _rest("applications")[0]["id"]

    out: dict[str, dict[str, dict[str, float]]] = {}
    for sf_dir in SFS:
        sf_tag = os.path.basename(sf_dir.rstrip("/"))
        for name in names:
            base = _stable_snapshot(app_id)
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            after = _stable_snapshot(app_id)
            row = {m: (after[m] - base[m]) / 1e6 for m in METRICS}
            row["sec"] = round(dt, 3)
            out.setdefault(name, {})[sf_tag] = {k: round(v, 2) for k, v in row.items()}
            print(
                f"{name:28s} {sf_tag}: write={row['shuffleWriteBytes']:10.1f}MB "
                f"read={row['shuffleReadBytes']:10.1f}MB "
                f"spill={row['diskBytesSpilled']:8.1f}MB "
                f"input={row['inputBytes']:10.1f}MB  {dt:6.2f}s"
            )

    # scaling verdicts: sf0.1 vs sf0.01 is 10x the data
    verdicts = {}
    for name, rows in out.items():
        a, b = rows.get("sf0.01"), rows.get("sf0.1")
        if not (a and b):
            continue
        ratio = (
            b["shuffleWriteBytes"] / a["shuffleWriteBytes"]
            if a["shuffleWriteBytes"] > 0.1
            else None
        )
        input_ratio = round(b["inputBytes"] / max(a["inputBytes"], 0.1), 2)
        # superlinear = shuffle grows meaningfully faster than the input
        # did (1.25x headroom for fixed overheads), never slower than a
        # hard 12x floor at 10x data — the r7 Q21 regression was a 13.2x
        # write ratio, which the old fixed >15 threshold let pass.
        threshold = max(1.25 * input_ratio, 12.0)
        verdicts[name] = {
            "shuffle_write_ratio_10x": round(ratio, 2) if ratio else None,
            "input_ratio_10x": input_ratio,
            "superlinear_threshold": round(threshold, 2),
            "superlinear": bool(ratio and ratio > threshold),
        }
    doc = {"queries": out, "verdicts_10x": verdicts}
    os.makedirs(os.path.join(REPO, ".bench"), exist_ok=True)
    with open(os.path.join(REPO, ".bench", "shuffle_audit.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps(verdicts))


if __name__ == "__main__":
    main()
