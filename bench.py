"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "served_refresh_sec": <per-micro-batch serve-loop cost>,
   "streaming_ingest": {"input_mb": ..., "sec": ..., "mb_per_sec": ...,
                        "n_batches": ...},  # Structured Streaming ingest loop
   "preprocess_scaled": {"input_mb": ..., "sec": ..., "mb_per_sec": ...,
                         "baseline_mb_per_sec": 1.11, "speedup_vs_baseline": ...},
   "preprocess_scaled_1gb": {same shape, ~1 GB input},
   "preprocess_skewed": {same shape + "ratio_vs_uniform", one org_id = ~10% of rows},
   "preprocess_scaled_10gb": {same shape, ~10 GB input, min-of-2 with
                              per-sink stage walls},
   "served_trials": {name: [sec, ...], ...},  # raw trials, headline + served
   "layers": {name: {"build_s", "build_jobs", "jobs", "stages", "tasks",
                     "shuffle_mb", "spill_mb", "compiles", "rows"}, ...},  # cost ledger
   "jobs": ..., "stages": ..., "shuffle_mb": ...,  # ledger totals
   "regressions": {name: {"prev": sec, "cur": sec, "ratio": ...,
                          "counters_moved": ...}, ...}}

``layers`` is the cost ledger: every timed entry builds its DataFrame under
``profiling.profiled("<name>:build")`` and runs it under ``"<name>:exec"``,
and its row holds the last trial's counters. ``build_s`` and ``build_jobs``
are the build phase (eager actions while the DataFrame is assembled);
``jobs``, ``stages``, ``tasks``, ``shuffle_mb`` (read + write) and
``spill_mb`` cover build and execution together; ``compiles`` counts the
generated classes Janino compiled in the process during both phases;
``rows`` is the output row count of entries forced with the noop sink. Job
and stage counts are deterministic for a fixed plan and fixed data, so they
are what the regression guard trusts; ``compiles`` is not, because it
depends on what the codegen cache kept from the entries that ran before.

``regressions`` compares to the prior run at the same core count and scale:
``.bench/last_full.c{cores}.json`` (``last_full.sf{sf}.c{cores}.json`` off
sf0.1) first, else the newest ``BENCH_r{N}.json`` driver artifact with the
same ``cpus`` and ``sf`` whose contract line parsed (see
regressions_vs_previous). ``_baseline`` names the source and ``_compared``
counts the common entries, so "no flags" is distinguishable from "nothing
compared". Nothing is absorbed: a changed job or stage count flags
(``counters_moved``), and a >1.5x wall ratio flags too, marked
``wall_only`` when the counters held.

``python bench.py --ladder 1,10`` runs the replication ladder instead:
HEADLINE and the served entries that take an sf_dir, at each rung's ×N
layout written by ``sources/replicate.py``, one row per entry and rung plus
a scaling exponent per entry (see ladder). It prints one JSON line and
writes ``.bench/ladder.c{cores}.json``.

Methodology:
- each query is forced with ``df.write.format("noop")`` — full column
  materialization on every plan (a bare count() lets Spark skip decoding
  projected columns on some plans, flattering the numbers).
- each query reports the MIN of 2 back-to-back trials (3 when the two
  disagree by >1.3x — one noisy-neighbor spike then gets a retry at a
  quiet window): trial 1 pays whole-stage-codegen compilation for the
  classes the session has not compiled before (a fixed driver-side cost,
  irrelevant at cluster scale; the session's codegen cache keeps the rest,
  see ``session.CODEGEN_CACHE_ENTRIES``); the min is the reproducible plan
  cost.
- COLD-TRIAL ACCOUNTING (r12, VERDICT r11 #1/#3): every trial starts with
  the query's cache generation (``cache.generation``) released, so each trial
  rebuilds its persists and the recorded min is the honest cold cost — a
  measurement fix, not an optimization: pre-r12 a scoped-persist query's
  trial 2 read trial 1's cache blocks and min-of-N recorded a warm cache
  read (ext_minhash_candidates' 0.59 s vs its ~1.0 s true cost). Entries
  affected are listed in the artifact's ``scoped_cache_queries``; their
  r12 numbers are NOT comparable to earlier rounds' warm minima.
- ``preprocess_scaled`` measures the END-TO-END reference batch job at the
  reference's own measured volume (BASELINE.md Fig. 10: ~90 s / 100 MB of
  raw tweet JSON => ~1.1 MB/s): read a >=100 MB JSON corpus from disk,
  flatten/split/dedup/filter (plans/preprocess.py), write BOTH sinks
  (typed parquet + stringified CSV) like the reference does. Corpus is
  synthesized once (sources/synthetic.scaled_tweet_corpus) and cached under
  .bench/; JSON Lines (splittable) rather than the reference's multiLine
  arrays (one task per file) — the format choice itself is part of the
  engine's 100 TB design.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Observation
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark
from job_search_engine_using_pyspark_solar_and_angular_spark.queries import (
    extensions as _ext,  # noqa: F401  (registers extension queries)
)
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import QUERIES

HEADLINE = [
    "q03_anti_join",
    "ext_tpch_q3",
    "q08_latest_wins",
    "q11_agg_tpch_q1",
    "q12_broadcast_join",
    "q17_wordcount_topk",
    "q20_bm25_search",
    "q23_tumbling_window",
    "x1_dedup_stats",
    "x2_cosine_topk",
    "ext_cosine_rerank_np",
    "ext_minhash_candidates",
    "ext_simhash",
    "ext_multimodal_features",
    # corpus-to-trainer stage: broadcast-membership decontamination,
    # LSH-pairs -> connected-components clustering (iterative),
    # concatenate-and-chunk sequence packing, inter-doc line dedup,
    # unigram-LM surprisal, RAG chunking
    "ext_decontaminate",
    "ext_dedup_clusters",
    "ext_pack_sequences",
    "ext_dedup_lines",
    "ext_unigram_logprob",
    "ext_chunk_documents",
    # sketch + quantized-vector tiers and the hopping-window/skew ops
    "ext_heavy_hitters",
    "ext_ann_quantized",
    "ext_sliding_window",
    "ext_salted_join",
    # 5-way star join, time-range frames, exact integer 3-sigma outliers
    "ext_tpch_q5",
    "ext_moving_avg",
    "ext_outliers",
    # iterative link analysis + embedding whitening
    "ext_pagerank",
    "ext_zscore_embeddings",
    # the composed curation funnel (lang/quality/repetition/LSH-dup/
    # decontamination -> one verdict per doc) — the flagship composition
    "ext_curation_verdict",
    # the reference's whole batch job (BASELINE.md Figure 10 workload shape):
    # nested flatten + 3-way split + latest-wins dedup + vocab regex filter
    "ext_preprocess_pipeline",
    # round-2 late additions: canonical TPC-H scan-aggregates, the packed
    # Bloom join filter, MLT doc-to-doc retrieval, hybrid RRF fusion, and
    # the triangle census over the LSH similarity graph
    "ext_tpch_q1",
    "ext_tpch_q6",
    "ext_bloom_prune",
    "ext_more_like_this",
    "ext_hybrid_rrf",
    "ext_triangles",
    # session-3 additions: the completed TPC-H dossier's heaviest members
    # (grouped-fact HAVING, two-quantifier decorrelation, outer-join
    # distribution), BPE vocabulary induction, exact-substring repeated
    # spans, and BFS over the similarity graph
    "ext_tpch_q18",
    "ext_tpch_q21",
    "ext_tpch_q13",
    "ext_bpe_merges",
    "ext_repeated_spans",
    "ext_bfs_distances",
    # session-4 additions: BPE encode (vocab-grain apply + one corpus
    # join), the scan-speed text audits, and the doubled-cents MAD panel
    "ext_bpe_encode",
    "ext_readability",
    "ext_encoding_audit",
    "ext_mad_outliers",
    # late session-4: delete-key fuzzy self-join over the vocabulary and
    # the decorrelated LATERAL top-3-per-user
    "ext_typo_pairs",
    "ext_sql_lateral",
    # round-3 additions: the integer-exact ANN bucket tier, the
    # cluster-quota diversity-sampling selection step, the trainer-handoff
    # shard manifest, and the one-row corpus dataset card
    "ext_ann_lsh_quantized",
    "ext_ann_pq",
    "ext_diversity_sample",
    "ext_shard_manifest",
    "ext_dataset_card",
    # batch exact ANN serving via two-phase partial top-k
    "ext_batch_cosine_topk",
    # round-5 additions: temperature-scaled mixing (apply), the
    # packing-efficiency audit, and the PQ->full-precision rerank funnel
    # (the production composition DEPLOY.md recommends)
    "ext_mix_temperature",
    "ext_packing_stats",
    "ext_ann_pq_rerank",
    # round-6 addition: TPC-H Q9 over the derived partsupp — the dossier's
    # heaviest join tree (6 tables, composite two-column shuffle key)
    "ext_tpch_q9",
]

# BASELINE.md Fig. 10: reference preprocess ≈ 90 s per 100 MB raw JSON.
BASELINE_MB_PER_SEC = 100.0 / 90.0

REPO = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.join(REPO, ".bench")


def force(df) -> int:
    """Materialize every column of every row (noop sink — no driver transfer,
    no output files, no column-decode shortcuts) and return the row count,
    an observed metric of the same pass (no extra job)."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["n"]


# raw per-trial timings of every timed entry, recorded in the artifact so
# a wall-time flag shows its own trial spread
SERVED_TRIALS: dict[str, list[float]] = {}

# the cost ledger: one row per timed entry (see the module docstring)
LAYERS: dict[str, dict] = {}


def layer_row(build, run) -> dict:
    """One ``layers`` row from a trial's build and exec ledgers."""
    return {
        "build_s": build.wall_s,
        "build_jobs": build.jobs,
        "jobs": build.jobs + run.jobs,
        "stages": build.stages + run.stages,
        "tasks": build.tasks + run.tasks,
        "shuffle_mb": round(build.shuffle_mb + run.shuffle_mb, 3),
        "spill_mb": round(build.spill_mb + run.spill_mb, 3),
        "compiles": build.compiles + run.compiles,
    }


def timed_min(
    name: str,
    build,
    run=force,
    trials: int = 2,
    max_trials: int = 3,
    spread: float = 1.3,
    pre=None,
) -> float:
    """Min-of-N timed trials of ``run(build())`` (the bench's standard
    policy — the per-query loop in main() routes through this too); raw
    trials recorded in SERVED_TRIALS for the artifact. When the first
    ``trials`` runs disagree by more than ``spread`` (max/min), escalate one
    extra trial up to ``max_trials`` — a noisy-neighbor spike on a single
    trial then gets a third chance at a quiet window instead of inflating
    the recorded min (best-of-N INSIDE one run, so a noisy host doesn't cost
    the whole run).

    Each trial builds under ``profiled("<name>:build")`` and runs under
    ``profiled("<name>:exec")``; its wall time is the two blocks' sum (the
    status-store reads between them are not timed) and the last trial's
    counters become ``LAYERS[name]``. The last trial, not the fastest,
    because a first trial may pay one-off jobs (parquet schema inference)
    and the ledger must repeat run to run.

    ``pre``: run OUTSIDE the timed region before every trial. The headline
    loop passes the scoped-cache release (cold-trial accounting): a query
    whose cache generation holds persists rebuilds them in every trial, so
    min-of-N records the reproducible COLD cost rather than a cache read."""

    def one() -> float:
        if pre is not None:
            pre()
        with profiled(f"{name}:build") as b:
            out = build()
        with profiled(f"{name}:exec") as e:
            n = run(out)
        LAYERS[name] = layer_row(b, e)
        if isinstance(n, int):  # run=force counts the output rows
            LAYERS[name]["rows"] = n
        return round(b.wall_s + e.wall_s, 3)

    ts = [one() for _ in range(trials)]
    while (
        len(ts) < max_trials
        and min(ts) > 0
        and max(ts) / min(ts) > spread
    ):
        ts.append(one())
    SERVED_TRIALS[name] = ts
    return min(ts)


def bench_bm25_served(spark, sf_dir: str) -> float:
    """q20's served deployment shape: BM25 against the token-sorted on-disk
    index (write_index), where the per-request cost is posting-list reads —
    the in-session index build that dominates headline q20 is paid once at
    index time. The index directories are cached under .bench/ per sf and
    reused by later runs (read by path, no catalog)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
        bm25_search,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_index,
        read_index,
        write_index,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(BENCH_DIR, f"index_{sf_tag}")
    # corpus_stats is written last, so its marker means all four are there
    if not os.path.exists(os.path.join(base, "corpus_stats", "_SUCCESS")):
        built = build_index(load_table(spark, sf_dir, "documents"), cache=True)
        write_index(built, base)
    idx = read_index(spark, base)
    force(bm25_search(spark, idx, ["spark", "join"], 10))  # warm scan
    return timed_min(
        "q20_bm25_served", lambda: bm25_search(spark, idx, ["spark", "join"], 10)
    )


def bench_http_served(spark, sf_dir: str) -> float:
    """End-to-end HTTP request latency for the reference's /api/search/query
    route (search/http_server.py): socket in → BM25 against the on-disk
    token-sorted index → the page's doc and user rows fetched → envelope JSON
    out. Reuses bench_bm25_served's cached index, so the delta over
    q20_bm25_served is the k-row doc/user fetch + marshaling + HTTP — the
    full serving stack the Angular client sees.

    Its ``layers`` row counts the client thread only: the request runs on
    the server's handler thread, outside the entry's job group, until
    requests run under job groups of their own."""
    import json as _json
    import urllib.request

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
        SearchService,
        serve,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        read_index,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(BENCH_DIR, f"index_{sf_tag}")
    idx = read_index(spark, base)  # built by bench_bm25_served
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "owner", (F.col("doc_id") % 100) + 1
    )
    users = load_table(spark, sf_dir, "customer")
    svc = SearchService(
        spark, idx, docs, users=users, doc_user_key=("owner", "c_custkey")
    )
    with serve(svc) as handle:
        url = handle.url + "/api/search/query?query=spark%20join"

        def one(_=None) -> None:
            with urllib.request.urlopen(url, timeout=300) as resp:
                body = _json.loads(resp.read())
            assert body["status_code"] == 200 and body["count"] > 0

        one()  # warm (index relation resolution + codegen)
        return timed_min("http_query_served", lambda: None, one)


def bench_ann_served_vec(spark, sf_dir: str) -> float:
    """The served ANN deployment shape beside q20_bm25_served: the one
    int8-LSH read path (``similarity.ann_lsh_served_vec``) — the query
    arrives as a vector, probe selection is driver-side integer
    arithmetic, pruning is STATIC partition elimination against a
    pre-resolved index relation, as a serving loop runs it. Index cached
    under .bench/ per sf; the cache key carries the build parameters, so a
    default change in write_vector_index_int8 must miss the cache, never
    silently bench a stale index built by older code."""
    import inspect

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        ann_lsh_served_vec,
        write_vector_index_int8,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    sig = inspect.signature(write_vector_index_int8)
    planes = sig.parameters["num_planes"].default
    dim = sig.parameters["dim"].default
    path = os.path.join(BENCH_DIR, f"vecidx_{sf_tag}_p{planes}_d{dim}")
    emb = load_table(spark, sf_dir, "embeddings")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_vector_index_int8(emb.filter(F.col("vec_id") != 0), path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx_df = spark.read.parquet(path)

    def query():
        return ann_lsh_served_vec(spark, idx_df, qv, k=5, num_planes=planes)

    force(query())  # resolve + list the relation once
    return timed_min("ann_lsh_served_vec", query)


def bench_ann_served_1m(spark) -> float:
    """Steady-state served-ANN latency at 1M vectors (sf0.1 embeddings
    replicated ×500 by ``sources.replicate``, corpus-auto-sized planes ->
    1024 bucket partitions): static-probe multiprobe query against a
    PRE-RESOLVED index relation — the serving deployment shape (resolve once
    per index generation, serve many queries; a fresh read pays ~1.2-3.3 s
    of partition discovery instead). Index build (~250 s) is one-time and
    cached under .bench/ keyed on (reps, planes)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        similarity,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources import (
        replicate,
    )

    sf_dir, reps = "/root/testdata/sf0.1", 500
    base = load_table(spark, sf_dir, "embeddings")
    n = base.count() * reps
    planes = similarity.planes_for_corpus(n, target_bucket=1024)
    path = os.path.join(BENCH_DIR, f"vecidx_x{reps}_p{planes}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        offsets = replicate.key_offsets(spark, sf_dir, reps)
        corpus = replicate.replicated_table(spark, sf_dir, "embeddings", reps, offsets)
        similarity.write_vector_index_int8(
            corpus.filter(F.col("vec_id") != 0), path, num_planes=planes
        )
    qv = [float(x) for x in base.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx_df = spark.read.parquet(path)

    def query():
        return similarity.ann_lsh_served_vec(
            spark, idx_df, qv, k=5, num_planes=planes, multiprobe=True
        )

    force(query())  # resolve + list the relation once (the per-generation cost)
    return timed_min("ann_lsh_served_1m", query)


def bench_preprocess_scaled(
    spark, target_mb: int = 120, tag: str = "", hot_pct: int = 0, runs: int = 2
) -> dict:
    from job_search_engine_using_pyspark_solar_and_angular_spark.plans.preprocess import (
        preprocess,
        write_outputs,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.synthetic import (
        scaled_tweet_corpus,
        tweets_from_documents,
    )

    corpus_dir = os.path.join(BENCH_DIR, f"tweets_json{tag}")
    path, size_mb = scaled_tweet_corpus(
        spark, "/root/testdata/sf0.1", corpus_dir, target_mb=target_mb, hot_pct=hot_pct
    )
    # explicit schema: taken from the generator's plan, not inferred per-file
    # (the reference re-infers per file — one of its measured costs; a fixed
    # ingest schema is the engine's contract, SURVEY.md §1.2)
    schema = tweets_from_documents(
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
            "doc_id", "text"
        )
    ).schema

    out_parquet = os.path.join(BENCH_DIR, f"out_parquet{tag}")
    out_csv = os.path.join(BENCH_DIR, f"out_csv{tag}")
    # raw trials + per-sink stage walls recorded per run (VERDICT r10 #2:
    # the 10 GB entry was one opaque sample with no trials/recheck
    # protection — the 116.9->95.6->76.5 MB/s committed-artifact trend was
    # unattributable); stages make compute vs output-IO visible per trial
    sec = float("inf")
    trials: list[float] = []
    stage_trials: list[dict] = []
    best_stages: dict = {}
    for _ in range(runs):  # min-of-runs, same policy as the per-query timings
        stages: dict = {}
        t0 = time.perf_counter()
        raw = spark.read.schema(schema).json(path)
        result = preprocess(raw)
        write_outputs(result, out_parquet, out_csv, stage_times=stages)
        trial = round(time.perf_counter() - t0, 3)
        trials.append(trial)
        stage_trials.append(stages)
        if trial < sec:
            sec, best_stages = trial, stages
        shutil.rmtree(out_parquet, ignore_errors=True)
        shutil.rmtree(out_csv, ignore_errors=True)
    mb_per_sec = round(size_mb / sec, 2)
    return {
        "input_mb": size_mb,
        "sec": sec,
        "mb_per_sec": mb_per_sec,
        "trials": trials,
        "stages": best_stages,
        "stage_trials": stage_trials,
        "baseline_mb_per_sec": round(BASELINE_MB_PER_SEC, 2),
        "speedup_vs_baseline": round(mb_per_sec / BASELINE_MB_PER_SEC, 1),
    }


def bench_streaming_ingest(spark) -> dict:
    """Structured-Streaming form of the reference's collector -> preprocess
    loop (S1/§2.11: tweepy listener + per-epoch batch loop,
    ``DataCollector.py:19-64`` + ``Tweets_preprocessing.py:605-621``): the
    same ~124 MB JSONL corpus consumed as a file-source STREAM in
    maxFilesPerTrigger micro-batches, each batch run through the full
    preprocess plan (flatten -> dedup -> filter) in foreachBatch and fully
    materialized (noop write, same policy as the per-query timings).
    Reports end-to-end MB/s across all micro-batches — the figure that
    shows what the continuously-running ingest loop sustains, checkpoint
    and trigger overhead included (one timed pass; the corpus and schema
    are the cached ones the batch probe uses).

    maxFilesPerTrigger=8 (~32 MB/batch, 4 micro-batches): the r5 profile
    measured per-batch cost ~0.95 s nearly FLAT from 16 MB to 63 MB
    batches — fixed per-job cost (task launch, stage scheduling, reader
    setup) dominates at this volume while trigger/commit overhead is only
    ~0.1 s/batch — so halving the batch count at mFPT=4 was paying double
    the fixed cost for no freshness a 124 MB corpus needs (measured 14.4
    vs 26-28 MB/s warm). At production volume the same rule applies as a
    rate: size the trigger so per-batch data work dominates the ~1 s fixed
    job cost."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.plans.preprocess import (
        preprocess,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.synthetic import (
        scaled_tweet_corpus,
        tweets_from_documents,
    )

    corpus_dir = os.path.join(BENCH_DIR, "tweets_json")
    path, size_mb = scaled_tweet_corpus(
        spark, "/root/testdata/sf0.1", corpus_dir, target_mb=120
    )
    schema = tweets_from_documents(
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
            "doc_id", "text"
        )
    ).schema
    # min-of-2 full stream replays (fresh checkpoint each), same policy as
    # every other entry: the r4 driver artifact showed this entry at 1/3 of
    # its idle throughput purely from machine load on a single-shot run
    sec, n_batches = float("inf"), 0
    for trial in (1, 2):
        ck = os.path.join(BENCH_DIR, f"stream_ingest_ck{trial}")
        shutil.rmtree(ck, ignore_errors=True)
        batches = []

        def _sink(batch, batch_id):
            force(preprocess(batch))
            batches.append(batch_id)

        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 8)
            .json(path)
        )
        t0 = time.perf_counter()
        q = (
            raw.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        trial_sec = round(time.perf_counter() - t0, 3)
        SERVED_TRIALS.setdefault("streaming_ingest", []).append(trial_sec)
        shutil.rmtree(ck, ignore_errors=True)
        if trial_sec < sec:
            sec, n_batches = trial_sec, len(batches)
    return {
        "input_mb": size_mb,
        "sec": sec,
        "mb_per_sec": round(size_mb / sec, 2),
        "n_batches": n_batches,
        "baseline_mb_per_sec": round(BASELINE_MB_PER_SEC, 2),
        "speedup_vs_baseline": round(size_mb / sec / BASELINE_MB_PER_SEC, 1),
    }


def bench_served_refresh(spark, sf_dir: str) -> float:
    """Per-micro-batch cost of the FULL serve loop (search/serve_loop.py:
    dedup gate vs corpus LSH buckets -> fresh postings segment -> stats +
    tombstones -> vector segment -> manifest publish) against corpus-sized
    serving state. Bootstrap (segment 1 = the whole documents table) is
    excluded — the reported figure is min-of-2 over successive ~200-doc
    delta batches (half genuinely new, half near-dup arrivals the gate
    suppresses), i.e. what a production re-index pays per batch."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.search import (
        serve_loop,
    )

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    base = os.path.join(BENCH_DIR, f"serving_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)  # fresh serving state per run
    prefix = f"jse_serve_{sf_tag.replace('.', '_')}"

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    corpus = docs.join(emb, "doc_id", "left")
    serve_loop.serve_batch(spark, corpus, base, prefix, vec_col="embedding")

    batch_no = iter((1, 2))

    def delta():
        i = next(batch_no)
        fresh = corpus.filter(F.col("doc_id") % 50 == i).select(
            (F.col("doc_id") + 1_000_000 * i).alias("doc_id"),
            F.format_string(
                "fresh arrival %d engine refresh batch %d unique body %d",
                F.col("doc_id"), F.lit(i), F.col("doc_id") + F.lit(7 * i),
            ).alias("text"),
            "embedding",
        )
        dups = corpus.filter(F.col("doc_id") % 50 == 10 + i).select(
            (F.col("doc_id") + 2_000_000 * i).alias("doc_id"), "text", "embedding"
        )
        return fresh.unionByName(dups)

    # exactly two batches: each batch adds a segment and so reads more
    # state, and the ledger row (the last trial's) repeats run to run only
    # when the trial count does
    return timed_min(
        "served_refresh",
        delta,
        lambda batch: serve_loop.serve_batch(
            spark, batch, base, prefix, vec_col="embedding"
        ),
        max_trials=2,
    )


def exchange_count(df) -> int:
    """Exchange operators in ``df``'s executed plan."""
    p = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        line.strip().lstrip("+-: ").startswith("Exchange") for line in p.splitlines()
    )


def bench_bucketed_layout(spark, sf_dir: str) -> dict:
    """The prescribed fact layout (DEPLOY.md), measured in the driver-visible
    artifact (VERDICT r8 #2): lineitem bucket-sorted on l_orderkey and orders
    on o_orderkey (same bucket count) run BOTH heavy orderkey workloads — the
    registry's own Q18 (grouped-fact HAVING agg + join) and Q21 (fact⋈fact
    ladder) bodies — off the layout. The bucketed pair is written once per
    sf and cached under .bench/ (the one-time layout cost is recorded when
    paid); each query's result is asserted identical to the parquet-table
    plan and the bucketed Exchange counts are asserted at the shuffle-free
    caps the CI plan pin uses (Q18 ≤1, Q21 ≤2: the result-sized tails)
    before timing."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.extensions import (
        tpch_q18,
        tpch_q21,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.replicate import (
        BUCKETS,
        ensure_bucketed_pair,
    )

    tag = os.path.basename(sf_dir.rstrip("/"))
    bdir = os.path.join(BENCH_DIR, f"bucketed_bench_{tag}")
    safe = tag.replace(".", "_")
    li_name, o_name = f"jse_li_bench_{safe}", f"jse_o_bench_{safe}"
    bucket_write_sec = ensure_bucketed_pair(
        spark,
        lambda: load_table(spark, sf_dir, "lineitem"),
        lambda: load_table(spark, sf_dir, "orders"),
        bdir, li_name, o_name,
    )

    li, o = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    c, s = load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "supplier")
    lib, ob = spark.table(li_name), spark.table(o_name)

    out: dict = {"buckets": BUCKETS, "bucket_write_sec": bucket_write_sec}
    cases = {
        "ext_tpch_q18": (lambda: tpch_q18(li, o, c), lambda: tpch_q18(lib, ob, c), 1),
        "ext_tpch_q21": (lambda: tpch_q21(li, o, s), lambda: tpch_q21(lib, ob, s), 2),
    }
    for qname, (mk_unb, mk_b, cap) in cases.items():
        unb, b = mk_unb(), mk_b()
        assert sorted(unb.collect()) == sorted(b.collect()), (
            f"{qname}: bucketed result differs"
        )
        xb = exchange_count(b)
        assert xb <= cap, f"{qname}: bucketed plan has {xb} Exchanges (cap {cap})"
        out[qname] = {
            "unbucketed_sec": timed_min(f"{qname}_unbucketed", mk_unb),
            "bucketed_sec": timed_min(f"{qname}_bucketed", mk_b),
            "unbucketed_exchanges": exchange_count(unb),
            "bucketed_exchanges": xb,
        }
        out[qname]["speedup"] = round(
            out[qname]["unbucketed_sec"] / max(out[qname]["bucketed_sec"], 1e-9), 2
        )
    return out


def _baseline(repo_dir: str, bench_dir: str, sf, cores: int) -> tuple[dict, str]:
    """The prior run the guard compares to, and its label: this host's last
    full run at the same core count and scale, else the newest driver
    artifact measured at the same ``cpus`` and ``sf`` whose contract line
    parsed. A round number alone does not pick an artifact: BENCH_r12.json
    (32 cores) and BENCH_r12_c8.json (8 cores) share one."""
    import glob
    import re

    own = os.path.join(bench_dir, _last_full_name(sf, cores))
    if os.path.isfile(own):
        with open(own, encoding="utf-8") as fh:
            return json.load(fh), os.path.basename(own)
    best: tuple[int, dict, str] | None = None
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        parsed = doc.get("parsed") or {}
        n = int(re.search(r"BENCH_r(\d+)", path).group(1))
        if doc.get("cpus") == cores and doc.get("sf") == sf and parsed.get("queries"):
            if best is None or n > best[0]:
                best = (n, parsed, os.path.basename(path))
    return (best[1], best[2]) if best else ({}, "none")


def _last_full_name(sf, cores: int) -> str:
    return f"last_full.c{cores}.json" if sf == 0.1 else f"last_full.sf{sf}.c{cores}.json"


def regressions_vs_previous(
    timings: dict[str, float],
    layers: dict[str, dict],
    sf,
    cores: int,
    repo_dir: str = REPO,
    bench_dir: str = BENCH_DIR,
) -> dict:
    """Compare this run to the prior one (see _baseline) and flag, per entry:

    - ``counters_moved``: its jobs or stages differ from a baseline that has
      a ledger row for it — a plan change, whatever the wall clock says;
    - a >1.5x wall ``ratio``; the flag records whether the counters moved,
      and ``wall_only`` marks one whose counters held (host noise, or a cost
      the counters do not see). ``counters_moved`` is None when the
      baseline has no ledger row to compare.

    Nothing is absorbed or re-measured: the artifact carries every flag with
    the counters that explain it."""
    prev, source = _baseline(repo_dir, bench_dir, sf, cores)
    prev_t, prev_l = prev.get("queries") or {}, prev.get("layers") or {}
    out: dict = {"_baseline": source, "_compared": 0}
    for name in sorted(set(timings) | set(layers)):
        moved = None
        if name in prev_l and name in layers:
            moved = {
                k: [prev_l[name][k], layers[name][k]]
                for k in ("jobs", "stages")
                if prev_l[name][k] != layers[name][k]
            }
        p, cur = prev_t.get(name), timings.get(name)
        ratio = cur / p if p and cur is not None else None
        out["_compared"] += ratio is not None
        if not moved and not (ratio and ratio > 1.5):
            continue
        rec: dict = {"counters_moved": moved}
        if ratio is not None:
            rec.update(prev=p, cur=cur, ratio=round(ratio, 2))
            rec["wall_only"] = moved == {}
        out[name] = rec
    return out


def warm(spark) -> None:
    """Warm the JVM/codegen paths AND the Python worker pool once so
    per-query numbers measure the plan, not first-call JIT / worker-spawn
    (standard benchmark practice; warmup at tiny sf)."""
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        force(QUERIES["q11_agg_tpch_q1"](spark, warm_dir))
        force(QUERIES["q20_bm25_search"](spark, warm_dir))
        QUERIES["ext_multimodal_features"](spark, warm_dir).count()


# the served entries that take an sf_dir, so run at every ladder rung
LADDER_SERVED = {
    f.__name__: f
    for f in (
        bench_bm25_served,
        bench_http_served,
        bench_ann_served_vec,
        bench_bucketed_layout,
        bench_served_refresh,
    )
}
LADDER_COUNTERS = ("jobs", "stages", "shuffle_mb", "spill_mb")


def _exponent(v1, vn, n: float):
    """log(vN/v1)/log(N): 1 is linear in the data, 0 flat."""
    if not v1 or not vn:
        return None
    return round(math.log(vn / v1) / math.log(n), 2)


def ladder(spark, sf_dir: str, rungs: list[int], names: list[str] | None = None) -> dict:
    """The replication ladder: ``names`` (default HEADLINE and LADDER_SERVED)
    at each rung's ×N layout (``sources.replicate``). Every timed entry gets
    one row per rung — ``wall_s`` (min of trials), the ledger's ``jobs``,
    ``stages``, ``shuffle_mb``, ``spill_mb``, and the output ``rows`` of its
    last trial — and, per rung past the first, the exponent of wall time and
    shuffle against the first rung (rung sizes relative to it). An entry
    that fails gets a row holding its error."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        release_query_caches,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.replicate import (
        replicate,
    )

    def entry(name: str):
        if name in LADDER_SERVED:
            return lambda d: LADDER_SERVED[name](spark, d)
        return lambda d: timed_min(
            name,
            lambda: QUERIES[name](spark, d),
            pre=lambda: release_query_caches(name),
        )

    names = names or [*HEADLINE, *LADDER_SERVED]
    rows: dict[str, dict] = {}
    for n in rungs:
        rung = f"x{n}"
        try:
            rung_dir = replicate(spark, sf_dir, n, BENCH_DIR)
        except Exception as exc:
            traceback.print_exc()
            for name in names:
                rows.setdefault(name, {})[rung] = {"error": f"replicate: {exc!r}"[:300]}
            continue
        for name in names:
            LAYERS.clear()
            SERVED_TRIALS.clear()
            try:
                entry(name)(rung_dir)
            except Exception as exc:
                traceback.print_exc()
                rows.setdefault(name, {})[rung] = {"error": repr(exc)[:300]}
                continue
            for timed, layer in LAYERS.items():
                rows.setdefault(timed, {})[rung] = {
                    "wall_s": min(SERVED_TRIALS[timed]),
                    **{k: layer[k] for k in LADDER_COUNTERS},
                    "rows": layer.get("rows"),
                }
    base = f"x{rungs[0]}"
    exponents = {
        name: {
            f"x{n}": {
                k: _exponent(by_rung[base].get(c), by_rung[f"x{n}"].get(c), n / rungs[0])
                for k, c in (("wall", "wall_s"), ("shuffle", "shuffle_mb"))
            }
            for n in rungs[1:]
            if "wall_s" in by_rung.get(base, {}) and "wall_s" in by_rung.get(f"x{n}", {})
        }
        for name, by_rung in rows.items()
    }
    return {
        "metric": "replication ladder",
        "sf_dir": sf_dir,
        "rungs": rungs,
        "rows": rows,
        "exponents": exponents,
    }


def main(argv: list[str] | None = None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--ladder",
        metavar="N,N,...",
        help="run the replication ladder at these ×N rungs instead of the bench",
    )
    args = ap.parse_args(argv or [])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = get_spark(app_name="jse-bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark)
    if args.ladder:
        rungs = sorted({int(x) for x in args.ladder.split(",")})
        doc = ladder(spark, sf_dir, rungs)
        os.makedirs(BENCH_DIR, exist_ok=True)
        with open(os.path.join(BENCH_DIR, f"ladder.c{cores}.json"), "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1)
        print(json.dumps(doc))
        return

    # min of 2 trials per query (escalating to 3 when the trials disagree
    # by >1.3x — see timed_min): first-trial numbers fold in the codegen
    # compile of classes new to the session and page-cache state; the min
    # is the reproducible figure (standard steady-state practice; every
    # trial runs the full plan). Raw trials land in the artifact's
    # served_trials and each entry's counters in its layers row.
    # cold-trial accounting (VERDICT r11 #1/#3): each trial starts with the
    # query's scoped-cache generation RELEASED, so every trial pays the full
    # cold plan (persist fills included) and the recorded min is the honest
    # per-run cost. Queries that registered a scoped cache are listed in the
    # artifact's ``scoped_cache_queries`` — the warm-capable set whose
    # steady-state rerun cost is lower than the recorded cold number.
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        release_query_caches,
    )

    timings: dict[str, float] = {}
    warm_capable: list[str] = []
    for name in HEADLINE:
        timings[name] = timed_min(
            name,
            lambda n=name: QUERIES[n](spark, sf_dir),
            pre=lambda n=name: release_query_caches(n),
        )
        if release_query_caches(name):
            warm_capable.append(name)

    timings["q20_bm25_served"] = bench_bm25_served(spark, sf_dir)
    timings["http_query_served"] = bench_http_served(spark, sf_dir)
    timings["ann_lsh_served_vec"] = bench_ann_served_vec(spark, sf_dir)
    if sf_dir.rstrip("/").endswith("sf0.1"):
        # the 1M-vector replication probe only makes sense at the full
        # bench scale (its index replicates the sf0.1 corpus)
        timings["ann_lsh_served_1m"] = bench_ann_served_1m(spark)
    bucketed_layout = bench_bucketed_layout(spark, sf_dir)
    # the layout's query timings join the regression-tracked set under
    # stable names; the full record (exchanges, speedup, write cost) rides
    # in the artifact's bucketed_layout section
    timings["ext_tpch_q18_bucketed"] = bucketed_layout["ext_tpch_q18"]["bucketed_sec"]
    timings["ext_tpch_q21_bucketed"] = bucketed_layout["ext_tpch_q21"]["bucketed_sec"]
    served_refresh = bench_served_refresh(spark, sf_dir)
    streaming_ingest = bench_streaming_ingest(spark)
    scaled = bench_preprocess_scaled(spark)
    # sustained-throughput point: the same end-to-end job at ~1 GB (8x the
    # reference's measured volume) — the figure that shows per-job fixed
    # costs amortized, recorded in the artifact rather than claimed in prose
    scaled_1gb = bench_preprocess_scaled(spark, target_mb=1000, tag="_1gb")
    # skew stress (r3 verdict ask #4): same volume, ONE org_id holding ~10%
    # of all rows — the max_by dedup's map-side combine should keep this
    # within noise of the uniform run (ratio_vs_uniform ~1.0)
    skewed = bench_preprocess_scaled(spark, tag="_skew", hot_pct=10)
    skewed["ratio_vs_uniform"] = round(skewed["sec"] / scaled["sec"], 2)
    # sustained point past page-cache effects: ~10 GB, min-of-2 with
    # per-sink stage walls (VERDICT r10 #2: the single-sample form left the
    # committed 116.9->95.6->76.5 MB/s trend unattributable — trials +
    # stages give this entry the same noise protection every other number
    # has; the second run costs ~1 min now that the CSV sink reads back
    # the parquet instead of recomputing the pipeline)
    scaled_10gb = bench_preprocess_scaled(spark, target_mb=10_000, tag="_10gb", runs=2)

    total = round(sum(timings.values()), 3)
    totals = {
        "jobs": sum(r["jobs"] for r in LAYERS.values()),
        "stages": sum(r["stages"] for r in LAYERS.values()),
        "shuffle_mb": round(sum(r["shuffle_mb"] for r in LAYERS.values()), 3),
    }
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "?"
    doc = {
        "metric": "headline query wall time (sum)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "served_refresh_sec": served_refresh,
        "streaming_ingest": streaming_ingest,
        "preprocess_scaled": scaled,
        "preprocess_scaled_1gb": scaled_1gb,
        "preprocess_skewed": skewed,
        "preprocess_scaled_10gb": scaled_10gb,
        "bucketed_layout": bucketed_layout,
        "served_trials": SERVED_TRIALS,
        "layers": LAYERS,
        **totals,
        # the warm-capable set (VERDICT r11 #3): these queries registered
        # persists in their cache generation, which the cold-trial accounting
        # releases between trials — their recorded numbers are honest COLD
        # costs; a steady-state same-sf rerun (caches warm) is cheaper.
        "scoped_cache_queries": warm_capable,
    }
    doc["regressions"] = regressions_vs_previous(timings, LAYERS, doc["sf"], cores)
    # the complete artifact is the next run's baseline at this core count
    # and scale (driver artifacts keep only the contract line)
    os.makedirs(BENCH_DIR, exist_ok=True)
    full = os.path.join(BENCH_DIR, _last_full_name(doc["sf"], cores))
    with open(full, "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
    # The driver's BENCH artifact keeps only a bounded stdout TAIL (r1-r8:
    # "parsed": null because the single full-doc line overflows it), so emit
    # a COMPACT totals line first (VERDICT r8 #7) and again LAST — whichever
    # end a bounded capture keeps, it contains one complete parseable JSON
    # line with the headline numbers. The full doc stays on its own line and
    # in .bench/last_full*.json.
    flags = {k: v for k, v in doc["regressions"].items() if not k.startswith("_")}
    summary = {
        "metric": doc["metric"],
        "value": total,
        "unit": "sec",
        "sf": doc["sf"],
        "queries_n": len(timings),
        # full per-query min timings ON the contract line (VERDICT r11 #2):
        # the driver's PERF comparison reads the one-line JSON, which until
        # r12 carried only totals + the slowest-8 — per-query
        # round-over-round status and geomean were impossible for two
        # rounds running. Same dict as the full artifact's ``queries``.
        "queries": timings,
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:8]
        ),
        "preprocess_mb_per_sec": scaled["mb_per_sec"],
        "preprocess_10gb_mb_per_sec": scaled_10gb["mb_per_sec"],
        "streaming_mb_per_sec": streaming_ingest["mb_per_sec"],
        **totals,
        "bucketed_speedup": {
            q.replace("ext_tpch_", "") + "_speedup": bucketed_layout[q]["speedup"]
            for q in ("ext_tpch_q18", "ext_tpch_q21")
        },
        "regression_flags": len(flags),
        "counters_moved": sum(bool(f["counters_moved"]) for f in flags.values()),
        "full_artifact": os.path.relpath(full, REPO),
    }
    print(json.dumps(summary))
    print(json.dumps(doc))
    print(json.dumps(summary))


if __name__ == "__main__":
    main(sys.argv[1:])
