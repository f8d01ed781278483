"""Physical-plan regression tests (SURVEY.md §4): the properties that make
the engine scale — pushdown, pruning, join strategy, top-k operator, no
row-at-a-time Python in any hot path — asserted on the optimized plans so a
refactor that silently loses them fails CI, not the 100 TB run.
"""

from __future__ import annotations

import re

import pytest

from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
from job_search_engine_using_pyspark_solar_and_angular_spark.queries import extensions  # noqa: F401
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import QUERIES

from .conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(spark, "q02_filter")
    assert "EqualTo(event_type,purchase)" in p and "GreaterThan(value,100.0)" in p


def test_column_pruning(spark):
    """q01 projects 3 of documents' columns; the scan must not read text."""
    p = plan_of(spark, "q01_scan_project")
    m = re.search(r"ReadSchema: (\S+)", p)
    assert m and "text" not in m.group(1), m.group(1)


def test_dimension_join_broadcasts(spark):
    for q in ("q12_broadcast_join", "q13_point_join", "q24_user_search"):
        p = plan_of(spark, q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, q


def test_anti_semi_joins_are_joins_not_collects(spark):
    for q, kind in (("q03_anti_join", "LeftAnti"), ("q04_semi_join", "LeftSemi")):
        p = plan_of(spark, q)
        assert kind in p, f"{q}: {kind} missing"


def test_topk_uses_take_ordered(spark):
    """O2: top-k must compile to TakeOrderedAndProject (per-partition heaps),
    not a global Sort + Limit."""
    p = plan_of(spark, "q14_topk")
    assert "TakeOrderedAndProject" in p


def test_agg_is_partial_final(spark):
    """A1: two-phase hash aggregation (map-side combine before the shuffle)."""
    p = plan_of(spark, "q11_agg_tpch_q1")
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p


def test_no_python_udfs_in_relational_queries(spark):
    """U1-U3 rewrites hold: no BatchEvalPython (row-at-a-time Python) anywhere;
    only the multimodal operators may use Arrow-batched Python (mapInPandas)."""
    offenders = []
    for name in QUERIES:
        p = plan_of(spark, name)
        if "BatchEvalPython" in p:
            offenders.append(name)
        if "ArrowEvalPython" in p or "MapInPandas" in p:
            # Arrow-batched Python is sanctioned ONLY where built-ins can't
            # express the op: multimodal (image/audio/video) decode, the
            # OCR engine hook, and the numpy rerank tier.
            if (
                not any(
                    m in name
                    for m in ("multimodal", "image", "audio", "video", "ocr")
                )
                and "rerank_np" not in name
            ):
                offenders.append(f"{name} (arrow python outside multimodal)")
    assert not offenders, offenders


def test_whole_stage_codegen_active(spark):
    """Hot relational pipelines stay inside WholeStageCodegen spans (the
    ``*(n)`` markers; visible only on the FINAL adaptive plan, so execute
    first)."""
    for q in ("q11_agg_tpch_q1", "q12_broadcast_join", "q17_wordcount_topk"):
        df = QUERIES[q](spark, SF_DIR)
        df.collect()  # count() would spawn a separate QueryExecution
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p, f"{q}: plan not finalized"
        assert "*(" in p, f"{q}: no codegen spans in final plan"


def test_partition_pruning_on_partitioned_output(spark, tmp_path):
    """Date-partitioned preprocess output: a date-filtered read must prune
    partitions (PartitionFilters), not scan and post-filter."""
    from pyspark.sql import functions as F

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.plans.preprocess import (
        preprocess,
        write_outputs,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.synthetic import (
        tweets_from_documents,
    )

    docs = load_table(spark, SF_DIR, "documents")
    out = preprocess(tweets_from_documents(docs), terms=("spark", "join")).withColumn(
        "samp_date", F.to_date("samp_datetime")
    )
    path = str(tmp_path / "partitioned")
    write_outputs(out, path, partition_by=["samp_date"])

    back = spark.read.parquet(path).filter(F.col("samp_date") == "2022-01-01")
    plan = back._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "samp_date" in m.group(1), plan[:800]


def test_bm25_broadcasts_small_sides(spark):
    """R1: query-term stats and corpus stats broadcast; only per-doc agg
    shuffles."""
    p = plan_of(spark, "q20_bm25_search")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_tpch_q3_plan_shape(spark):
    """ext_tpch_q3: filters pushed into all three scans, both joins broadcast
    (filtered orders + customer dims), top-10 via TakeOrderedAndProject."""
    p = plan_of(spark, "ext_tpch_q3")
    assert "GreaterThan(l_shipdate" in p
    assert "LessThan(o_orderdate" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_tpch_q5_plan_shape(spark):
    """ext_tpch_q5 (VERDICT r9 #5): the 5-way star must collapse dimension-
    side — region/nation/customer/supplier all broadcast against the fact
    stream, filters pushed into the scans, and the only DATA shuffles are
    the fact-edge join (none at test sf: filtered orders broadcasts too)
    plus the final agg/sort. A plan that row-shuffles a dimension or goes
    nested-loop on the same-nation correlation fails here, not at 100 TB."""
    p = plan_of(spark, "ext_tpch_q5")
    assert "EqualTo(r_name,ASIA)" in p  # region filter pushed to scan
    assert "GreaterThanOrEqual(o_orderdate" in p  # orders dates pushed
    assert p.count("BroadcastHashJoin") >= 4  # every dimension edge
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # shuffles: at most the orders⋈lineitem edge (when too big to
    # broadcast) + the partial/final agg boundary; the sort is range
    assert p.count("Exchange hashpartitioning") <= 2
    assert p.count("SortMergeJoin") <= 1  # only ever the fact edge


def test_gap_fill_spine_stays_distributed(spark):
    """ext_gap_fill: the hour spine is generated in-plan (Generate/explode
    over sequence), not via a driver-side calendar crossJoin."""
    p = plan_of(spark, "ext_gap_fill")
    assert "Generate explode(sequence" in p
    assert "CartesianProduct" not in p


def test_ivf_centroids_no_corpus_wide_window(spark):
    """IVF codebook pick must be TakeOrderedAndProject (per-partition heaps),
    with the cent_id row_number window running AFTER the n-row limit — never a
    global row_number over the full corpus (the round-1 scale-killer)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = similarity.ivf_centroids(emb, n_centroids=16)
    p = cents._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    # the Window node must sit above the limit, i.e. the plan string shows
    # Window -> ... -> TakeOrderedAndProject (top-down printing)
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_ann_operators_build_lazily(spark):
    """No mid-plan driver collect: constructing the full IVF/LSH/near-dup
    plans from loaded tables must launch ZERO Spark jobs (the round-1
    ext_ann_ivf fetched the query vector with .first() during construction).
    Tables are pre-loaded so the one legitimate job — parquet schema
    inference in load_table — is outside the measured window."""
    from pyspark.sql import functions as F

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        similarity,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    with profiled("ann construction") as led:
        similarity.ivf_topk_df(emb, q, k=5, nprobe=4, exclude_ids=[0])
        similarity.embedding_near_dups(emb, threshold=0.9)
        similarity.lsh_bucket(emb)
    assert led.jobs == 0, f"ANN construction ran {led.jobs} jobs"


def test_paginate_no_single_partition_window(spark):
    """ext_pagination compiles to native offset/limit (GlobalLimit), not a
    row_number window over one partition."""
    p = plan_of(spark, "ext_pagination")
    assert "Window" not in p


def test_preprocess_flatten_is_single_pass(spark):
    """The three-way branch flatten must NOT scan the input once per branch:
    the whole pipeline reads its source exactly twice (base + re-observation
    union in the synthetic generator), not 3x that. Round-1 shape was three
    filtered scans + union; a regression re-triples the corpus I/O."""
    import re

    p = plan_of(spark, "ext_preprocess_pipeline")
    assert len(re.findall(r"Scan parquet", p)) <= 2, p.count("Scan parquet")


def test_preprocess_dedup_is_partial_agg_not_window(spark):
    """The latest-wins dedup must compile to a two-phase max_by aggregation —
    map-side combine shrinks a celebrity org_id to one row per task BEFORE
    the shuffle — never a row_number window, which funnels the whole hot key
    into one task (AQE skew-splits joins, not windows)."""
    p = plan_of(spark, "ext_preprocess_pipeline")
    assert "partial_max_by" in p, p
    assert "Window" not in p, "dedup regressed to a window"


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join layout: two tables bucketed on the join key join with
    ZERO Exchange nodes (no shuffle on either side) — the bucketing contract
    that makes recurring fact⋈fact joins shuffle-free at scale."""
    from pyspark.sql import functions as F

    from job_search_engine_using_pyspark_solar_and_angular_spark import catalog
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table

    ev = load_table(spark, SF_DIR, "events")
    users = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    try:
        catalog.write_bucketed(
            ev.select("event_id", "user_id", "event_type"),
            "t_events_b", str(tmp_path / "eb"), ["user_id"], buckets=8,
        )
        catalog.write_bucketed(
            users, "t_users_b", str(tmp_path / "ub"), ["user_id"], buckets=8
        )
        # disable broadcast so the join strategy is the bucket-aware SMJ
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_events_b").join(spark.table("t_users_b"), "user_id")
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, p[:1200]
        assert j.count() == ev.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS t_events_b")
        spark.sql("DROP TABLE IF EXISTS t_users_b")


def test_bucketed_layout_runs_q18_q21_ladders_shuffle_free(spark, tmp_path):
    """The r8 probe's claim, pinned: lineitem bucket-sorted on l_orderkey
    + orders on o_orderkey (same bucket count) run BOTH heavy orderkey
    workloads off the layout — Q18's grouped-fact HAVING agg + join, and
    Q21's fact⋈fact join with its whole downstream ladder (pair dedup,
    per-order quantifiers, culprit join-back) — with no orderkey Exchange
    anywhere: the only Exchanges left are the result-sized tails (Q18's
    top-100; Q21's few-row supplier agg). Subset
    HashPartitioning satisfying the composite grouping is what makes the
    ladder reuse the layout; this pins that Catalyst behavior too. The
    plans are the registry's own Q18/Q21 bodies, the ones bench.py times."""
    from bench import exchange_count

    from job_search_engine_using_pyspark_solar_and_angular_spark import catalog
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.extensions import (
        tpch_q18,
        tpch_q21,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer")
    s = load_table(spark, SF_DIR, "supplier")
    try:
        catalog.write_bucketed(
            li.select("l_orderkey", "l_quantity", "l_suppkey", "l_shipdate"),
            "t_li_b", str(tmp_path / "li"), ["l_orderkey"], buckets=8,
        )
        catalog.write_bucketed(
            o.select("o_orderkey", "o_custkey", "o_orderdate",
                     "o_totalprice", "o_orderstatus"),
            "t_o_b", str(tmp_path / "o"), ["o_orderkey"], buckets=8,
        )
        lib, ob = spark.table("t_li_b"), spark.table("t_o_b")
        q18b, q18u = tpch_q18(lib, ob, c), tpch_q18(li, o, c)
        q21b, q21u = tpch_q21(lib, ob, s), tpch_q21(li, o, s)
        for bucketed, cap in ((q18b, 1), (q21b, 2)):
            p = bucketed._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(l_orderkey" not in p, p[:1500]
            assert "hashpartitioning(o_orderkey" not in p, p[:1500]
            assert exchange_count(bucketed) <= cap, p[:1500]
        # results identical to the unbucketed plans
        assert sorted(map(tuple, q18b.collect())) == sorted(
            map(tuple, q18u.collect())
        )
        assert sorted(map(tuple, q21b.collect())) == sorted(
            map(tuple, q21u.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_o_b")


def test_shard_ops_one_exchange_no_global_sort(spark):
    """corpus_shuffle / pack_sequences: exactly ONE shuffle (keyed on shard)
    and no rangepartitioning / single-partition stage — the per-shard window
    sort must never become a global order."""
    for name in ("ext_corpus_shuffle", "ext_pack_sequences"):
        p = plan_of(spark, name)
        assert p.count("Exchange hashpartitioning") == 1, name
        assert "rangepartitioning" not in p, name
        assert "SinglePartition" not in p, name


def test_repetition_zero_shuffles_row_local(spark):
    """repetition_stats: ZERO shuffles — every signal (counts, distinct,
    top-unigram/bigram run folds) is a row-local projection over the staged
    token array; no explode, no aggregate, no join may reappear. (The old
    formulation exploded unigram+bigram streams through two corpus-wide
    exchanges for the same values — pinned equivalent by the unchanged
    DuckDB oracle.)"""
    p = plan_of(spark, "ext_repetition")
    assert "Exchange hashpartitioning" not in p
    assert "Generate" not in p  # no explode
    assert "Aggregate" not in p
    assert "Join" not in p


def test_snapshot_diff_on_bucketed_snapshots_no_shuffle(spark, tmp_path):
    """SCALE.md claim: snapshot_diff between two write_bucketed snapshots
    (same keys, same bucket count) runs its full-outer join with ZERO
    Exchange — delta detection without reshuffling either snapshot."""
    from pyspark.sql import functions as F

    from job_search_engine_using_pyspark_solar_and_angular_spark import catalog
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        snapshot_diff,
    )

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("v")
    )
    try:
        catalog.write_bucketed(
            ev.filter(F.col("event_id") % 5 != 0),
            "t_snap_old", str(tmp_path / "so"), ["event_id"], buckets=8,
        )
        catalog.write_bucketed(
            ev.filter(F.col("event_id") % 3 != 0),
            "t_snap_new", str(tmp_path / "sn"), ["event_id"], buckets=8,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        d = snapshot_diff(
            spark.table("t_snap_old"), spark.table("t_snap_new"), ["event_id"]
        )
        p = d._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in p, p[:1200]
        assert d.filter(F.col("change") == "added").count() > 0
        assert d.filter(F.col("change") == "removed").count() > 0
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS t_snap_old")
        spark.sql("DROP TABLE IF EXISTS t_snap_new")


def test_heavy_hitters_sketch_joins_broadcast(spark):
    """cms_estimate probes must broadcast the KB-sized sketch — never shuffle
    the key side for it."""
    p = plan_of(spark, "ext_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert p.count("SortMergeJoin") == 0, p[:2000]


def test_ann_quantized_cuts_are_heaps(spark):
    """Both the coarse top-m and the final top-k must be TakeOrderedAndProject
    (per-partition heaps), and the query vector must be a broadcast, not a
    driver collect (no mid-plan actions: building the plan runs no jobs)."""
    p = plan_of(spark, "ext_ann_quantized")
    assert p.count("TakeOrderedAndProject") >= 2
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_sliding_window_is_single_shuffle_agg(spark):
    """The hopping fan-out is a JVM-side generator + ONE partial/final agg —
    no join, no second exchange beyond the agg's."""
    p = plan_of(spark, "ext_sliding_window")
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p
    assert p.count("Exchange") == 1, p.count("Exchange")


def test_tpch_q6_filters_push_to_scan(spark):
    """Q6's ship-date range and quantity cap must reach the parquet scan as
    pushed filters — the pure-scan query lives or dies on pruning."""
    p = plan_of(spark, "ext_tpch_q6")
    assert "l_shipdate" in p and "PushedFilters" in p
    assert re.search(r"PushedFilters: \[[^\]]*l_quantity", p) or "LessThan(l_quantity,24.0)" in p


def test_bloom_probe_is_map_only(spark):
    """Bloom probing must stay map-side: the bit set joins as ONE broadcast
    row (nested-loop over a single row is free), and the exact-truth
    reconciliation side is a broadcast hash join — no shuffle join anywhere."""
    p = plan_of(spark, "ext_bloom_prune")
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" in p


def test_more_like_this_broadcasts_target_and_takes_ordered(spark):
    """MLT: target weight vector broadcast (never a doc x doc join) and the
    final top-k compiled to TakeOrderedAndProject."""
    p = plan_of(spark, "ext_more_like_this")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_rolling_dau_grid_join_is_equi(spark):
    """The 7-day grid join must be an equi-join on src_d, not a range
    cross-join: no CartesianProduct in the plan."""
    p = plan_of(spark, "ext_rolling_dau")
    assert "CartesianProduct" not in p


def test_triangles_joins_are_hash_equi(spark):
    """Triangle census: wedge and closure joins are hash equi-joins on
    vertex keys — never a cartesian edge x edge comparison."""
    p = plan_of(spark, "ext_triangles")
    assert "CartesianProduct" not in p


def test_tpch_dossier_no_cartesian_or_nested_loop(spark):
    """All 13 TPC-H-shape classics must stay hash/equi joins: the only
    sanctioned non-equi edge is Q22's 1-row scalar broadcast."""
    for q in (
        "ext_tpch_q4", "ext_tpch_q7", "ext_tpch_q8", "ext_tpch_q10",
        "ext_tpch_q12", "ext_tpch_q13", "ext_tpch_q14", "ext_tpch_q15",
        "ext_tpch_q17", "ext_tpch_q18", "ext_tpch_q19", "ext_tpch_q21",
    ):
        p = plan_of(spark, q)
        assert "CartesianProduct" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q


def test_tpch_q4_exists_is_semi_join(spark):
    p = plan_of(spark, "ext_tpch_q4")
    assert "LeftSemi" in p


def test_tpch_q7_q8_dimensions_broadcast(spark):
    """The two-role nation joins and every other dimension side broadcast;
    at most the fact-fact lineitem⋈orders edge may shuffle."""
    for q in ("ext_tpch_q7", "ext_tpch_q8"):
        p = plan_of(spark, q)
        assert p.count("BroadcastHashJoin") >= 4, q
        assert p.count("SortMergeJoin") <= 1, q


def test_tpch_topk_uses_take_ordered(spark):
    for q in ("ext_tpch_q10", "ext_tpch_q18", "ext_tpch_q21"):
        assert "TakeOrderedAndProject" in plan_of(spark, q), q


def test_tpch_q19_or_of_ands_stays_hash_join(spark):
    """Catalyst must extract the common equi-condition from the disjunctive
    predicate — a nested-loop here is the classic Q19 failure mode."""
    p = plan_of(spark, "ext_tpch_q19")
    assert "BroadcastHashJoin" in p
    assert "NestedLoop" not in p


def test_tpch_q15_max_is_broadcast_not_window(spark):
    """The scalar MAX joins back as a 1-row broadcast — no global Window."""
    p = plan_of(spark, "ext_tpch_q15")
    assert "Window" not in p
    assert "BroadcastHashJoin" in p


def test_mad_outliers_stats_broadcast(spark):
    """Both per-type stat tables (median, MAD) join back by BROADCAST —
    the event scan must never sort-merge against a handful-of-rows agg."""
    p = plan_of(spark, "ext_mad_outliers")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_text_audits_are_scan_speed(spark):
    """readability / encoding_audit: no join, no window, no Python; the
    only exchange is the audit's tiny group-by (none for readability)."""
    p = plan_of(spark, "ext_readability")
    assert "Join" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    p = plan_of(spark, "ext_encoding_audit")
    assert "Join" not in p and "Window" not in p
    assert "partial_count" in p or "HashAggregate" in p  # partial+final agg


def test_bpe_encode_single_corpus_join(spark):
    """The encode side joins the token stream against the vocab map once;
    no cartesian anywhere (the trainer's 1-row argmax crossJoins are
    broadcast nested loops over ONE row, which is fine — but a real
    CartesianProduct would mean the vocab apply regressed)."""
    p = plan_of(spark, "ext_bpe_encode")
    assert "CartesianProduct" not in p


def test_sql_lateral_decorrelates(spark):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate to a windowed
    rank + hash join — never a per-row nested-loop or cartesian execution."""
    p = plan_of(spark, "ext_sql_lateral")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "Window" in p


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark):
    """AQE must be live, not just configured: after execution the adaptive
    final plan shows the post-shuffle coalesce (32 configured partitions
    collapsed to match the tiny grouped output) — the runtime re-plan that
    keeps small-stage task counts sane at any configured parallelism."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table

    df = load_table(spark, SF_DIR, "events").groupBy("event_type").count()
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    assert "AQEShuffleRead coalesced" in p

def test_lsh_bucket_int8_is_shuffle_free_row_local(spark):
    """Integer LSH bucketing is pure per-row column math: its own plan
    must add ZERO Exchange nodes and ZERO Python evals over a plain scan —
    the shape that makes the 4x-compressed bucketing pass scale linearly."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        lsh_bucket_int8,
        quantize_int8,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    df = lsh_bucket_int8(quantize_int8(emb), num_planes=4)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p[:1200]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_diversity_sample_windows_by_cluster_only(spark):
    """The diversity-sampling quota window must partition BY CLUSTER —
    a global (unpartitioned) window would serialize the corpus through
    one task at scale."""
    p = plan_of(spark, "ext_diversity_sample")
    assert "Window" in p
    import re

    # every window spec in the plan must carry a partition key
    for frag in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "centroid_id" in frag, frag



def test_temperature_mix_no_corpus_shuffle_no_window(spark):
    """temperature_mix_apply: the corpus is scanned exactly TWICE (stats
    agg + filtered output) — the cross-domain total comes from an
    ``over ()`` window on the #domains-row stats relation, not a third
    corpus scan (the original crossJoin-with-stats.agg() shape executed
    the corpus-scan stats subplan twice, with no exchange reuse). The
    corpus itself is filtered through a BROADCAST join and never
    hash-repartitions, sorts, or windows on a corpus-sized key."""
    p = plan_of(spark, "ext_mix_temperature")
    assert "BroadcastHashJoin" in p
    assert p.count("FileScan") == 2, p
    assert "SortMergeJoin" not in p
    # the only Window is the totals window over the post-agg stats rows —
    # a single-partition exchange of #domains rows, never the corpus
    assert p.count("Window") == 1
    assert "hashpartitioning(doc_id" not in p
    assert "hashpartitioning(text" not in p


def test_packing_stats_prunes_the_packing_window_entirely(spark):
    """packing_stats only reads (shard, n_tokens), so Catalyst's column
    pruning must eliminate pack_sequences' running-sum Window from the
    audit's plan COMPLETELY — the whole audit is scan -> project ->
    filter -> one shard-key exchange -> agg. A refactor that makes the
    audit depend on a window-derived column (seq_id/tok_start) would
    silently reintroduce the corpus-wide running sum; this pins it out."""
    p = plan_of(spark, "ext_packing_stats")
    assert p.count("Window") == 0
    assert p.count("Exchange") == 1, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_simhash_single_shuffle(spark):
    """r9 rewrite pinned: simhash aggregates straight from the exploded
    occurrences to doc grain — ONE partial+final agg pair and at most two
    Exchanges (the ensure_parallelism spread + the doc-grain agg). The
    pre-r9 shape carried an extra (doc_id, token) tf aggregate: four
    HashAggregates and a third Exchange shipping the corpus-sized tf
    table for zero information.

    Built on a filter-interposed input rather than the registry query:
    in a shared session, other tests' persisted relations substitute into
    matching subtrees and an InMemoryRelation PRINTS its cached child
    plan, inflating raw operator-string counts (the full-suite flake that
    motivated this form)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import dedup

    d = load_table(spark, SF_DIR, "documents").where("doc_id IS NOT NULL")
    p = dedup.simhash(d)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" not in p, p[:800]  # isolation held
    assert p.count("HashAggregate") == 2, p[:1500]
    assert p.count("Exchange") <= 2, p[:1500]
    assert "SortMergeJoin" not in p


def test_bucketed_pair_marker_invalidates_on_source_change(spark, tmp_path):
    """Both derived layouts of sources/replicate.py (the bucketed fact pair
    and the ×N replicated sf layout) must REBUILD when the source data
    changes under the same paths — a stale layout would otherwise feed the
    bench old data, or abort it via the result-equality assert. The one
    marker fingerprints each source's row count AND a content hash, so
    same-count content changes invalidate too (ADVICE r9: a regenerated
    source with identical counts silently reused the stale layout)."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as sf

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.replicate import (
        ensure_bucketed_pair,
        replicate,
    )

    li = lambda: load_table(spark, SF_DIR, "lineitem")  # noqa: E731
    o = lambda: load_table(spark, SF_DIR, "orders")  # noqa: E731
    bdir = str(tmp_path / "bp")
    try:
        first = ensure_bucketed_pair(spark, li, o, bdir, "t_bp_li", "t_bp_o")
        assert first is not None  # fresh write
        again = ensure_bucketed_pair(spark, li, o, bdir, "t_bp_li", "t_bp_o")
        # cached: counts match — the recorded one-time write cost is
        # returned (never None), so the bench artifact's bucket_write_sec
        # is non-null on cached runs too (VERDICT r10 #5)
        assert again == first
        shrunk = lambda: load_table(spark, SF_DIR, "lineitem").limit(10)  # noqa: E731
        rebuilt = ensure_bucketed_pair(spark, shrunk, o, bdir, "t_bp_li", "t_bp_o")
        assert rebuilt is not None  # source changed -> rewrite, not stale reuse
        assert spark.table("t_bp_li").count() == 10
        # same ROW COUNT, different content: the content hash must catch
        # what the count alone cannot
        shifted = lambda: load_table(spark, SF_DIR, "lineitem").withColumn(  # noqa: E731
            "l_orderkey", sf.col("l_orderkey") + 1
        )
        ensure_bucketed_pair(spark, li, o, bdir, "t_bp_li", "t_bp_o")
        ensure_bucketed_pair(spark, shifted, o, bdir, "t_bp_li", "t_bp_o")
        got = spark.table("t_bp_li").agg(sf.sum("l_orderkey")).first()[0]
        assert got == shifted().agg(sf.sum("l_orderkey")).first()[0], (
            "same-count content change reused stale layout"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bp_li")
        spark.sql("DROP TABLE IF EXISTS t_bp_o")

    # the replicated layout: a source table rewritten in place with the same
    # row count must not be served from the old replicas
    src, root = tmp_path / "src", str(tmp_path / "rep")
    shutil.copytree(SF_DIR, src)
    out = replicate(spark, str(src), 2, root)
    total = lambda: load_table(spark, out, "orders").agg(  # noqa: E731
        sf.sum("o_totalprice")
    ).first()[0]
    before = total()
    path = str(src / "orders.parquet")
    t = pq.read_table(path)
    i = t.schema.get_field_index("o_totalprice")
    pq.write_table(t.set_column(i, "o_totalprice", pc.add(t["o_totalprice"], 1.0)), path)
    assert replicate(spark, str(src), 2, root) == out
    assert total() == pytest.approx(before + 2 * t.num_rows), "stale replicas reused"
