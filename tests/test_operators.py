"""Operator-level property tests: approx-distinct accuracy, ANN recall,
dedup invariants, pagination composition, quality-score bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
    dedup,
    similarity,
    textstats,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.operators.topk import (
    paginate,
    top_k_per_group,
)

from .conftest import SF_DIR


def test_approx_distinct_within_5pct(spark):
    """X4 accuracy contract: HLL estimate within ±5% of exact."""
    e = load_table(spark, SF_DIR, "events")
    approx = e.agg(F.approx_count_distinct("user_id")).collect()[0][0]
    exact = e.agg(F.count_distinct("user_id")).collect()[0][0]
    assert abs(approx - exact) <= 0.05 * exact


def test_lsh_buckets_prune(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    b = similarity.lsh_bucket(emb, num_planes=8)
    n_buckets = b.select("bucket").distinct().count()
    assert n_buckets > 1  # planes actually split the space


def test_minhash_candidates_contain_exact_dups(spark):
    """Any two docs with identical text MUST appear as an LSH candidate pair
    (identical signatures share every band)."""
    d = load_table(spark, SF_DIR, "documents")
    dups = (
        d.groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"), F.count("*").alias("c"))
        .filter("c > 1")
        .collect()
    )
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_candidates(d).collect()
    }
    missing = []
    for row in dups:
        ids = sorted(row["ids"])
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if (ids[i], ids[j]) not in cand:
                    missing.append((ids[i], ids[j]))
    assert not missing, f"exact dups missing from LSH candidates: {missing[:5]}"


def test_simhash_identical_texts_zero_hamming(spark):
    d = load_table(spark, SF_DIR, "documents")
    sh = dedup.simhash(d)
    joined = (
        d.select("doc_id", "text")
        .join(sh, "doc_id")
        .groupBy("text")
        .agg(F.count_distinct("simhash").alias("k"), F.count("*").alias("c"))
        .filter("c > 1")
    )
    assert joined.filter("k > 1").count() == 0


def test_pagination_is_partition_of_order(spark):
    """Consecutive pages tile the ordered stream without gaps/overlap."""
    e = load_table(spark, SF_DIR, "events")
    order = [F.col("ts"), F.col("event_id")]
    p1 = [r["event_id"] for r in paginate(e, order, 0, 10).collect()]
    p2 = [r["event_id"] for r in paginate(e, order, 10, 10).collect()]
    straight = [
        r["event_id"]
        for r in e.orderBy(*order).limit(20).select("event_id").collect()
    ]
    assert p1 + p2 == straight


def test_top_k_per_group(spark):
    e = load_table(spark, SF_DIR, "events")
    out = top_k_per_group(e, ["event_type"], [F.col("value").desc(), F.col("event_id")], 3)
    sizes = out.groupBy("event_type").count().collect()
    assert all(r["count"] <= 3 for r in sizes)


def test_quality_score_bounds(spark):
    d = load_table(spark, SF_DIR, "documents")
    scored = textstats.quality_score(d)
    bad = scored.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0


def test_lemmatize_applies_dictionary(spark):
    df = spark.createDataFrame([(1, "joins and joining tables")], "doc_id long, text string")
    out = {r["pos"]: r["lemma"] for r in textstats.lemmatize(
        df, {"joins": "join", "joining": "join", "tables": "table"}
    ).collect()}
    assert out == {0: "join", 1: "and", 2: "join", 3: "table"}


def test_asof_join_semantics(spark):
    """Hand-computed as-of: latest right at-or-before each left ts, per key;
    null when no prior right row; equal-ts right row matches."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        as_of_join,
    )

    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 7, "l3")],
        "k long, ts long, lid string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r10"), (1, 15, "r15"), (2, 9, "r9")],
        "k long, ts long, v string",
    )
    out = {r["lid"]: r["v"] for r in as_of_join(left, right, "k").collect()}
    assert out == {"l0": None, "l1": "r10", "l2": "r15", "l3": None}


def test_sessionize_gap_splits(spark):
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        sessionize,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),   # same session (600 s)
        (1, "2024-01-01 11:00:00"),   # gap 3000 s -> new session
        (2, "2024-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    s = {
        (r["user_id"], r["session_idx"]): r["n_events"]
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert s == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_range_join_is_broadcast(spark):
    """The ranges side must broadcast (nested-loop with tiny build side),
    never shuffle the fact table."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        range_bucket_join,
    )

    e = load_table(spark, SF_DIR, "events").select("event_id", "value")
    ranges = spark.createDataFrame(
        [(0.0, 100.0, "a"), (100.0, 1e9, "b")], "lo double, hi double, bucket string"
    )
    out = range_bucket_join(e, ranges, "value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert out.count() == e.count()  # left join keeps every fact row


def test_latest_wins_agg_equals_window_form(spark):
    """latest_wins_agg (skew-proof max_by) row-for-row equals the row_number
    window on real data AND on the NULL-ordering edge cases (NULL order loses
    to non-NULL; all-NULL key still yields its one row)."""
    e = load_table(spark, SF_DIR, "events")
    a = dedup.latest_wins(e, ["user_id"], "ts", ["event_id"])
    b = dedup.latest_wins_agg(e, ["user_id"], "ts", ["event_id"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    edge = spark.createDataFrame(
        [(1, None, 5, "a"), (1, 10, 1, "b"), (1, 10, 2, "c"), (2, None, 1, "d")],
        "k int, t int, u int, v string",
    )
    for fn in (dedup.latest_wins, dedup.latest_wins_agg):
        assert sorted(map(tuple, fn(edge, ["k"], "t", ["u"]).collect())) == [
            (1, 10, 2, "c"),
            (2, None, 1, "d"),
        ], fn.__name__


def test_merge_latest_idempotent(spark):
    e = load_table(spark, SF_DIR, "events")
    first = dedup.latest_wins(e, ["user_id"], "ts", ["event_id"])
    again = dedup.merge_latest(first, first, ["user_id"], "ts")
    assert again.count() == first.count()


def test_ivf_topk_df_matches_list_variant(spark):
    """ivf_topk_df must equal exact cosine top-k over the inverted lists of
    the nprobe centroids nearest the query, with the probes chosen here in
    Python (same left-to-right double arithmetic as functions.vectors)."""
    import math

    def _cos(a, b):
        d = aa = bb = 0.0
        for x, y in zip(a, b):
            d += x * y
            aa += x * x
            bb += y * y
        return d / (math.sqrt(aa) * math.sqrt(bb))

    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cents = similarity.ivf_centroids(emb, n_centroids=16)
    rows = cents.collect()
    assert len(rows) == 16
    ranked = sorted(
        rows,
        key=lambda r: (-_cos([float(x) for x in r["centroid"]], qvec), r["cent_id"]),
    )
    probes = [r["cent_id"] for r in ranked[:4]]
    lists = similarity.ivf_assign(emb, cents).filter(F.col("cent_id").isin(probes))
    assert 0 < lists.count() < emb.count()
    want = [
        (r["vec_id"], r["sim"])
        for r in similarity.cosine_topk(lists, qvec, k=5, exclude_ids=[0]).collect()
    ]
    got = [
        (r["vec_id"], r["sim"])
        for r in similarity.ivf_topk_df(emb, q, k=5, nprobe=4, exclude_ids=[0]).collect()
    ]
    assert got == want and len(got) == 5


def test_cosine_topk_np_matches_exact(spark):
    """The vectorized (mapInPandas + numpy) rerank tier must agree with the
    oracle-exact HOF tier: same ids in order, sims equal to 4 decimals."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = similarity.cosine_topk(emb, qvec, k=10, exclude_ids=[0]).collect()
    vec = similarity.cosine_topk_np(emb, qvec, k=10, exclude_ids=[0]).collect()
    assert [r["vec_id"] for r in exact] == [r["vec_id"] for r in vec]
    for e, v in zip(exact, vec):
        assert abs(e["sim"] - v["sim"]) <= 1e-9, (e, v)


def test_embedding_near_dups_bucket_cap_bounds_skew(spark):
    """Skewed fixture: 300 near-identical vectors collapse into ONE LSH bucket
    (the quadratic-blowup case). With max_bucket_size the refined buckets must
    all be under cap * 2, and truly-identical vectors must still pair up
    (refinement cannot separate identical points)."""
    import math

    base = [math.sin(0.1 * d) for d in range(64)]
    rows = []
    for i in range(300):
        # identical in pairs: (0,1), (2,3), ... -> guaranteed same sub-bucket
        v = [x + 1e-6 * (i // 2) for x in base]
        rows.append((i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    buckets = similarity.lsh_bucket(emb, num_planes=8, dim=64)
    top = buckets.groupBy("bucket").count().orderBy(F.col("count").desc()).first()
    assert top["count"] == 300  # all in one bucket: the skew case is real

    pairs = similarity.embedding_near_dups(
        emb, threshold=0.9999, num_planes=8, dim=64, max_bucket_size=64
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for i in range(0, 300, 2):
        assert (i, i + 1) in got, f"identical pair ({i},{i+1}) lost by refinement"


def test_served_vector_index_prunes_partitions_and_matches(spark, tmp_path):
    """The on-disk ANN tier: write_vector_index_int8 partitions by integer
    LSH bucket, and its one read path (ann_lsh_served_vec: the query as a
    vector, driver-side quantize + bucket) must (a) return exactly the
    in-session tier results — the DEFAULT is Hamming-1 multiprobe
    (== ext_ann_lsh_multiprobe; the single-bucket probe measured recall@5 =
    0.0 at sf0.01, so it is opt-in via multiprobe=False and must equal
    ext_ann_lsh_quantized) — and (b) reach the scan through a STATIC
    partition filter on the bucket column in BOTH modes, with no
    dynamic-pruning subquery: partition pruning IS the index."""
    import re

    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vecidx")
    similarity.write_vector_index_int8(emb.filter(F.col("vec_id") != 0), path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx = spark.read.parquet(path)

    for mp, twin in ((True, "ext_ann_lsh_multiprobe"), (False, "ext_ann_lsh_quantized")):
        served = similarity.ann_lsh_served_vec(spark, idx, qv, k=5, multiprobe=mp)
        got = [(r["vec_id"], r["sim"]) for r in served.collect()]
        want = [
            (r["vec_id"], r["sim"]) for r in QUERIES[twin](spark, SF_DIR).collect()
        ]
        assert got == want and len(got) == 5, twin

        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruningexpression" not in plan, plan[:1500]
        # multiprobe folds to IN/INSET; a single probe folds to equality —
        # either way the bucket predicate must sit in PartitionFilters
        assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan[-1500:]


def test_ann_lsh_served_vec_matches_dataframe_path(spark, tmp_path):
    """The driver-side quantize + bucket of ann_lsh_served_vec must agree
    with the in-plan arithmetic: over the same on-disk index, a read that
    keeps the query as a DataFrame (quantize_int8 + lsh_bucket_int8 on the
    query row, probes joined to the bucket column) must return EXACTLY the
    served rows in both probe modes."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.functions.vectors import (
        cosine,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vecidx")
    similarity.write_vector_index_int8(emb.filter(F.col("vec_id") != 0), path)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    qv = [float(x) for x in q.first()["qv"]]

    qbucket = similarity.lsh_bucket_int8(
        similarity.quantize_int8(
            q.select(F.lit(0).alias("vec_id"), F.col("qv").alias("embedding"))
        ),
        num_planes=4,
    )
    idx = spark.read.parquet(path)
    for mp in (True, False):
        probe_cols = [F.col("bucket")]
        if mp:
            probe_cols += [F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(4)]
        qb = qbucket.select(F.explode(F.array(*probe_cols)).alias("qbucket"))
        want = [
            (r["vec_id"], r["sim"])
            for r in idx.join(F.broadcast(qb), idx["bucket"] == F.col("qbucket"))
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                (F.round(cosine(F.col("embedding"), F.col("qv")), 4) + F.lit(0.0)).alias(
                    "sim"
                ),
            )
            .orderBy(F.col("sim").desc(), F.col("vec_id"))
            .limit(5)
            .collect()
        ]
        served = similarity.ann_lsh_served_vec(spark, idx, qv, k=5, multiprobe=mp)
        got = [(r["vec_id"], r["sim"]) for r in served.collect()]
        assert got == want and len(got) == 5, f"multiprobe={mp}"


def test_batch_cosine_matches_single_query_scorer(spark):
    """cosine_topk_df's per-query results must equal the single-query exact
    scorer id-for-id (the batch path changes shuffle shape, never
    results)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id").isin([0, 5])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(~F.col("vec_id").isin([0, 5]))
    batch = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in similarity.cosine_topk_df(corpus, qs, k=5).collect()
    }
    for qid in (0, 5):
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        single = similarity.cosine_topk(corpus, qvec, k=5).collect()
        for i, r in enumerate(single, start=1):
            got_id, got_sim = batch[(qid, i)]
            assert got_id == r["vec_id"], (qid, i)
            assert abs(got_sim - r["sim"]) < 1e-12, (qid, i)


def test_partial_topk_matches_window_topk(spark):
    """top_k_per_group_partial == top_k_per_group on the same ordering —
    the two formulations differ only in shuffle shape."""
    e = load_table(spark, SF_DIR, "events")
    want = sorted(
        (r["event_type"], r["event_id"])
        for r in top_k_per_group(
            e, ["event_type"], [F.col("value").desc(), F.col("event_id")], 5
        ).select("event_type", "event_id").collect()
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.topk import (
        top_k_per_group_partial,
    )

    got_df = top_k_per_group_partial(
        e.select("event_type", "event_id", "value"),
        ["event_type"],
        F.struct((-F.col("value")).alias("nv"), F.col("event_id").alias("event_id")),
        5,
        salt_src=F.col("event_id"),
    )
    got = sorted(
        (r["event_type"], r["event_id"])
        for r in got_df.select("event_type", "event_id").collect()
    )
    assert got == want


def test_checkpoint_modes_agree(spark, tmp_path):
    """lineage_cut's two modes (localCheckpoint vs reliable df.checkpoint
    into checkpoint_dir) must produce identical results for every iterative
    algorithm — the flag changes fault-tolerance, never semantics."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import graph

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (1, 4)],
        "doc_a long, doc_b long",
    )
    ckpt = str(tmp_path / "ckpt")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dedup.connected_components(pairs)) == rows(
        dedup.connected_components(pairs, checkpoint_dir=ckpt)
    )
    assert rows(dedup.connected_components_star(pairs)) == rows(
        dedup.connected_components_star(pairs, checkpoint_dir=ckpt)
    )
    assert rows(graph.pagerank_int(pairs, iters=3)) == rows(
        graph.pagerank_int(pairs, iters=3, checkpoint_dir=ckpt)
    )
    assert rows(graph.bfs_distances(pairs)) == rows(
        graph.bfs_distances(pairs, checkpoint_dir=ckpt)
    )
    assert rows(graph.kcore(pairs, k=2)) == rows(
        graph.kcore(pairs, k=2, checkpoint_dir=ckpt)
    )


def test_lsh_bucket_int8_matches_python_reference(spark):
    """Integer-exact LSH: bucket bits equal signs of <codes, rademacher_j>
    computed independently in plain Python, and identical vectors always
    share a bucket (no float sensitivity by construction)."""
    import math

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        lsh_bucket_int8,
        quantize_int8,
        rademacher_plane,
    )

    vecs = [
        (0, [math.sin(0.3 * d) for d in range(64)]),
        (1, [math.sin(0.3 * d) for d in range(64)]),  # identical to 0
        (2, [math.cos(0.7 * d) - 0.4 for d in range(64)]),
        (3, [float((d * 37) % 11 - 5) for d in range(64)]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["bucket"]
        for r in lsh_bucket_int8(quantize_int8(df), num_planes=4).collect()
    }

    def py_codes(x):
        mn, mx = min(x), max(x)
        if mx == mn:
            return [0] * len(x)
        return [int(math.floor((v - mn) * 255.0 / (mx - mn) + 0.5)) - 128 for v in x]

    planes = [rademacher_plane(j, 64) for j in range(4)]
    for vid, x in vecs:
        c = py_codes(x)
        want = sum(
            (1 << j)
            for j in range(4)
            if sum(ci * pi for ci, pi in zip(c, planes[j])) >= 0
        )
        assert got[vid] == want, (vid, got[vid], want)
    assert got[0] == got[1]


def test_lsh_bucket_int8_raises_on_dim_mismatch(spark):
    """Dim guard (r3 advice, medium): a codes array shorter/longer than the
    plane dim must RAISE, not silently null-pad the zip_with dot product and
    bucket every vector to 0 (a degenerate one-bucket index). Also pins that
    a correct non-default dim works end to end."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        lsh_bucket_int8,
        quantize_int8,
    )

    df32 = spark.createDataFrame(
        [(0, [float(d % 7) for d in range(32)])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises((Py4JJavaError, Exception), match="lsh_bucket_int8"):
        lsh_bucket_int8(quantize_int8(df32), num_planes=4).collect()  # dim=64 default
    ok = lsh_bucket_int8(quantize_int8(df32), num_planes=4, dim=32).collect()
    assert len(ok) == 1 and 0 <= ok[0]["bucket"] < 16


def test_ext_embedding_near_dups_nonempty_on_fixture(spark):
    """The registry entry must return a nonempty pair set on the synthetic
    fixture (r02 regression: threshold 0.9 returned 0 rows at the driver's
    sf0.01, so its rows-only check verified nothing). The fixture embeddings
    are near-orthogonal, hence the fixture-derived threshold in the entry."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )

    rows = QUERIES["ext_embedding_near_dups"](spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["sim"] >= 0.25


def test_spell_correct_semantics(spark):
    """N6 contract: distance-1 misspellings correct to the dictionary word,
    exact dictionary hits win at distance 0 (never 'corrected' to a
    distance-1 neighbor also in the dictionary), unknown tokens pass through."""
    df = spark.createDataFrame(
        [(1, "dup row zebra bog")], "doc_id long, text string"
    )
    out = {
        r["token"]: r["corrected"]
        for r in textstats.spell_correct(
            df, ["dupe", "row", "rows", "big", "bag", "bog"]
        ).collect()
    }
    assert out["dup"] == "dupe"    # distance-1 correction
    assert out["row"] == "row"     # exact hit beats neighbor "rows"
    assert out["zebra"] == "zebra" # unknown passes through
    assert out["bog"] == "bog"     # exact hit beats "big"/"bag" neighbors


def test_resize_images_contract(spark):
    """Resize operator (real since r4): non-image payloads pass through
    byte-identical with resize_skipped metadata; decodable images are
    actually resampled (dims change, meta records the target). Pixel-level
    resample correctness is pinned in tests/test_multimodal.py."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        multimodal,
    )

    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 5)
    media = multimodal.attach_binary_payload(d, "doc_id", "text")
    out = multimodal.resize_images(media, 224, 224)
    assert out.schema == multimodal.MEDIA_SCHEMA
    rows = {r["media_id"]: r for r in out.collect()}
    orig = {r["media_id"]: r for r in media.collect()}
    assert set(rows) == set(orig)
    for mid, r in rows.items():
        # text payloads are not decodable images -> byte-identical passthrough
        assert bytes(r["payload"]) == bytes(orig[mid]["payload"])
        assert r["meta_json"] == '{"resize_skipped":true}'


def test_ivf_kmeans_improves_clustering(spark):
    """Lloyd invariants: codebook keeps n_centroids x dim shape, and the
    mean objective (avg cosine of each vector to its assigned centroid) is
    monotone non-decreasing vs the lowest-id init (cosine is scale-invariant,
    so the unnormalized mean update is spherical k-means in disguise)."""
    emb = load_table(spark, SF_DIR, "embeddings")

    def avg_sim(cents):
        from job_search_engine_using_pyspark_solar_and_angular_spark.functions.vectors import (
            cosine,
        )

        best = (
            emb.crossJoin(F.broadcast(cents))
            .select(
                "vec_id", cosine(F.col("embedding"), F.col("centroid")).alias("s")
            )
            .groupBy("vec_id")
            .agg(F.max("s").alias("best"))
        )
        return best.agg(F.avg("best")).collect()[0][0]

    init = similarity.ivf_centroids(emb, n_centroids=8)
    trained = similarity.ivf_train_kmeans(emb, n_centroids=8, iters=3)
    assert trained.count() == 8
    dims = trained.select(F.size("centroid").alias("d")).distinct().collect()
    assert [r["d"] for r in dims] == [64]
    assert avg_sim(trained) >= avg_sim(init) - 1e-9


def test_hash_sampling_is_layout_and_run_stable(spark):
    """The reason hash sampling exists: identical assignment regardless of
    partition layout (df.sample changes per layout/seed), and different salts
    give (mostly) independent subsets."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        sampling,
    )

    d = load_table(spark, SF_DIR, "documents")
    a = {r["doc_id"]: r["split"] for r in
         sampling.train_test_split(d, "doc_id").collect()}
    b = {r["doc_id"]: r["split"] for r in
         sampling.train_test_split(d.repartition(7), "doc_id").collect()}
    assert a == b  # layout-independent

    s1 = {r["doc_id"] for r in sampling.hash_sample(d, "doc_id", 3_000).collect()}
    s2 = {r["doc_id"] for r in
          sampling.hash_sample(d, "doc_id", 3_000, salt="v2").collect()}
    n = d.count()
    assert 0.2 * n <= len(s1) <= 0.4 * n  # ~30% within tolerance
    assert s1 != s2  # salted resample differs


def test_salted_join_equals_plain_join(spark):
    """Salting must be invisible: identical rows to the plain join for any
    n_salts, inner and left."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import salted_join

    e = (
        load_table(spark, SF_DIR, "events")
        .withColumnRenamed("user_id", "c_custkey")
        .select("event_id", "c_custkey", "value")
    )
    c = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    for how in ("inner", "left"):
        plain = sorted(map(tuple, e.join(c, "c_custkey", how).collect()))
        for n in (1, 3, 8):
            salted = sorted(
                map(tuple, salted_join(e, c, "c_custkey", "event_id", n, how).collect())
            )
            assert salted == plain, (how, n)


def test_salted_join_rejects_unsupported_how(spark):
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import salted_join

    e = load_table(spark, SF_DIR, "events")
    with pytest.raises(ValueError):
        salted_join(e, e, "event_id", "event_id", how="full")


def test_quantize_roundtrip_error_bound(spark):
    """Dequantized values must sit within scale/2 of the originals (the int8
    grid's half-step), and codes must span a meaningful range."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(100)
    q = similarity.quantize_int8(emb)
    deq = similarity.dequantize_int8(q)
    joined = deq.join(emb, "vec_id").select(
        F.max(
            F.array_max(
                F.zip_with(
                    "approx",
                    "embedding",
                    lambda a, b: F.abs(a - b.cast("double")),
                )
            )
            / F.when(F.col("scale") > 0, F.col("scale")).otherwise(F.lit(1.0))
        ).alias("worst_ratio")
    )
    worst = joined.collect()[0]["worst_ratio"]
    assert worst <= 0.5 + 1e-9, worst
    codes = similarity.quantize_int8(emb).select(F.explode("codes").alias("c"))
    lo, hi = codes.agg(F.min("c"), F.max("c")).collect()[0]
    assert lo == -128 and hi == 127  # min/max components hit the grid ends


def test_quantized_cosine_recall(spark):
    """Coarse scoring on dequantized codes must keep >= 4 of the exact top-5
    (the coarse-then-rerank contract)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    qvec = [float(x) for x in qrow["embedding"]]
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, qvec, k=5, exclude_ids=[0]).collect()}
    deq = similarity.dequantize_int8(similarity.quantize_int8(emb)).select(
        "vec_id", F.col("approx").alias("embedding")
    )
    coarse = {r["vec_id"] for r in similarity.cosine_topk(deq, qvec, k=5, exclude_ids=[0]).collect()}
    assert len(exact & coarse) >= 4, (exact, coarse)


def test_agg_state_merge_is_split_invariant(spark):
    """Merging day-grain states and merging week-grain states (built from the
    same days) must give identical month rollups — associativity, the property
    that lets different jobs/regions write states independently."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        merge_agg_states,
        partial_agg_states,
    )

    e = load_table(spark, SF_DIR, "events")
    daily = partial_agg_states(e, grain="day")
    via_day = sorted(map(tuple, merge_agg_states(daily, grain="month").collect()))
    hourly = partial_agg_states(e, grain="hour")
    via_hour = sorted(map(tuple, merge_agg_states(hourly, grain="month").collect()))
    # n/min/max are exact; sums are rounded to 2 decimals before compare
    assert via_day == via_hour


def test_cms_never_undercounts_and_merges(spark):
    """Count-min contract: estimate >= true count for EVERY key, and a
    sketch merged from two disjoint halves equals the sketch of the whole."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import sketches

    e = load_table(spark, SF_DIR, "events")
    cms = sketches.cms_build(e, "user_id")
    keys = e.groupBy("user_id").agg(F.count("*").alias("true_c"))
    est = sketches.cms_estimate(cms, keys, "user_id")
    joined = est.join(keys, "user_id")
    under = joined.filter(F.col("est") < F.col("true_c")).count()
    assert under == 0
    # mean relative over-count stays small at the fixture's N/width ratio
    over = joined.agg(
        F.avg((F.col("est") - F.col("true_c")) / F.col("true_c"))
    ).collect()[0][0]
    assert over < 1.0, over

    lo = e.filter(F.col("event_id") % 2 == 0)
    hi = e.filter(F.col("event_id") % 2 == 1)
    merged = sketches.cms_merge(
        sketches.cms_build(lo, "user_id"), sketches.cms_build(hi, "user_id")
    )
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, cms.collect()))
    assert a == b


def test_quantized_rerank_matches_exact_when_unpruned(spark):
    """With m >= corpus size the coarse cut is a no-op, so the quantized
    rerank tier must return EXACTLY the full-precision top-k; with the
    real m=50 cut it must keep >= 4 of 5 (recall of the coarse tier)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    qvec = [float(x) for x in qrow["embedding"]]
    exact = [
        (r["vec_id"], r["sim"])
        for r in similarity.cosine_topk(emb, qvec, k=5, exclude_ids=[0]).collect()
    ]
    full = [
        (r["vec_id"], r["sim"])
        for r in similarity.quantized_rerank_topk(
            corpus, q, k=5, m=corpus.count()
        ).collect()
    ]
    assert full == exact
    pruned = {
        r["vec_id"] for r in similarity.quantized_rerank_topk(corpus, q, k=5, m=50).collect()
    }
    assert len(pruned & {v for v, _ in exact}) >= 4


def test_zscore_dims_whitens(spark):
    """Normalized dimensions must have ~zero mean and ~unit variance, and the
    plan must not shuffle the corpus (stats broadcast back, in-place
    transform — no collect_list reassembly)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    out = similarity.zscore_dims(emb)
    rows = out.select(F.posexplode("norm").alias("dim", "z"))
    stats = rows.groupBy("dim").agg(
        F.avg("z").alias("mu"), F.stddev("z").alias("sd")
    )
    bad = stats.filter(
        (F.abs(F.col("mu")) > 1e-3) | (F.abs(F.col("sd") - 1.0) > 1e-2)
    ).count()
    assert bad == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    # stats ride a broadcast back onto the corpus — the corpus itself is
    # never re-shuffled or joined by sort-merge (the collect_list in the
    # plan aggregates the 64 per-dim stat rows, not the corpus)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pagerank_int_star_graph(spark):
    """On a star (hub connected to k leaves): the hub must out-rank every
    leaf, leaves must tie exactly (integer math — no fp jitter), and total
    mass stays within div-floor leakage of the scale."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.graph import (
        SCALE,
        pagerank_int,
    )

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    pr = {r["node"]: r["rank"] for r in pagerank_int(pairs, iters=5).collect()}
    hub, leaves = pr[0], [pr[i] for i in range(1, 9)]
    assert all(hub > v for v in leaves)
    assert len(set(leaves)) == 1  # exact tie
    total = sum(pr.values())
    assert 0 < SCALE - total < SCALE * 1e-3  # floor leakage only, one-sided


def test_cms_join_cardinality_never_underestimates(spark):
    """Inner-product join-size estimate >= true join size (collisions only
    add), and equals it when width >> distinct keys."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import sketches

    e = load_table(spark, SF_DIR, "events")
    lo, hi = e.filter("event_id % 2 = 0"), e.filter("event_id % 2 = 1")
    est = sketches.cms_join_cardinality(
        sketches.cms_build(lo, "user_id", width=4096),
        sketches.cms_build(hi, "user_id", width=4096),
    ).collect()[0]["est"]
    true = (
        lo.groupBy("user_id").count().withColumnRenamed("count", "na")
        .join(hi.groupBy("user_id").count().withColumnRenamed("count", "nb"), "user_id")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("t"))
        .collect()[0]["t"]
    )
    assert est >= true
    assert est <= true * 1.2  # wide sketch ≈ exact at fixture cardinality


def test_quantized_tier_survives_parquet_roundtrip(spark, tmp_path):
    """The compressed tier is a STORAGE format: codes/zero_point/scale must
    round-trip through parquet and rerank identically to the in-memory
    path (the 100 TB deployment reads codes from disk, not from the
    original floats)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)
    path = str(tmp_path / "codes")
    similarity.quantize_int8(corpus).write.parquet(path)
    from_disk = similarity.dequantize_int8(spark.read.parquet(path)).select(
        "vec_id", F.col("approx").alias("embedding")
    )
    in_mem = similarity.dequantize_int8(similarity.quantize_int8(corpus)).select(
        "vec_id", F.col("approx").alias("embedding")
    )
    a = sorted(map(tuple, from_disk.collect()))
    b = sorted(map(tuple, in_mem.collect()))
    assert a == b


def test_split_leakage_detects_planted_duplicates(spark):
    """The leakage audit must flag a duplicated text whose copies hash into
    different splits (and stay silent when no text straddles)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.sampling import (
        train_test_split,
    )

    base = [(i, f"unique text {i}") for i in range(200)]
    d = spark.createDataFrame(base, "doc_id long, text string")
    s = train_test_split(d, "doc_id")
    # pick one train and one test doc_id, then duplicate one text across them
    ids = {r["split"]: r["doc_id"] for r in s.collect()}
    assert set(ids) == {"train", "test"}  # both splits populated
    rows = [
        (i, "LEAKED SHARED TEXT" if i in (ids["train"], ids["test"]) else t)
        for i, t in base
    ]
    leaked = train_test_split(
        spark.createDataFrame(rows, "doc_id long, text string"), "doc_id"
    )
    from pyspark.sql import functions as FF

    g = (
        leaked.groupBy(FF.md5("text").alias("h"))
        .agg(
            FF.sum(FF.when(FF.col("split") == "train", 1).otherwise(0)).alias("tr"),
            FF.sum(FF.when(FF.col("split") == "test", 1).otherwise(0)).alias("te"),
        )
        .filter((FF.col("tr") > 0) & (FF.col("te") > 0))
    )
    assert g.count() == 1


def test_ngram_udtf_matches_native_explode(spark):
    """The UDTF extension hook must emit exactly the rows of the native
    posexplode(token_ngrams(...)) hot path — swapping imperative Python in
    changes plumbing, not results."""
    from pyspark.sql.functions import udtf
    from pyspark.sql import functions as FF

    from job_search_engine_using_pyspark_solar_and_angular_spark.functions.hashing import (
        token_ngrams,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.functions.text import (
        tokenize_normalized,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.textstats import (
        ngram_udtf_class,
    )

    d = load_table(spark, SF_DIR, "documents").limit(50)
    Ngrams = udtf(ngram_udtf_class(2), returnType="pos int, ngram string")
    spark.udtf.register("ngrams2", Ngrams)
    d.select("doc_id", "text").createOrReplaceTempView("udtf_docs")
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT d.doc_id, t.pos, t.ngram FROM udtf_docs d, "
                "LATERAL ngrams2(d.text) t"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            d.select(
                "doc_id",
                FF.posexplode(token_ngrams(tokenize_normalized("text"), 2)).alias(
                    "pos", "ngram"
                ),
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_grouped_cms_merges_to_whole(spark):
    """Summing per-day sketch counters == building one sketch over all days:
    the persisted daily sketch table answers any range by merging."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import sketches

    e = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    daily = sketches.cms_build_grouped(e, "user_id", ["day"])
    merged = sorted(
        map(
            tuple,
            daily.groupBy("row", "bucket").agg(F.sum("c").alias("c")).collect(),
        )
    )
    whole = sorted(map(tuple, sketches.cms_build(e, "user_id").collect()))
    assert merged == whole


def test_bloom_no_false_negatives_and_plausible_fp(spark):
    """Bloom contract: every built key passes the probe (no false
    negatives); non-members mostly fail at this fill ratio (m=8192, k=3,
    100 keys -> FP rate well under 1%, so 0 expected on 200 probes —
    allow a couple)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    members = spark.range(0, 100).withColumnRenamed("id", "k")
    bits = bloom_build(members, "k", m_bits=8192, k=3)
    n_bits = bits.count()
    assert 0 < n_bits <= 300  # <= 100 keys * 3 hashes, minus collisions
    probes = spark.range(0, 300).withColumnRenamed("id", "k")  # 100 in, 200 out
    out = bloom_probe(bits, probes, "k", m_bits=8192, k=3)
    res = {r["k"]: r["bloom_pass"] for r in out.collect()}
    assert all(res[k] for k in range(100)), "false negative!"
    fp = sum(1 for k in range(100, 300) if res[k])
    assert fp <= 3


def test_triangle_stats_known_graph(spark):
    """Fixture: edges (1,2)(2,3)(1,3)(3,4) -> 1 triangle, degrees 2,2,3,1
    -> triplets 1+1+3+0 = 5, clustering 3*1/5 = 0.6."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.graph import (
        triangle_stats,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["doc_a", "doc_b"]
    )
    row = triangle_stats(pairs).collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 4
    assert row["n_triangles"] == 1
    assert row["n_triplets"] == 5
    assert abs(row["clustering"] - 0.6) < 1e-9


def test_audio_chunk_contract(spark):
    """Audio chunking plumbing: chunks tile each payload with the declared
    overlap, byte ranges follow PCM16 framing, concatenating the
    non-overlapped prefixes reconstructs the original payload."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        multimodal,
    )

    d = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 4)
    media = multimodal.attach_binary_payload(d, "doc_id", "text")
    sr, chunk_ms, overlap_ms = 1000, 40, 10  # 2 bytes/ms framing
    out = multimodal.audio_chunk_stub(
        media, sample_rate_hz=sr, chunk_ms=chunk_ms, overlap_ms=overlap_ms
    ).collect()
    orig = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    bpm = sr * 2 // 1000
    by_media = {}
    for r in sorted(out, key=lambda r: (r["media_id"], r["chunk_no"])):
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(orig)
    step = chunk_ms - overlap_ms
    for mid, chunks in by_media.items():
        dur = max(len(orig[mid]) // bpm, 1)
        rebuilt = b""
        for i, c in enumerate(chunks):
            assert c["chunk_no"] == i
            assert c["start_ms"] == i * step
            assert c["end_ms"] <= dur
            assert bytes(c["chunk_payload"]) == orig[mid][
                c["start_ms"] * bpm : c["end_ms"] * bpm
            ]
            take_to = (
                c["end_ms"] if i == len(chunks) - 1 else chunks[i + 1]["start_ms"]
            )
            rebuilt += orig[mid][c["start_ms"] * bpm : take_to * bpm]
        assert rebuilt == orig[mid][: dur * bpm]
        assert chunks[-1]["end_ms"] == dur


def test_bpe_merge_table_textbook_semantics(spark):
    """Pin the two BPE subtleties: (1) leftmost-non-overlapping merge —
    'aaaa' after learning (a,a) becomes 'aa aa', NOT 'aaa a' or overlap-
    counted; (2) lexicographic tie-break on equal pair counts."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.textstats import (
        bpe_merge_table,
    )

    # corpus: 'aaaa' x3 -> pair (a,a) freq 9 dominates round 1.
    # round 2 sees each word as 'aa aa' -> pair (aa,aa) freq 3.
    df = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    rows = bpe_merge_table(df, rounds=2).collect()
    assert [(r["round"], r["pair"], r["merged"], r["freq"]) for r in rows] == [
        (1, "_a _a", "_aa", 9),
        (2, "_aa _aa", "_aaaa", 3),
    ]

    # tie-break: 'ab' and 'aa' each once -> pairs (a,b)x1 and (a,a)x1;
    # lexicographically '_a _a' < '_a _b' wins.
    df2 = spark.createDataFrame([(1, "ab aa")], "doc_id long, text string")
    rows2 = bpe_merge_table(df2, rounds=1).collect()
    assert rows2[0]["pair"] == "_a _a" and rows2[0]["freq"] == 1


def test_star_cc_matches_hashmin_on_hard_graphs(spark):
    """The O(log n) large-star/small-star CC must label-match the hash-min
    loop on: a 20-node chain (worst case for hash-min: diameter rounds), a
    clique, two disjoint components, and the real LSH candidate graph."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        minhash_lsh_candidates,
    )

    def labels(df):
        return sorted((r["node"], r["cluster_id"]) for r in df.collect())

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "doc_a long, doc_b long"
    )
    clique = spark.createDataFrame(
        [(a, b) for a in range(1, 7) for b in range(a + 1, 7)],
        "doc_a long, doc_b long",
    )
    two = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)],
        "doc_a long, doc_b long",
    )
    for g in (chain, clique, two):
        assert labels(connected_components_star(g)) == labels(
            connected_components(g)
        )
    # every chain node labels to the minimum (1)
    assert labels(connected_components_star(chain)) == [
        (i, 1) for i in range(1, 21)
    ]

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_candidates(docs)
    assert labels(connected_components_star(pairs)) == labels(
        connected_components(pairs)
    )


def test_cc_rounds_stat_with_fused_first_pair(spark):
    """The r11 loop fuses the init sum and the round-1 sum into one action;
    the ``stats`` out-param must still report the true loop-round count:
    a clique converges in the fused first round (rounds == 1), a 20-node
    chain still iterates to the full diameter (rounds > 1) with correct
    labels."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        connected_components,
    )

    clique = spark.createDataFrame(
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],
        "doc_a long, doc_b long",
    )
    st: dict = {}
    got = sorted(
        (r["node"], r["cluster_id"])
        for r in connected_components(clique, stats=st).collect()
    )
    assert got == [(i, 1) for i in range(1, 6)]
    assert st["rounds"] == 1

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "doc_a long, doc_b long"
    )
    st2: dict = {}
    got2 = sorted(
        (r["node"], r["cluster_id"])
        for r in connected_components(chain, stats=st2).collect()
    )
    assert got2 == [(i, 1) for i in range(1, 21)]
    assert st2["rounds"] > 1


def test_cc_max_iter_zero_runs_no_loop_round(spark):
    """ADVICE r11: max_iter is a pure upper bound — with max_iter=0 the
    fused first round must NOT run; the result is the init labels
    (identity + one min-over-direct-neighbors propagation), which on a
    3-chain leaves node 3 labeled 2, not the converged 1."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    st: dict = {}
    got = sorted(
        (r["node"], r["cluster_id"])
        for r in connected_components(chain, max_iter=0, stats=st).collect()
    )
    assert got == [(1, 1), (2, 1), (3, 2)]
    assert st["rounds"] == 0


def test_lsh_self_join_reuses_exchange_at_runtime(spark):
    """ADVICE r11: the unpersisted banded self-join relies on exchange
    reuse to compute the shingle->minhash pipeline ONCE per action. The
    static plan carries no ReusedExchange node — the reuse materializes in
    the AQE final plan at runtime — so this pins it where it actually
    happens: after execution, the adaptive plan must contain a
    ReusedExchange (a config change that disables it would silently double
    the pipeline cost)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cand = minhash_lsh_candidates(docs)
    cand.collect()
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, (
        "LSH self-join no longer reuses the bucket-table exchange — the "
        "shingle->minhash pipeline is being computed twice per action"
    )


def test_encoding_audit_detects_planted_damage(spark):
    """Zeros on clean text; each damage class counted on planted rows."""
    rows = [
        (0, "perfectly clean text", "web"),
        (1, "caf\u00c3\u00a9 menu", "web"),          # 'cafe\u0301' as UTF-8-in-Latin-1
        (2, "it\u00e2\u20ac\u2122s broken", "web"),  # smart quote mojibake
        (3, "lost \ufffd bytes \ufffd here", "feed"),
        (4, "ctrl\u0001char", "feed"),
        (5, "fine again", "feed"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r["source"]: r.asDict()
        for r in textstats.encoding_audit(df).collect()
    }
    assert got["web"] == {
        "source": "web", "n_docs": 3, "n_damaged": 2,
        "n_repl_chars": 0, "n_mojibake": 2, "n_ctrl_chars": 0,
    }
    assert got["feed"] == {
        "source": "feed", "n_docs": 3, "n_damaged": 2,
        "n_repl_chars": 2, "n_mojibake": 0, "n_ctrl_chars": 1,
    }


def test_readability_hand_computed(spark):
    """Flesch milli-score against an independent hand computation."""
    texts = {
        0: "The cat sat on the mat. It was happy!",
        1: "no punctuation here at all",
        2: "!!!",  # zero words -> dropped
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts.values())],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in
           textstats.readability(df).collect()}
    assert sorted(got) == [0, 1]

    import re
    for i, t in texts.items():
        ws = [re.sub(r"[^a-z0-9]", "", w.lower()) for w in t.split(" ")]
        ws = [w for w in ws if w]
        if not ws:
            assert i not in got
            continue
        w = len(ws)
        s = max(len(re.findall(r"[.!?]+", t)), 1)
        sy = len(re.findall(r"[aeiouy]+", t.lower()))
        flesch = 206835 - (1015 * w) // s - (84600 * sy) // w
        assert got[i] == {
            "doc_id": i, "n_words": w, "n_sentences": s,
            "n_syllables": sy, "flesch_milli": flesch,
        }


def test_grouped_agg_pandas_udf_matches_native(spark):
    """§2.10 matrix, grouped-AGG cell: the pandas geometric-mean aggregate
    equals the native exp(avg(ln(x))) column form to 6 decimals, per group
    — swapping a not-SQL-expressible aggregate in changes plumbing, not
    plans (the native form stays the hot path)."""
    e = load_table(spark, SF_DIR, "events").filter(F.col("value") > 0)
    gm = textstats.geomean_grouped_agg_udf()
    got = {
        r["event_type"]: r["g"]
        for r in e.groupBy("event_type").agg(gm("value").alias("g")).collect()
    }
    want = {
        r["event_type"]: r["g"]
        for r in e.groupBy("event_type")
        .agg(F.exp(F.avg(F.log("value"))).alias("g"))
        .collect()
    }
    assert sorted(got) == sorted(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6, k


def test_pseudonymize_referential_integrity(spark):
    """Same id -> same token across DataFrames (joins survive); rotating
    the salt severs linkability; tokens never collide on the fixture ids."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        pseudonymize,
    )

    a = spark.createDataFrame([(i,) for i in range(50)], "user_id long")
    b = spark.createDataFrame([(i,) for i in range(25, 75)], "user_id long")
    pa = pseudonymize(a, ["user_id"])
    pb = pseudonymize(b, ["user_id"])
    assert pa.join(pb, "user_id").count() == 25  # overlap survives as tokens
    assert pa.select("user_id").distinct().count() == 50  # injective here
    rotated = pseudonymize(a, ["user_id"], salt="release2")
    assert pa.join(rotated, "user_id").count() == 0  # unlinkable


def test_lsh_bucket_delta_refresh_equals_rebuild(spark):
    """CDC-maintained LSH bucket table == full rebuild on the new snapshot
    (signatures are per-doc, so delta refresh is structurally exact), and
    candidates served from the maintained table == the direct path."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 40)
    # new snapshot: drop 0-4, change 5-9 (append a token), add 40-49
    new = (
        d.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 50))
        .unionByName(
            d.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 10)).select(
                "doc_id", F.concat("text", F.lit(" changed")).alias("text")
            )
        )
    )
    old_buckets = dedup.minhash_bucket_table(old)
    refreshed = dedup.refresh_lsh_buckets(old_buckets, old, new)
    rebuilt = dedup.minhash_bucket_table(new)
    assert sorted(map(tuple, refreshed.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    served = sorted(
        map(tuple, dedup.candidates_from_buckets(refreshed).collect())
    )
    direct = sorted(map(tuple, dedup.minhash_lsh_candidates(new).collect()))
    assert served == direct


def test_incremental_dedup_check_matches_full_corpus(spark):
    """The new-vs-old candidate set from the maintained bucket table must
    equal the full-corpus LSH candidates restricted to new x old pairs —
    with planted duplicates across the boundary actually found."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    old = d.filter(F.col("doc_id") < 400)
    # new batch: fresh docs plus exact copies of two old docs (planted dups)
    new = d.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450)).unionByName(
        d.filter(F.col("doc_id") < 2).select(
            (F.col("doc_id") + 10000).alias("doc_id"), "text"
        )
    )
    old_buckets = dedup.minhash_bucket_table(old)
    got = sorted(
        map(tuple, dedup.incremental_dedup_check(new, old_buckets).collect())
    )
    full = dedup.minhash_lsh_candidates(old.unionByName(new))
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    old_ids = {r["doc_id"] for r in old.select("doc_id").collect()}
    want = set()
    for r in full.collect():
        a, b = r["doc_a"], r["doc_b"]
        if a in new_ids and b in old_ids:
            want.add((a, b))
        elif b in new_ids and a in old_ids:
            want.add((b, a))
    assert got == sorted(want)
    # the planted cross-boundary copies must be caught
    caught = {(n, o) for n, o in got}
    assert (10000, 0) in caught and (10001, 1) in caught


def test_pq_adc_exact_for_codebook_exemplars(spark):
    """PQ/ADC invariant: a corpus vector that IS a codebook exemplar encodes
    every subspace to ITSELF (sub-distance 0, and no other entry can beat 0
    with a smaller (d, cid) because d >= 0), so its ADC distance equals the
    FULL integer L2 between the query's codes and its codes — ADC is exact
    on the codebook, approximate off it. Also pins the code shape: PQ_M
    dash-joined codebook ids, all drawn from the hash-selected codebook."""
    import hashlib

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        pq_adc_topk,
        quantize_int8_corpus,
    )

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        PQ_KSUB,
        PQ_M,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    codes = {
        r["vec_id"]: r["codes"]
        for r in quantize_int8_corpus(emb).collect()
    }
    corpus_ids = [i for i in codes if i != 0]

    def md5l(v: int) -> int:
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)

    cb_ids = set(sorted(corpus_ids, key=lambda v: (md5l(v), v))[:PQ_KSUB])
    out = {
        r["vec_id"]: r
        for r in pq_adc_topk(emb, query_id=0, k=len(codes)).collect()
    }
    assert set(out) == set(corpus_ids)
    q = codes[0]
    n_exact = 0
    for vid, r in out.items():
        parts = r["pq_code"].split("-")
        assert len(parts) == PQ_M
        assert all(int(p) in cb_ids for p in parts)
        if vid in cb_ids:
            full_l2 = sum((a - b) * (a - b) for a, b in zip(q, codes[vid]))
            assert r["adc_dist2"] == full_l2, vid
            assert r["pq_code"] == "-".join([str(vid)] * PQ_M)
            n_exact += 1
    assert n_exact == PQ_KSUB


def test_quantize_int8_boundary_parity_spark_vs_duckdb(spark):
    """Boundary sweep of the shared-space int8 quantization
    (floor((x-mn)*255/(mx-mn)+0.5) - 128) on SYNTHETIC vectors engineered
    to land EXACTLY on the floor's half-integer boundaries — with mn=0 and
    mx=255, x = k + 0.5 scales to exactly k + 0.5 in IEEE doubles (the
    multiply by 255 and divide by 255 are both exact here), so floor(v+0.5)
    sits precisely on its discontinuity. Spark, DuckDB, and plain Python
    must agree code-for-code.

    Context (CORRECTNESS_r04 adjudication): the driver's one red,
    ext_cluster_assign, was NOT this arithmetic — on the real sf0.01 data
    the nearest boundary is 5.2e-05 away, nine orders of magnitude beyond
    one ULP. It was the oracle's dist2 returning HUGEINT (arrow
    decimal128 -> pandas float64). This test pins the arithmetic anyway, at
    the exact values where an engine divergence WOULD show."""
    import math

    import duckdb

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        quantize_int8_corpus,
    )

    # 4 dims; rows include the scale anchors (0 and 255 per dim) plus every
    # flavor of boundary value: exact half-integers, integers, and
    # nearest-double neighbors of a half-integer on both sides.
    half = 100.5
    below = math.nextafter(half, -math.inf)
    above = math.nextafter(half, math.inf)
    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),
        (2, [255.0, 255.0, 255.0, 255.0]),
        (3, [0.5, 1.5, 100.5, 254.5]),
        (4, [half, below, above, 127.5]),
        (5, [1.0, 100.0, 200.0, 254.0]),
        (6, [0.25, 99.75, 100.25, 200.5]),
    ]
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: list(r["codes"])
        for r in quantize_int8_corpus(sdf).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE emb (vec_id BIGINT, embedding DOUBLE[])"
    )
    con.executemany("INSERT INTO emb VALUES (?, ?)", rows)
    duck = {
        r[0]: list(r[1])
        for r in con.execute(
            """
            WITH dims AS (
              SELECT i.pos,
                     MIN(CAST(e.embedding[i.pos] AS DOUBLE)) AS mn,
                     MAX(CAST(e.embedding[i.pos] AS DOUBLE)) AS mx
              FROM emb e
              JOIN (SELECT unnest(generate_series(1, 4)) AS pos) i ON TRUE
              GROUP BY i.pos),
            stats AS (SELECT list(mn ORDER BY pos) AS mns,
                             list(mx ORDER BY pos) AS mxs FROM dims)
            SELECT vec_id,
              list_transform(list_zip(embedding, s.mns, s.mxs),
                z -> CASE WHEN z[3] = z[2] THEN 0
                          ELSE CAST(floor((z[1] - z[2]) * 255.0
                               / (z[3] - z[2]) + 0.5) AS INT) - 128 END)
            FROM emb, stats s
            """
        ).fetchall()
    }
    con.close()

    # Plain-Python IEEE reference (mn=0, mx=255 per construction).
    ref = {
        vid: [int(math.floor(x * 255.0 / 255.0 + 0.5)) - 128 for x in v]
        for vid, v in rows
    }
    assert got == duck == ref
    # The engineered boundary rows actually exercise the discontinuity:
    # 100.5 -> floor(101.0) - 128 = -27, its below-neighbor -> -28.
    assert got[4][0] == -27 and got[4][1] == -28 and got[4][2] == -27


def test_served_lsh_default_recall_floor(spark):
    """The r4 verdict's gate: the served LSH tier's DEFAULT (Hamming-1
    multiprobe) must keep recall@5 >= 0.4 — measured 0.6 / 0.4 / 0.6 at
    sf0.001 / 0.01 / 0.1, vs the single-bucket probe's 0.2 / 0.0 / 0.2
    which is exactly why single-bucket is opt-in. Runs at whatever SF the
    suite runs (including the sf0.1 scale sweep)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )

    rows = {
        r["tier"]: r["recall"]
        for r in QUERIES["ext_ann_tier_recall"](spark, SF_DIR).collect()
    }
    assert rows["lsh_served_default"] >= 0.4, rows


def test_ann_lsh_served_vec_rejects_wrong_dim(spark, tmp_path):
    """The request-path LSH entry point must validate the query's length
    against the index dim up front: its bucket arithmetic is driver-side
    (no in-plan lsh_bucket_int8 size guard on this route), so a wrong-dim
    query would otherwise probe arbitrary buckets while cosine's zip_with
    null-pads — silent NULL sims instead of a loud error."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        ann_lsh_served_vec,
        write_vector_index_int8,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vecidx")
    write_vector_index_int8(emb.filter(F.col("vec_id") != 0), path)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx = spark.read.parquet(path)
    assert ann_lsh_served_vec(spark, idx, qv, k=5).count() == 5
    with pytest.raises(ValueError, match="query dim"):
        ann_lsh_served_vec(spark, idx, qv[:-1], k=5)


def test_graph_ops_reject_both_pairs_and_edges(spark):
    """pairs= and edges= are alternative edge sources: supplying BOTH must
    raise (ADVICE r9 — silently preferring edges hides a caller bug),
    mirroring the None/None branch and near_dedup_survivors' contract."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import graph

    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    edges = spark.createDataFrame([(1, 2), (2, 1)], ["a", "b"])
    for fn in (
        lambda: graph.pagerank_int(pairs, edges=edges),
        lambda: graph.pagerank_personalized_int(pairs, edges=edges),
        lambda: graph.bfs_distances(pairs, edges=edges),
        lambda: graph.kcore(pairs, edges=edges),
    ):
        with pytest.raises(ValueError, match="exactly one"):
            fn()


def test_ngram_jaccard_rejects_shingle_n_with_precomputed_hashes(spark):
    """shingle_n is derived at hash-build time: combining a non-default n
    with shingle_hashes= would silently compute Jaccard over hashes built
    at a DIFFERENT n (ADVICE r9) — must raise instead."""
    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.pipeline import (
        _shingle_hashes,
    )

    sh = _shingle_hashes(d, "doc_id", "text", 3)
    with pytest.raises(ValueError, match="shingle_n is ignored"):
        dedup.ngram_jaccard_pairs(d, pairs, shingle_n=4, shingle_hashes=sh)
    # the default n with precomputed hashes stays the supported fast path
    assert dedup.ngram_jaccard_pairs(d, pairs, shingle_hashes=sh).count() == 1
