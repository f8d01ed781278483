"""Search subsystem tests: API surface (the reference's three REST endpoints),
bucketed index persistence, and ranking invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
    search_hashtag,
    search_keyword,
    search_user,
    tokenize_query,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
    bm25_search,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
    SearchService,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
    build_index,
    read_index,
    write_index,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def index(spark, docs):
    return build_index(docs, cache=True)


def test_keyword_search_envelope(spark, docs, index):
    """R1+R8: free-text query -> BM25 top-k joined to docs -> the served
    envelope (reference ``api/Handler.java:33-74``): its tweets are
    search_keyword's rows, in order."""
    env = SearchService(spark, index, docs, k=10).query("spark join")
    assert env["status_code"] == 200 and env["message"] == "Success"
    assert 0 < env["count"] == len(env["data"]) <= 10
    tweets = [h["tweet"] for h in env["data"]]
    hits = search_keyword(spark, index, docs, None, "spark join", k=10).collect()
    assert tweets == [r.asDict(recursive=True) for r in hits]
    # every hit carries both score and the full document row, ranked descending
    assert all({"score", "text", "doc_id"} <= set(t) for t in tweets)
    scores = [t["score"] for t in tweets]
    assert scores == sorted(scores, reverse=True)


def test_keyword_search_user_join(spark, docs, index):
    """J1: hits joined to a user dimension via broadcast (replaces the
    reference's N+1 Solr loop)."""
    users = load_table(spark, SF_DIR, "customer")
    d = docs.withColumn("owner", (F.col("doc_id") % 100) + 1)
    hits = search_keyword(
        spark, index, d, users, "spark", k=5, doc_user_key=("owner", "c_custkey")
    )
    rows = hits.collect()
    assert rows and all(r["c_name"] is not None for r in rows)


def test_hashtag_search(spark, docs):
    """R3: array_contains exact match, time-desc, rows<=1000."""
    tagged = docs.withColumn("hashtags", F.split("text", " "))
    out = search_hashtag(tagged, "spark", tags_col="hashtags", order_col="doc_id")
    rows = out.select("doc_id").collect()
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids, reverse=True)
    assert len(ids) <= 1000
    # parity with the declared q21 predicate
    want = docs.filter(F.array_contains(F.split("text", " "), "spark")).count()
    assert len(ids) == min(want, 1000)


def test_user_search(spark):
    """R4: exact-name lookup -> their events time-desc (reference
    ``SolrRanker.java:120-160``)."""
    users = load_table(spark, SF_DIR, "customer")
    events = load_table(spark, SF_DIR, "events")
    out = search_user(
        users, events, "Customer#000000001",
        name_col="c_name", user_key="c_custkey",
        item_user_key="user_id", time_col="ts", k=1000,
    )
    rows = out.select("ts").collect()
    ts = [r["ts"] for r in rows]
    assert ts == sorted(ts, reverse=True)


def test_tokenize_query_matches_engine_analyzer(spark):
    """Driver-side query tokenizer must agree with the corpus analyzer."""
    q = "Hash-Join! AND  spark's"
    py = tokenize_query(q)
    from job_search_engine_using_pyspark_solar_and_angular_spark.functions.text import (
        tokenize_normalized,
    )

    jvm = spark.createDataFrame([(q,)], "t string").select(
        tokenize_normalized(F.lower(F.col("t"))).alias("tk")
    ).collect()[0]["tk"]
    assert py == jvm


def test_index_write_read_roundtrip(spark, docs, index, tmp_path):
    """S8 analog: token-sorted postings persisted as plain parquet, read
    back by path; search over the materialized index returns identical
    results to the in-memory one."""
    base = str(tmp_path / "idx")
    write_index(index, base, buckets=8)
    back = read_index(spark, base)
    fresh = bm25_search(spark, index, ["spark", "join"], k=10).collect()
    persisted = bm25_search(spark, back, ["spark", "join"], k=10).collect()
    assert [tuple(r) for r in fresh] == [tuple(r) for r in persisted]


def test_punctuated_query_matches(spark, docs, index):
    """The query analyzer must normalize like the corpus analyzer: a
    punctuated query still hits."""
    clean = search_keyword(spark, index, docs, None, "spark join", k=10).collect()
    punct = search_keyword(spark, index, docs, None, "  Spark, JOIN!", k=10).collect()
    assert [tuple(r) for r in clean] == [tuple(r) for r in punct]


def test_dual_field_search(spark):
    """R1 dual-field OR semantics (``tweetText OR tweetMediaText``): a term
    present only in the media-text field still scores the document."""
    df = spark.createDataFrame(
        [
            (1, "plain words here", "ocr found hiring poster"),
            (2, "more plain words", None),
            (3, "hiring mentioned in text", ""),
        ],
        "doc_id long, text string, media_text string",
    )
    idx = build_index(df, text_col=["text", "media_text"])
    hits = {r["doc_id"] for r in bm25_search(spark, idx, ["hiring"], k=10).collect()}
    assert hits == {1, 3}


def test_incremental_refresh_equals_full_rebuild(spark, docs):
    """refresh_index(old ∪ updates) must equal build_index(final corpus):
    searches over both give identical results — the D2 idempotence property
    lifted to the search index."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        refresh_index,
    )

    first = docs.filter(F.col("doc_id") % 3 != 0)
    # updates: the held-out third, plus re-ingestion of some existing docs
    # with CHANGED text (must replace, not duplicate, their postings)
    changed = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        docs.filter((F.col("doc_id") % 10 == 1) & (F.col("doc_id") % 3 != 0)).withColumn(
            "text", F.concat(F.col("text"), F.lit(" refreshed spark"))
        )
    )
    final_corpus = docs.filter(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 10 != 1)
    ).unionByName(
        docs.filter((F.col("doc_id") % 10 == 1) & (F.col("doc_id") % 3 != 0)).withColumn(
            "text", F.concat(F.col("text"), F.lit(" refreshed spark"))
        )
    )

    refreshed = refresh_index(build_index(first), changed)
    rebuilt = build_index(final_corpus)
    a = bm25_search(spark, refreshed, ["spark", "join"], k=10).collect()
    b = bm25_search(spark, rebuilt, ["spark", "join"], k=10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bm25_scores_positive_and_tie_broken(spark, index):
    res = bm25_search(spark, index, ["spark"], k=10).collect()
    assert all(r["score"] > 0 for r in res)
    # doc_id ascending within equal scores
    for a, b in zip(res, res[1:]):
        if a["score"] == b["score"]:
            assert a["doc_id"] < b["doc_id"]


def test_delta_refresh_handles_adds_changes_and_removes(spark, docs):
    """delta_refresh(index(old), old, new) == build_index(new), postings-
    for-postings — including REMOVED docs, which refresh_index can't drop."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        delta_refresh,
    )

    old = docs.filter(F.col("doc_id") % 7 != 0)  # %7==0 will be "added"
    new = (
        docs.filter(F.col("doc_id") % 5 != 0)    # %5==0 & %7!=0 -> "removed"
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,        # some docs "changed"
                F.concat(F.col("text"), F.lit(" deltaedit spark")),
            ).otherwise(F.col("text")),
        )
    )
    refreshed = delta_refresh(build_index(old), old, new)
    rebuilt = build_index(new)
    a = sorted(tuple(r) for r in refreshed.postings.collect())
    b = sorted(tuple(r) for r in rebuilt.postings.collect())
    assert a == b
    x = bm25_search(spark, refreshed, ["spark", "join"], k=10).collect()
    y = bm25_search(spark, rebuilt, ["spark", "join"], k=10).collect()
    assert [tuple(r) for r in x] == [tuple(r) for r in y]


def test_tfidf_keywords_surface_rare_terms(spark):
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
        tfidf_keywords,
    )

    df = spark.createDataFrame(
        [
            (1, "common common zyzzyva common common"),
            (2, "common words only common words"),
            (3, "common qwyjibo qwyjibo common"),
        ],
        ["doc_id", "text"],
    )
    kw = {r.doc_id: r.keywords for r in tfidf_keywords(df, k=2).collect()}
    assert kw[1][0] == "zyzzyva"  # unique rare term dominates tf*idf
    assert kw[3][0] == "qwyjibo"
    assert all(len(v) <= 2 for v in kw.values())


def test_phrase_from_served_index_matches_direct(spark, tmp_path):
    """Phrase search against the persisted positional postings must
    return exactly what the in-session phrase query returns: the
    oracle-checked ext_phrase_search rows, and the /phrase route's."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_positional_postings,
        phrase_from_postings,
        write_positional,
    )

    d = load_table(spark, SF_DIR, "documents")
    write_positional(build_positional_postings(d), str(tmp_path / "pos"), buckets=8)
    served = spark.read.parquet(str(tmp_path / "pos"))
    got = sorted(map(tuple, phrase_from_postings(served, ["window", "join"]).collect()))
    want = sorted(map(tuple, QUERIES["ext_phrase_search"](spark, SF_DIR).collect()))
    assert got == want and len(got) > 0
    route = SearchService(spark, None, d).phrase("window join")["data"]
    assert sorted((r["doc_id"], r["n_occurrences"]) for r in route) == want
    plan = phrase_from_postings(served, ["window", "join"])._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan  # a real join ran


def test_related_docs_envelope(spark):
    """MLT endpoint: related docs for doc 1 — k rows, full doc columns, the
    target itself excluded."""
    docs = load_table(spark, SF_DIR, "documents")
    env = SearchService(spark, build_index(docs), docs).related(1, k=5)
    assert env["count"] == 5 and env["status_code"] == 200
    assert all(row["doc_id"] != 1 for row in env["data"])
    assert all("text" in row and "sim" in row for row in env["data"])


def test_search_hybrid_contains_both_modalities(spark):
    """Hybrid fusion: the fused top-k must carry ranks from at least one of
    the two sources per row, and any doc ranked top-3 by BOTH sources must
    appear in the fused top-k."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        search_hybrid,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    out = search_hybrid(
        spark, build_index(docs, cache=True), emb, "spark join", 0, k=10, pool=20
    ).collect()
    assert 0 < len(out) <= 10
    assert all(r["rb"] is not None or r["rv"] is not None for r in out)
    both_top3 = [r["doc_id"] for r in out if (r["rb"] or 99) <= 3 and (r["rv"] or 99) <= 3]
    fused_ids = {r["doc_id"] for r in out}
    assert all(d in fused_ids for d in both_top3)

def test_search_vector_served_envelope(spark, tmp_path):
    """Vector search request path: on-disk LSH index, attached to the
    served index as its ``vectors`` keyed by doc_id -> multiprobe query ->
    top-k -> REST envelope; its rows must equal the in-session
    ext_ann_lsh_multiprobe registry query (same probes, same ranking)."""
    from dataclasses import replace

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        write_vector_index_int8,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "vecidx")
    write_vector_index_int8(emb.filter(F.col("vec_id") != 0), path)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    docs = load_table(spark, SF_DIR, "documents")
    vectors = spark.read.parquet(path).withColumnRenamed("vec_id", "doc_id")
    svc = SearchService(spark, replace(build_index(docs), vectors=vectors), docs, k=5)
    env = svc.vector(qvec)
    assert env["status_code"] == 200 and env["count"] == 5
    got = [(r["doc_id"], r["sim"]) for r in env["data"]]
    want = [
        (r["vec_id"], r["sim"])
        for r in QUERIES["ext_ann_lsh_multiprobe"](spark, SF_DIR).collect()
    ]
    assert got == want


def test_search_hybrid_served_from_both_indexes(spark, tmp_path):
    """The fully-served hybrid over one resolved snapshot: BM25 from its
    posting lists fused with multiprobe vector search over its vectors.
    RRF scores and ranks must equal a manual recomputation from the two
    rankings of the same snapshot, the result must be non-trivial on both
    legs, and a request runs 1 Spark job: the keyword leg ranks in one
    task, with no shuffle or broadcast of its own (with the batch-shaped
    keyword leg it ran 4; re-reading both indexes by path per request
    ran 10)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        ann_lsh_served_vec,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
    from job_search_engine_using_pyspark_solar_and_angular_spark.search import serve_loop
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        search_hybrid_served,
    )

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    batch = docs.select("doc_id", "text").join(
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        ),
        "doc_id",
    )
    base = str(tmp_path / "serving")
    serve_loop.serve_batch(spark, batch, base, "hybrid", vec_col="embedding", postings_buckets=4)
    idx = serve_loop.read_served_index(spark, base)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    search_hybrid_served(spark, idx, "spark join", qvec, k=10, pool=20).collect()  # warm
    with profiled("one served hybrid request") as led:
        fused = search_hybrid_served(spark, idx, "spark join", qvec, k=10, pool=20).collect()
    assert len(fused) == 10
    assert led.jobs == 1

    bm_rank = {
        r["doc_id"]: i
        for i, r in enumerate(
            bm25_search(spark, idx, ["spark", "join"], k=20).collect(), start=1
        )
    }
    v_rank = {
        r["doc_id"]: i
        for i, r in enumerate(
            ann_lsh_served_vec(spark, idx.vectors, qvec, k=20, id_col="doc_id").collect(),
            start=1,
        )
    }
    for r in fused:
        assert (r["rb"], r["rv"]) == (bm_rank.get(r["doc_id"]), v_rank.get(r["doc_id"]))
        want = 0.0
        if r["doc_id"] in bm_rank:
            want += 1.0 / (60 + bm_rank[r["doc_id"]])
        if r["doc_id"] in v_rank:
            want += 1.0 / (60 + v_rank[r["doc_id"]])
        assert abs(r["rrf"] - round(want, 6)) < 1e-9, r
    assert any(d in bm_rank for d in (r["doc_id"] for r in fused))
    assert any(d in v_rank for d in (r["doc_id"] for r in fused))

def test_search_with_query_correction(spark):
    """Did-you-mean: a misspelled query ('spak jion') corrects against the
    index vocabulary and returns EXACTLY the results of the clean query;
    in-vocabulary terms pass through; hopeless terms pass through
    unchanged."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        search_keyword_corrected,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
        bm25_search,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    idx = build_index(docs, cache=True)

    # 'spak' is one insertion from 'spark'; 'jion' is a TRANSPOSITION
    # (lev 2) from 'join' -> exercises the depth-2 delete-set path
    res, corrected = search_keyword_corrected(
        spark, idx, "spak jion", k=10, max_dist=2
    )
    assert corrected == ["spark", "join"]

    # a 2-DELETION typo ('spk' -> 'spark') also corrects at depth 2 but
    # passes through unchanged at the default depth 1
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        correct_query_terms,
    )

    assert correct_query_terms(spark, idx, ["spk"], max_dist=2) == ["spark"]
    assert correct_query_terms(spark, idx, ["spk"], max_dist=1) == ["spk"]
    got = [(r["doc_id"], r["score"]) for r in res.collect()]
    want = [
        (r["doc_id"], r["score"])
        for r in bm25_search(spark, idx, ["spark", "join"], k=10).collect()
    ]
    assert got == want and len(got) == 10

    _, passthru = search_keyword_corrected(spark, idx, "spark zzzzqqq", k=5)
    assert passthru[0] == "spark" and passthru[1] == "zzzzqqq"


def test_keyset_paging_constant_cost_and_exact(spark):
    """bm25_search's keyset cursor (after=(score, doc_id)) pages at
    CONSTANT per-page cost: the executed plan keeps limit=k (a
    TakeOrderedAndProject of k) with the cursor as a plain filter —
    offset paging instead deepens the pool to start+k. Pages stitched via
    the cursor must reproduce the unpaged ranking exactly."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import (
        load_table,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
        bm25_search,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    idx = build_index(docs, cache=True)

    full = [
        (r["doc_id"], r["score"])
        for r in bm25_search(spark, idx, ["spark", "join"], k=9).collect()
    ]
    assert len(full) == 9

    pages, cursor = [], None
    for _ in range(3):
        page_df = bm25_search(spark, idx, ["spark", "join"], k=3, after=cursor)
        plan = page_df._jdf.queryExecution().executedPlan().toString()
        # the page plan's top-k stays k — never offset+k
        assert "TakeOrderedAndProject(limit=3" in plan, plan
        rows = [(r["doc_id"], r["score"]) for r in page_df.collect()]
        assert len(rows) == 3
        pages.extend(rows)
        cursor = (rows[-1][1], rows[-1][0])
    assert pages == full


def test_start_with_after_rejected(spark):
    """search_keyword refuses start+after together: they define different
    page boundaries, and the pre-r9 behavior silently ignored start —
    a hidden caller bug (ADVICE r8). The HTTP handler surfaces the
    rejection as the error envelope."""
    import pytest

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import (
        load_table,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        search_keyword,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    idx = build_index(docs, cache=True)
    with pytest.raises(ValueError, match="mutually exclusive"):
        search_keyword(
            spark, idx, docs, None, "spark join",
            start=3, after=(1.2345, 7),
        )
