"""Live HTTP serving surface tests: real sockets against the stdlib
threading server (``search/http_server.py``) — the reference's
``api/Handler.java`` controller + the Angular client contract
(``crud.service.ts``): envelope field names, ``{user,tweet}`` pairing,
in-band error convention, CORS header, concurrent GETs."""

from __future__ import annotations

import json
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
    SearchService,
    serve,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
    build_index,
)

from .conftest import SF_DIR, persisted_rdd_ids


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, dict(resp.headers), json.loads(resp.read())


@pytest.fixture(scope="module")
def service(spark):
    # cache only DERIVED plans (extra columns), never a bare load_table
    # result: the shared session's cache manager substitutes a cached
    # relation into ANY later matching plan, and a cached raw `customer`
    # scan would break the parquet-pushdown plan pins in test_plans.py.
    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn("owner", (F.col("doc_id") % 100) + 1)
        .withColumn("hashtags", F.split("text", " "))
        .cache()
    )
    users = load_table(spark, SF_DIR, "customer")
    yield SearchService(
        spark,
        build_index(docs, cache=True),
        docs,
        users=users,
        doc_user_key=("owner", "c_custkey"),
        user_name_col="c_name",
        doc_time_col="doc_id",
        tags_col="hashtags",
    )
    docs.unpersist()


@pytest.fixture(scope="module")
def server(service):
    with serve(service) as handle:
        yield handle


def test_query_route_envelope(server, service):
    """Handler.java:33-74: the query route's envelope — count, data as
    {user,tweet} pairs, in-band status_code/message — over a real socket,
    byte-identical to the direct service call."""
    status, headers, body = _get(
        server.url + "/api/search/query?query=" + quote("spark join")
    )
    assert status == 200
    assert headers["Content-Type"] == "application/json"
    assert headers["Access-Control-Allow-Origin"] == "*"  # @CrossOrigin("*")
    assert body["status_code"] == 200 and body["message"] == "Success"
    assert body["count"] == len(body["data"]) > 0
    for hit in body["data"]:
        assert set(hit) == {"tweet", "user"}
        assert "score" in hit["tweet"] and "doc_id" in hit["tweet"]
        assert hit["user"] is not None and "c_name" in hit["user"]
    scores = [h["tweet"]["score"] for h in body["data"]]
    assert scores == sorted(scores, reverse=True)
    direct = service.query("spark join")
    assert json.loads(json.dumps(direct, default=str)) == body


def test_hashtag_route(server):
    """Handler.java:76-117: exact-match tag search, time-desc ids."""
    status, _, body = _get(server.url + "/api/search/hashtag?tag=spark")
    assert status == 200 and body["status_code"] == 200
    ids = [h["tweet"]["doc_id"] for h in body["data"]]
    assert ids and ids == sorted(ids, reverse=True)


def test_user_route(server, service):
    """Handler.java:119-161: one user object + their items under tweets."""
    # owner = doc_id % 100 + 1 ∈ 1..100; c_custkey starts at 0, so pick a
    # user that actually owns documents.
    name = service.users.filter(F.col("c_custkey") == 1).first()["c_name"]
    status, _, body = _get(server.url + "/api/search/user?id=" + quote(name))
    assert status == 200 and body["status_code"] == 200
    assert body["user"]["c_name"] == name
    assert body["count"] == len(body["tweets"])
    ids = [t["doc_id"] for t in body["tweets"]]
    assert ids == sorted(ids, reverse=True)


def test_unknown_route_404(server):
    """Only a route OUTSIDE the controller surface is a real HTTP 404."""
    with pytest.raises(urllib.error.HTTPError) as exc:
        _get(server.url + "/api/search/nope?x=1")
    assert exc.value.code == 404
    with pytest.raises(urllib.error.HTTPError):
        _get(server.url + "/other")


def test_error_is_in_band(server):
    """Handler.java:66-72: failures return HTTP 200 with status_code=500 in
    the body (the Angular client reads the envelope, not the HTTP status).
    The vector route is unconfigured on this service -> in-band error."""
    status, _, body = _get(server.url + "/api/search/vector?vec=0.1,0.2")
    assert status == 200
    assert body["status_code"] == 500
    assert body["message"] == "Internal Server Error"


def test_extension_routes(server):
    status, _, body = _get(server.url + "/api/search/autocomplete?prefix=sp")
    assert status == 200 and body["status_code"] == 200
    assert all(h["token"].startswith("sp") for h in body["data"])
    status, _, body = _get(server.url + "/api/search/suggest?prev=spark")
    assert status == 200 and body["status_code"] == 200
    for h in body["data"]:
        assert 0.0 < h["p"] <= 1.0


def test_phrase_related_facets_routes(server):
    """The remaining Lucene-surface capabilities over the socket: phrase
    (positional postings), More-Like-This, facet counts."""
    status, _, body = _get(
        server.url + "/api/search/phrase?q=" + quote("window join")
    )
    assert status == 200 and body["status_code"] == 200
    for h in body["data"]:
        assert h["n_occurrences"] >= 1

    status, _, body = _get(server.url + "/api/search/related?doc_id=1")
    assert status == 200 and body["status_code"] == 200
    assert body["count"] > 0
    sims = [h["sim"] for h in body["data"]]
    assert sims == sorted(sims, reverse=True)
    assert all(h["doc_id"] != 1 for h in body["data"])

    status, _, body = _get(
        server.url + "/api/search/facets?query=spark&cols=lang,source&top=3"
    )
    assert status == 200 and body["status_code"] == 200
    facets = {h["facet"] for h in body["data"]}
    assert facets == {"lang", "source"}
    assert all(h["rn"] <= 3 for h in body["data"])

    # malformed doc_id -> in-band 500, never a stack trace
    status, _, body = _get(server.url + "/api/search/related?doc_id=abc")
    assert status == 200 and body["status_code"] == 500


def test_concurrent_requests(server):
    """ThreadingHTTPServer + Spark's thread-safe action submission: four
    concurrent GETs across three routes all come back green."""
    urls = [
        server.url + "/api/search/query?query=spark",
        server.url + "/api/search/hashtag?tag=join",
        server.url + "/api/search/autocomplete?prefix=a",
        server.url + "/api/search/query?query=" + quote("window join"),
    ]
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(_get, urls))
    for status, _, body in results:
        assert status == 200 and body["status_code"] == 200


def test_queries_race_refresh_swaps(spark):
    """refresh()'s atomic-swap claim under load, with a TORN-SNAPSHOT
    detector: two full generations (index+docs) are built over DISJOINT
    doc_id spaces, both containing the probe term. search_keyword joins
    hits back to docs on doc_id (inner), so a request that paired
    generation A's index with generation B's docs would return count 0 —
    only a coherent snapshot returns hits. A swapper thread flips whole
    generations while requests hammer the query route; every response
    must be an in-band 200 with count > 0."""
    import threading

    def _gen(base_id):
        docs = spark.createDataFrame(
            [
                (base_id + 1, "quorum consensus replicates the commit log"),
                (base_id + 2, "quorum reads trade latency for freshness"),
            ],
            "doc_id long, text string",
        )
        return build_index(docs, cache=True), docs

    gen_a = _gen(0)
    gen_b = _gen(1000)
    svc = SearchService(spark, gen_a[0], gen_a[1], k=5)

    stop = threading.Event()
    swaps = {"n": 0}

    def swapper():
        while not stop.is_set():
            idx, docs = gen_b if swaps["n"] % 2 else gen_a
            svc.refresh(index=idx, docs=docs)
            swaps["n"] += 1

    t = threading.Thread(target=swapper, daemon=True)
    t.start()
    try:
        with serve(svc) as handle:
            urls = [handle.url + "/api/search/query?query=quorum"] * 12
            with ThreadPoolExecutor(4) as pool:
                results = list(pool.map(_get, urls))
    finally:
        stop.set()
        t.join(timeout=10)
    assert swaps["n"] > 0
    for status, _, body in results:
        assert status == 200 and body["status_code"] == 200 and body["count"] > 0
        ids = {h["tweet"]["doc_id"] for h in body["data"]}
        # all hits from ONE generation — never a torn mix
        assert ids <= {1, 2} or ids <= {1001, 1002}


def test_query_route_pagination(server):
    """Skip/limit on the query route (the params the reference controller
    accepted but ignored, Handler.java:34) — both paging models page
    through a >page-size result set deterministically over a real socket:

    * offset (`start`/`rows`, Solr-style): concatenated pages must equal
      the unpaged ranking exactly;
    * keyset (`after_score`/`after_doc` from the response's `next_after`
      cursor): same pages, constant per-page cost (the limit never
      deepens to offset+rows)."""
    base = server.url + "/api/search/query?query=spark"
    _, _, full = _get(base + "&rows=12")
    assert full["status_code"] == 200 and full["count"] > 6, "need >2 pages"
    ranking = [(h["tweet"]["doc_id"], h["tweet"]["score"]) for h in full["data"]]

    # offset paging: 3 rows per page
    paged = []
    for start in range(0, len(ranking), 3):
        _, _, body = _get(base + f"&start={start}&rows=3")
        assert body["status_code"] == 200
        paged.extend((h["tweet"]["doc_id"], h["tweet"]["score"]) for h in body["data"])
    assert paged == ranking

    # keyset paging: follow the next_after cursor
    keyset = []
    cursor = ""
    while len(keyset) < len(ranking):
        _, _, body = _get(base + "&rows=3" + cursor)
        assert body["status_code"] == 200
        if not body["data"]:
            break
        keyset.extend((h["tweet"]["doc_id"], h["tweet"]["score"]) for h in body["data"])
        nxt = body["next_after"]
        cursor = f"&after_score={nxt['score']}&after_doc={nxt['doc_id']}"
    assert keyset == ranking

    # an unpaged request keeps the reference envelope exactly (no cursor)
    _, _, plain = _get(base)
    assert "next_after" not in plain and plain["count"] > 0


def test_facets_route_pagination(server):
    """start/rows page the (facet, rn)-ordered facet rows."""
    base = server.url + "/api/search/facets?query=spark&cols=lang,source&top=4"
    _, _, full = _get(base)
    assert full["count"] > 3
    rows = [(h["facet"], h["rn"], h["value"]) for h in full["data"]]
    ordered = sorted(rows)
    paged = []
    for start in range(0, len(rows), 3):
        _, _, body = _get(base + f"&start={start}&rows=3")
        assert body["status_code"] == 200
        paged.extend((h["facet"], h["rn"], h["value"]) for h in body["data"])
    assert paged == ordered


def test_docs_users_column_overlap_rejected(spark):
    """_split_tweet_user classifies joined-row fields by users-schema
    membership, so a shared column name would silently move a doc field
    under `user` (Row.asDict keeps one value per name). The snapshot
    constructor rejects the overlap up front — at construction AND on any
    refresh that would introduce it."""
    docs = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, name string")
    users = spark.createDataFrame([(1, "u")], "uid long, name string")
    with pytest.raises(ValueError, match="disjoint.*name"):
        SearchService(spark, None, docs, users=users, doc_user_key=("doc_id", "uid"))
    ok = SearchService(
        spark,
        None,
        docs.drop("name"),
        users=users,
        doc_user_key=("doc_id", "uid"),
    )
    with pytest.raises(ValueError, match="disjoint.*name"):
        ok.refresh(docs=docs)
    # the failed refresh must not have torn the served generation
    assert ok.docs.columns == ["doc_id", "text"]


def test_refresh_across_index_publish_without_restart(spark, tmp_path):
    """DEPLOY.md §8's operational claim, pinned end-to-end: the HTTP
    endpoint keeps serving across a serve-loop index publish. Batch 0 is
    indexed and served; a query for batch-1 vocabulary returns count 0,
    and /vector does not find the batch-1 doc's embedding; the serve loop
    publishes batch 1; ``SearchService.refresh`` swaps the re-resolved
    served index on the LIVE server (same socket, no restart); both
    routes now hit — the vector tier is part of the snapshot."""
    import math

    from job_search_engine_using_pyspark_solar_and_angular_spark.search import (
        serve_loop,
    )

    docs0 = [
        (1, "spark shuffles partition data across executors for wide joins"),
        (2, "parquet stores columns together enabling predicate pushdown"),
    ]
    docs1 = [(3, "zeppelin notebooks orchestrate interactive analysis sessions")]

    def _emb(doc_id):
        return [math.sin(0.1 * doc_id + 0.3 * d) for d in range(64)]

    def _df(rows):
        return spark.createDataFrame(
            [(i, t, _emb(i)) for i, t in rows],
            "doc_id long, text string, embedding array<double>",
        )

    def _batch(rows):
        serve_loop.serve_batch(
            spark, _df(rows), base, prefix, vec_col="embedding", postings_buckets=4
        )

    base = str(tmp_path / "serving")
    prefix = "http_rt_" + tmp_path.name.replace("-", "_").lower()
    _batch(docs0)

    svc = SearchService(
        spark, serve_loop.read_served_index(spark, base), _df(docs0), k=5
    )
    with serve(svc) as handle:
        url = handle.url + "/api/search/query?query="
        vec_url = handle.url + "/api/search/vector?vec=" + ",".join(map(repr, _emb(3)))
        _, _, body = _get(url + "zeppelin")
        assert body["status_code"] == 200 and body["count"] == 0
        _, _, body = _get(url + "pushdown")
        assert body["count"] == 1 and body["data"][0]["tweet"]["doc_id"] == 2
        _, _, body = _get(vec_url)
        assert body["status_code"] == 200
        assert 3 not in {h["doc_id"] for h in body["data"]}

        _batch(docs1)
        _, _, body = _get(vec_url)  # published, not yet refreshed
        assert 3 not in {h["doc_id"] for h in body["data"]}
        svc.refresh(
            index=serve_loop.read_served_index(spark, base),
            docs=_df(docs0 + docs1),
        )

        _, _, body = _get(url + "zeppelin")  # same socket, no restart
        assert body["count"] == 1 and body["data"][0]["tweet"]["doc_id"] == 3
        _, _, body = _get(url + "pushdown")  # old corpus still served
        assert body["count"] == 1 and body["data"][0]["tweet"]["doc_id"] == 2
        _, _, body = _get(vec_url)
        assert body["data"][0]["doc_id"] == 3 and body["data"][0]["sim"] == 1.0


@pytest.fixture(scope="module")
def vector_service(spark, tmp_path_factory):
    """The vector route over a real on-disk LSH index of the embeddings,
    attached to the served index as its ``vectors`` (keyed by doc_id), and
    the first embedding as a query."""
    from dataclasses import replace

    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
        write_vector_index_int8,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path_factory.mktemp("vec") / "vecidx")
    write_vector_index_int8(emb, path)
    docs = load_table(spark, SF_DIR, "documents")
    vectors = spark.read.parquet(path).withColumnRenamed("vec_id", "doc_id")
    index = replace(build_index(docs), vectors=vectors)
    qv = emb.orderBy("vec_id").first()["embedding"]
    return SearchService(spark, index, docs, k=5), qv


def test_vector_route(vector_service):
    """The vector extension route against a real on-disk LSH index; a
    query shorter than the index's dim gets the in-band error envelope,
    not rows with null sims."""
    svc, qv = vector_service
    with serve(svc) as handle:
        url = handle.url + "/api/search/vector?k=5&vec="
        status, _, body = _get(url + ",".join(f"{x:.6f}" for x in qv))
        short_status, _, short = _get(url + ",".join(f"{x:.6f}" for x in qv[:10]))
    assert status == 200 and body["status_code"] == 200
    assert body["count"] == len(body["data"]) == 5
    sims = [h["sim"] for h in body["data"]]
    assert sims == sorted(sims, reverse=True)
    assert body["data"][0]["sim"] >= 0.99  # the query vector finds itself
    assert short_status == 200
    assert short == {"status_code": 500, "message": "Internal Server Error"}


def test_served_vector_request_job_count(spark, vector_service):
    """Deterministic cost counter for one served vector request, like the
    keyword pin below: 1 Spark job — the probed buckets' top-k (the query
    is bucketed driver-side and pruned statically, and the snapshot holds
    the resolved relation). Reading the index by path per request ran 2;
    bucketing the query in-plan ran 5. A query of the wrong length is
    rejected before any job, and still gets the error envelope."""
    svc, qv = vector_service
    svc.vector(qv)  # warm: the same jobs, first-call planning
    with profiled("one served vector request") as led:
        body = svc.vector(qv)
    assert body["count"] == 5 and body["data"][0]["sim"] >= 0.99
    assert led.jobs == 1

    # the handler thread is outside any job group: count the scheduler's jobs
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    with serve(svc) as handle:
        first_job = scheduler.nextJobId()
        _, _, short = _get(
            handle.url + "/api/search/vector?vec=" + ",".join(map(repr, qv[:10]))
        )
        assert scheduler.nextJobId() == first_job
    assert short == {"status_code": 500, "message": "Internal Server Error"}


def test_failed_request_is_logged_and_keeps_the_envelope(server, caplog):
    """A route that raises is logged once, with its traceback, through the
    module's logger — and still answers the reference's in-band error body
    (HTTP 200, status_code 500). The access log goes to DEBUG."""
    import logging

    name = "job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server"
    with caplog.at_level(logging.DEBUG, logger=name):
        status, _, body = _get(server.url + "/api/search/vector?vec=0.1,0.2")
    assert status == 200
    assert body == {"status_code": 500, "message": "Internal Server Error"}
    mine = [r for r in caplog.records if r.name == name]
    errors = [r for r in mine if r.levelno >= logging.ERROR]
    assert len(errors) == 1
    assert errors[0].exc_info is not None and errors[0].exc_info[0] is ValueError
    assert "/api/search/vector" in errors[0].getMessage()
    assert any(
        r.levelno == logging.DEBUG and "GET /api/search/vector" in r.getMessage()
        for r in mine
    )


# two served segments: doc 1 replaced in segment 2 (a live tombstone), doc 9
# new in segment 2 with a user_id that has no users row
_SEG1 = [
    (1, "kafka stream ingest kafka offsets commit"),
    (2, "kafka consumer groups rebalance partitions"),
    (3, "stream joins need watermarks on both kafka sides"),
    (4, "batch jobs read parquet not kafka"),
    (5, "kafka kafka kafka retention tuning"),
    (6, "exactly once kafka stream sinks"),
    (7, "kafka connect moves tables into topics"),
]
_SEG2 = [
    (1, "kafka replaced text for the first doc stream"),
    (9, "kafka schema registry for stream contracts"),
]


def _served_two_phase(spark, tmp_path):
    from job_search_engine_using_pyspark_solar_and_angular_spark.search import (
        serve_loop,
    )

    def _df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    base = str(tmp_path / "serving")
    prefix = "http_tp_" + tmp_path.name.replace("-", "_").lower()
    serve_loop.serve_batch(spark, _df(_SEG1), base, prefix, postings_buckets=4)
    serve_loop.serve_batch(spark, _df(_SEG2), base, prefix, postings_buckets=4)
    latest = dict(_SEG1)
    latest.update(dict(_SEG2))
    docs_path, users_path = str(tmp_path / "docs"), str(tmp_path / "users")
    spark.createDataFrame(
        [(i, t, 100 + i, t.split()[:2]) for i, t in sorted(latest.items())],
        "doc_id long, text string, user_id long, tags array<string>",
    ).write.parquet(docs_path)
    spark.createDataFrame(
        [(100 + i, f"user{i}", i % 2 == 0) for i in range(1, 8)],  # no uid 109
        "uid long, screen_name string, verified boolean",
    ).write.parquet(users_path)
    return SearchService(
        spark,
        serve_loop.read_served_index(spark, base),
        spark.read.parquet(docs_path),
        users=spark.read.parquet(users_path),
        doc_user_key=("user_id", "uid"),
        user_name_col="screen_name",
        k=3,
    )


def test_two_phase_envelope_equals_one_plan_join(spark, tmp_path):
    """SearchService.query ranks, collects the page, then fetches its doc
    and user rows. Its envelope must be byte-identical to the one built
    from search_keyword's one-plan join — for an unpaged request, a
    ``start`` page and an ``after`` page, over a served index with a live
    tombstone and a doc whose user is missing."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
        _ok,
        _split_tweet_user,
        search_keyword,
    )

    svc = _served_two_phase(spark, tmp_path)

    def one_plan(query, start=0, rows=None, after=None):
        df = search_keyword(
            spark, svc.index, svc.docs, svc.users, query,
            k=rows if rows is not None else svc.k,
            doc_user_key=svc.doc_user_key, start=start, after=after,
        )
        data = [
            _split_tweet_user(r.asDict(recursive=True), svc._user_cols)
            for r in df.collect()
        ]
        out = {"count": len(data), "data": data}
        if (start > 0 or rows is not None or after is not None) and data:
            last = data[-1]["tweet"]
            out["next_after"] = {"score": last["score"], "doc_id": last["doc_id"]}
        return _ok(out)

    first = svc.query("kafka stream")
    cursor = (first["data"][-1]["tweet"]["score"], first["data"][-1]["tweet"]["doc_id"])
    hits = {}
    for kw in ({}, {"start": 3, "rows": 3}, {"rows": 3, "after": cursor}, {"start": 6}):
        got = svc.query("kafka stream", **kw)
        assert got["count"] == (2 if kw.get("start") == 6 else 3), kw
        assert json.dumps(got, default=str) == json.dumps(
            one_plan("kafka stream", **kw), default=str
        ), kw
        hits.update((h["tweet"]["doc_id"], h) for h in got["data"])
    # every matching doc was compared, the cases the fetch must get right
    # among them
    assert set(hits) == {1, 2, 3, 4, 5, 6, 7, 9}
    assert hits[9]["user"] is None  # uid 109 has no users row
    assert hits[1]["tweet"]["text"] == dict(_SEG2)[1]  # the replacing text
    assert hits[2]["user"] == {"uid": 102, "screen_name": "user2", "verified": True}


def test_served_keyword_request_job_count(spark, tmp_path):
    """Deterministic cost counter for one served keyword request (the way
    plan_baseline_declared.json pins plans): under its own job group, the
    request runs 3 Spark jobs — the rank (the query's posting lists scored
    in one task: no shuffle, no broadcast) plus one fetch each of the
    page's doc rows and user rows — for an unpaged request, a ``start``
    page and an ``after`` page alike. The batch-shaped rank (df aggregate,
    its broadcast, per-doc aggregate, top-k) ran 6; the one-plan join over
    an unresolved snapshot ran 12."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
        rank_keyword,
    )

    svc = _served_two_phase(spark, tmp_path)
    first = svc.query("kafka stream")
    cursor = (first["data"][-1]["tweet"]["score"], first["data"][-1]["tweet"]["doc_id"])
    for kw in ({}, {"start": 3, "rows": 3}, {"rows": 3, "after": cursor}):
        svc.query("kafka stream", **kw)  # warm: the same jobs, first-call planning
        with profiled("one served keyword request") as led:
            body = svc.query("kafka stream", **kw)
        assert body["count"] == 3 and body["data"][0]["user"] is not None, kw
        assert led.jobs == 3, kw

        page = rank_keyword(
            spark, svc.index, "kafka stream", k=3,
            start=kw.get("start", 0), after=kw.get("after"),
        )
        page.collect()
        # no shuffle or broadcast Exchange, in the initial or final plan
        assert "Exchange" not in page._jdf.queryExecution().executedPlan().toString(), kw


def test_user_route_equals_one_plan_join(spark, service):
    """SearchService.user collects the users row with the name, then reads
    that user's items with one filter. Its envelope must be byte-identical
    to the one built from search_user's one-plan join — for users with
    items, a user without items, an unknown name and a name two users
    share (the lowest user key wins in both). A known name costs 2 Spark
    jobs, an unknown one 1; the one-plan join ran 3 and 1."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.http_server import (
        _ok,
        search_user,
    )

    # customer 120 owns no documents (owner = doc_id % 100 + 1); customer
    # 140 is renamed to customer 3's name, a higher key than 3's own
    name = {
        r["c_custkey"]: r["c_name"]
        for r in service.users.filter(
            F.col("c_custkey").isin([1, 2, 3, 7, 42, 100, 120])
        ).collect()
    }
    users = service.users.withColumn(
        "c_name",
        F.when(F.col("c_custkey") == 140, F.lit(name[3])).otherwise(F.col("c_name")),
    )
    svc = SearchService(
        spark, service.index, service.docs, users=users,
        doc_user_key=service.doc_user_key, user_name_col=service.user_name_col,
        doc_time_col=service.doc_time_col,
    )

    def one_plan(n):
        rows = [
            r.asDict(recursive=True)
            for r in search_user(
                users, svc.docs, n, name_col="c_name", user_key="c_custkey",
                item_user_key="owner", time_col="doc_id",
            ).collect()
        ]
        cols = set(users.columns)
        user = {k: v for k, v in rows[0].items() if k in cols} if rows else None
        tweets = [{k: v for k, v in r.items() if k not in cols} for r in rows]
        return _ok({"user": user, "count": len(tweets), "tweets": tweets})

    counts = {}
    for n in [*name.values(), "Customer#nobody"]:
        got = svc.user(n)
        assert json.dumps(got, default=str) == json.dumps(one_plan(n), default=str), n
        counts[n] = got["count"]
    assert all(counts[name[k]] > 0 for k in (1, 2, 3, 7, 42, 100))
    assert svc.user(name[3])["user"]["c_custkey"] == 3
    assert svc.user(name[120])["user"] is None and counts[name[120]] == 0

    for n, jobs in ((name[42], 2), ("Customer#nobody", 1)):
        svc.user(n)  # warm: the same jobs, first-call planning
        with profiled("one served user request") as led:
            svc.user(n)
        assert led.jobs == jobs, n


def test_related_and_complete_answer_from_the_snapshot(spark, tmp_path):
    """/related and /autocomplete read the served snapshot's postings:
    their rows equal more_like_this and autocomplete over build_index of
    the same docs (doc 1's replacing text included). Cost, each under its
    own job group: a related request runs at most 19 Spark jobs and
    leaves no persisted RDD behind (it owns its weight table and releases
    it); a complete request runs 2 (the prefix-pruned aggregate and its
    top-k). Rebuilding the index from the docs per request ran 25 and
    leaked 3 persisted RDDs."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.cache import scope
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        autocomplete,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
        more_like_this,
    )

    svc = _served_two_phase(spark, tmp_path)
    rebuilt = build_index(svc.docs)

    before = persisted_rdd_ids(spark)
    with profiled("one served related request") as led:
        body = svc.related(2, k=4)
    assert not persisted_rdd_ids(spark) - before
    assert led.jobs <= 19
    with scope():
        want = [tuple(r) for r in more_like_this(rebuilt, 2, k=4).collect()]
    assert [(h["doc_id"], h["sim"]) for h in body["data"]] == want and len(want) == 4
    assert all(h["text"] == dict(_SEG1 + _SEG2)[h["doc_id"]] for h in body["data"])

    svc.complete("k")  # warm: the same jobs, first-call planning
    with profiled("one served complete request") as led:
        body = svc.complete("k", k=3)
    assert led.jobs == 2
    want = [tuple(r) for r in autocomplete(rebuilt.postings, "k", k=3).collect()]
    assert [(h["token"], h["c"]) for h in body["data"]] == want and want[0][0] == "kafka"
