"""Live HTTP serving surface — the reference's Spring REST controller
(``Ranking Model/src/main/java/api/Handler.java:19-161``: ``@RestController``
at ``/api/search`` with ``@CrossOrigin("*")`` and three ``@GetMapping``
routes ``/query`` ``/hashtag`` ``/user``) re-expressed as a stdlib
``ThreadingHTTPServer`` in front of the single-plan query functions in
:mod:`.api`. The Angular client contract
(``Web UI/twitter-Engine/src/app/shared/crud.service.ts:14,30-35`` — plain
``GET {endpoint}{path}`` expecting a JSON body) is served byte-for-byte: the
same envelope field names (``constants/APIConstants.java:5-17``), the same
``{user, tweet}`` pairing per hit (``Handler.java:46-58``), the same
always-HTTP-200-with-in-band-``status_code`` error convention
(``Handler.java:66-72`` returns the error JSON as the 200 body).

What changes under the hood is the engine. A keyword request ranks, then
fetches — the way Solr reads the stored fields of its ``rows`` hits: the
≤k (doc_id, score) page is ranked from the posting lists
(``search.api.rank_keyword``) and collected, then the doc and user tables
are filtered to the page's ids (:func:`_fetch_rows`). Over a served index
(``serve_loop.read_served_index``) the snapshot constants are already
resolved, so a request reads only its posting lists and k stored rows,
and the rank is one Spark task (``bm25.bm25_search``): a ``/query``
request — unpaged, ``start`` or ``after`` — runs 3 Spark jobs (rank, doc
fetch, user fetch). ``/user`` is rank-then-fetch too: the users row with
the name, then one filter of the items to its key (2 jobs; 1 for an
unknown name). That replaces the reference's Solr query plus an N+1
per-row user lookup loop (``Main/SolrRanker.java:80-84,107-110``); only
the ≤k result rows ever cross the driver boundary.

Concurrency: Spark supports concurrent actions from multiple driver
threads (each HTTP handler thread submits independent jobs scheduled by
the DAG scheduler), so the threading server needs no request lock. A
served keyword rank holds one core for its one task, so N concurrent
requests rank on at most N cores. At scale the natural deployment is
this server on the driver of a long-lived session over a served snapshot
(``serve_loop.read_served_index``): every route that reads the index —
keyword, facets, vector, related, complete — reads that one resolved
snapshot, never the corpus, and :meth:`SearchService.refresh` swaps all
of them at once.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import scope
from ..operators.similarity import ann_lsh_served_vec
from .api import (  # noqa: F401 (search_keyword, search_user: one-plan forms)
    autocomplete,
    rank_keyword,
    related_docs,
    search_facets,
    search_hashtag,
    search_keyword,
    search_user,
    suggest_next_token,
    tokenize_query,
)
from .index import build_positional_postings, phrase_from_postings

_log = logging.getLogger(__name__)

# constants/APIConstants.java:5-17 — same names, same codes, same messages.
STATUS_CODE = "status_code"
MESSAGE = "message"
COUNT = "count"
USER = "user"
TWEET = "tweet"
TWEETS = "tweets"
DATA = "data"
HTTP_SUCCESS = 200
HTTP_ERROR = 500
SUCCESS_MESSAGE = "Success"
ERROR_MESSAGE = "Internal Server Error"
# a user page's item rows (SolrRanker.java:120-160 asks Solr for rows=1000)
USER_ITEMS = 1000


def _rows(df: DataFrame) -> list[dict[str, Any]]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _fetch_rows(
    hits: list[dict[str, Any]],
    key: str,
    table: DataFrame,
    table_key: str,
    how: str,
) -> list[dict[str, Any]]:
    """The k-row fetch: each hit extended with the fields of its
    ``table`` rows (``hit[key] == row[table_key]``), read by ONE filter of
    ``table`` to the hits' keys — never a join or broadcast of the whole
    table. Hit order is kept; a hit matching several rows repeats, like a
    join. ``how="inner"`` drops a hit with no row, ``"left"`` gives it
    all-None table fields."""
    keys = sorted({h[key] for h in hits if h[key] is not None})
    found: dict[Any, list[dict[str, Any]]] = {}
    if keys:
        for r in _rows(table.filter(F.col(table_key).isin(keys))):
            found.setdefault(r[table_key], []).append(r)
    missing = [dict.fromkeys(table.columns)] if how == "left" else []
    out = []
    for h in hits:
        for r in found.get(h[key], missing):
            out.append({**h, **{c: v for c, v in r.items() if c not in h}})
    return out


def _split_tweet_user(
    row: dict[str, Any], user_cols: set[str] | None
) -> dict[str, Any]:
    """One hit -> the reference's ``{user: {...}, tweet: {...}}`` pairing
    (``Handler.java:51-57``). Columns of the user dimension go under
    ``user``; everything else (doc fields + score) under ``tweet``."""
    if not user_cols:
        return {TWEET: row, USER: None}
    tweet = {k: v for k, v in row.items() if k not in user_cols}
    user = {k: v for k, v in row.items() if k in user_cols}
    return {TWEET: tweet, USER: user if any(v is not None for v in user.values()) else None}


def _ok(extra: dict[str, Any]) -> dict[str, Any]:
    out = dict(extra)
    out[STATUS_CODE] = HTTP_SUCCESS
    out[MESSAGE] = SUCCESS_MESSAGE
    return out


def _err() -> dict[str, Any]:
    # Handler.java:66-72: the catch block leaks nothing about the failure.
    return {STATUS_CODE: HTTP_ERROR, MESSAGE: ERROR_MESSAGE}


class _ServedSnapshot:
    """One immutable generation of the served relations. Handlers read the
    whole generation through a single ``self._snap`` attribute fetch, so a
    ``refresh`` racing an in-flight request can never pair a new index with
    old docs (or a stale ``user_cols`` set) — the request runs entirely on
    whichever generation it grabbed first."""

    __slots__ = ("index", "docs", "users", "user_cols")

    def __init__(self, index, docs: DataFrame, users: DataFrame | None) -> None:
        if users is not None:
            overlap = set(docs.columns) & set(users.columns)
            # _split_tweet_user classifies joined-row fields purely by
            # users-schema membership; a shared name would silently move
            # the doc field under `user` (Row.asDict keeps one value).
            if overlap:
                raise ValueError(
                    "docs/users column names must be disjoint; overlap: "
                    + ", ".join(sorted(overlap))
                )
        object.__setattr__(self, "index", index)
        object.__setattr__(self, "docs", docs)
        object.__setattr__(self, "users", users)
        object.__setattr__(
            self, "user_cols", set(users.columns) if users is not None else None
        )

    def __setattr__(self, name: str, value: Any) -> None:
        raise AttributeError("_ServedSnapshot is immutable; build a new one")


class SearchService:
    """Binds a SparkSession + index + tables to the three reference routes
    (plus the engine's extension routes). Each method returns the envelope
    dict the handler serializes — reusable without HTTP (that is what the
    driver-contract queries use)."""

    def __init__(
        self,
        spark,
        index,
        docs: DataFrame,
        users: DataFrame | None = None,
        doc_user_key: tuple[str, str] | None = None,
        user_name_col: str | None = None,
        doc_time_col: str = "doc_id",
        tags_col: str = "hashtags",
        k: int = 10,
    ) -> None:
        self.spark = spark
        self._snap = _ServedSnapshot(index, docs, users)
        # serializes WRITERS only (readers stay lock-free on the single
        # _snap load): two concurrent PARTIAL refreshes — one passing
        # index, one passing docs — would otherwise both build from the
        # same `cur` and the last writer silently discard the other's
        # update (lost-update race; the swap itself was always atomic)
        self._refresh_lock = threading.Lock()
        self.doc_user_key = doc_user_key
        self.user_name_col = user_name_col
        self.doc_time_col = doc_time_col
        self.tags_col = tags_col
        self.k = k

    # Read-only views of the CURRENT generation (bench/probes/tests peek at
    # these); mutation goes through refresh() so the swap stays atomic.
    @property
    def index(self):
        return self._snap.index

    @property
    def docs(self) -> DataFrame:
        return self._snap.docs

    @property
    def users(self) -> DataFrame | None:
        return self._snap.users

    @property
    def _user_cols(self) -> set[str] | None:
        return self._snap.user_cols

    def refresh(
        self,
        index=None,
        docs: DataFrame | None = None,
        users: DataFrame | None = None,
    ) -> None:
        """Swap the served relations after an index publish — the serve
        loop calls this post-manifest-flip (``read_served_index`` freezes
        the manifest's segment list when called, so a new publish needs a
        re-resolve). The HTTP server keeps running: the new generation is
        built off to the side and installed with ONE reference assignment
        (atomic under the GIL); in-flight requests finish on the old
        snapshot, the next ``self._snap`` read sees the new one whole.
        The read-modify-write of concurrent PARTIAL refreshes is
        serialized by ``_refresh_lock`` (writers only — readers never
        take it), so neither update is lost."""
        with self._refresh_lock:
            cur = self._snap
            self._snap = _ServedSnapshot(
                cur.index if index is None else index,
                cur.docs if docs is None else docs,
                cur.users if users is None else users,
            )

    # -- the three reference routes ------------------------------------
    def query(
        self,
        query: str,
        start: int = 0,
        rows: int | None = None,
        after: tuple[float, int] | None = None,
    ) -> dict[str, Any]:
        """``GET /api/search/query?query=`` (Handler.java:33-74), plus the
        skip/limit the reference accepted-but-ignored (Handler.java:34):
        ``start``/``rows`` for Solr-style offset paging, or
        ``after=(score, doc_id)`` for constant-cost keyset paging. Paged
        responses carry ``next_after`` — the cursor for the next page;
        unpaged responses keep the reference envelope byte-for-byte."""
        snap = self._snap
        paged = start > 0 or rows is not None or after is not None
        page = rank_keyword(
            self.spark,
            snap.index,
            query,
            k=rows if rows is not None else self.k,
            start=start,
            after=after,
        )
        # rank, then fetch: the <= k hits in (score desc, doc_id) order,
        # then their doc rows, then their users — the rows and field order
        # of search_keyword's one-plan join
        hits = sorted(_rows(page), key=lambda h: (-h["score"], h["doc_id"]))
        found = _fetch_rows(hits, "doc_id", snap.docs, "doc_id", "inner")
        data = [
            _split_tweet_user(r, snap.user_cols)
            for r in self._with_users(snap, found)
        ]
        out: dict[str, Any] = {COUNT: len(data), DATA: data}
        if paged and data:
            last = data[-1][TWEET]
            out["next_after"] = {
                "score": last["score"],
                "doc_id": last["doc_id"],
            }
        return _ok(out)

    def hashtag(self, tag: str) -> dict[str, Any]:
        """``GET /api/search/hashtag?tag=`` (Handler.java:76-117)."""
        snap = self._snap
        hits = search_hashtag(
            snap.docs, tag, tags_col=self.tags_col, order_col=self.doc_time_col
        )
        data = [
            _split_tweet_user(r, snap.user_cols)
            for r in self._with_users(snap, _rows(hits))
        ]
        return _ok({COUNT: len(data), DATA: data})

    def _with_users(
        self, snap: _ServedSnapshot, rows: list[dict[str, Any]]
    ) -> list[dict[str, Any]]:
        """The rows' users, left-joined by the k-row fetch (a hit with no
        users row keeps all-None user fields)."""
        if snap.users is None or self.doc_user_key is None:
            return rows
        dcol, ucol = self.doc_user_key
        return _fetch_rows(rows, dcol, snap.users, ucol, "left")

    def user(self, name: str) -> dict[str, Any]:
        """``GET /api/search/user?id=`` (Handler.java:119-161): the user
        object once, their items time-desc under ``tweets``. Rank, then
        fetch, like :meth:`query`: the users row with the name is collected
        (several share it: the lowest user key wins), then ONE filter of
        the items to that key reads the time-desc top-k — the rows and
        envelope of :func:`search_user`'s one-plan join, which also
        answers ``user: None`` for a user without items. An unknown name
        costs one Spark job, a known one two."""
        snap = self._snap
        if snap.users is None or self.doc_user_key is None or self.user_name_col is None:
            raise ValueError("user route not configured (users table required)")
        dcol, ucol = self.doc_user_key
        found = _rows(
            snap.users.filter(F.col(self.user_name_col) == name)
            .orderBy(F.col(ucol))
            .limit(1)
        )
        if not found:
            return _ok({USER: None, COUNT: 0, TWEETS: []})
        user_obj = found[0]
        tweets = _rows(
            snap.docs.filter(F.col(dcol) == user_obj[ucol])
            .orderBy(F.col(self.doc_time_col).desc())
            .limit(USER_ITEMS)
        )
        return _ok({USER: user_obj if tweets else None, COUNT: len(tweets), TWEETS: tweets})

    # -- extension routes (capabilities the engine adds) ----------------
    def vector(self, vec: list[float], k: int | None = None) -> dict[str, Any]:
        """Top-k (doc_id, sim) from the snapshot's int8-LSH ``vectors``
        (``similarity.ann_lsh_served_vec``). A query whose length is not
        the index's build dim raises, so it gets the error envelope."""
        vectors = getattr(self._snap.index, "vectors", None)
        if vectors is None:
            raise ValueError("vector route not configured (no vector index)")
        data = _rows(
            ann_lsh_served_vec(self.spark, vectors, vec, k=k or self.k, id_col="doc_id")
        )
        return _ok({COUNT: len(data), DATA: data})

    def phrase(self, query: str, k: int | None = None) -> dict[str, Any]:
        """Exact phrase matching over the docs' positional postings — the
        same code that serves a persisted positional index."""
        terms = tokenize_query(query)
        if not terms:
            raise ValueError("empty phrase")
        pos = build_positional_postings(self._snap.docs)
        data = _rows(phrase_from_postings(pos, terms, k=k or self.k))
        return _ok({COUNT: len(data), DATA: data})

    def related(self, doc_id: int, k: int | None = None) -> dict[str, Any]:
        """More-Like-This over the index: top-k docs related to ``doc_id``.
        The request owns its weight-table persist and releases it."""
        snap = self._snap
        with scope():
            data = _rows(related_docs(snap.index, snap.docs, doc_id, k=k or self.k))
        return _ok({COUNT: len(data), DATA: data})

    def facets(
        self,
        query: str,
        cols: list[str],
        top: int = 5,
        start: int = 0,
        rows: int | None = None,
    ) -> dict[str, Any]:
        """Facet counts over the matching set (Solr facet component).
        ``start``/``rows`` page through the (facet, rn)-ordered facet rows
        via operators.topk.paginate."""
        snap = self._snap
        if snap.index is None:
            raise ValueError("facets route needs an index")
        terms = tokenize_query(query)
        df = search_facets(snap.index, snap.docs, terms, cols, top=top)
        if start > 0 or rows is not None:
            from ..operators.topk import paginate

            df = paginate(
                df,
                [F.col("facet"), F.col("rn")],
                start,
                rows if rows is not None else top * max(len(cols), 1),
            )
        data = _rows(df)
        return _ok({COUNT: len(data), DATA: data})

    def suggest(self, prev: str, k: int = 5) -> dict[str, Any]:
        data = _rows(suggest_next_token(self._snap.docs, prev, k=k))
        return _ok({COUNT: len(data), DATA: data})

    def complete(self, prefix: str, k: int = 10) -> dict[str, Any]:
        data = _rows(autocomplete(self._snap.index.postings, prefix, k=k))
        return _ok({COUNT: len(data), DATA: data})


class _Handler(BaseHTTPRequestHandler):
    """Routes ``GET /api/search/*`` to the bound :class:`SearchService`.
    Always responds HTTP 200 with the in-band ``status_code`` — the exact
    convention the reference controller (and therefore the Angular client's
    error handling) relies on; only an unknown route gets a real 404."""

    service: SearchService  # set by make_server on the subclass

    ROUTES = {
        "hashtag": ("hashtag", "tag"),
        "user": ("user", "id"),
        "suggest": ("suggest", "prev"),
        "autocomplete": ("complete", "prefix"),
        "phrase": ("phrase", "q"),
    }

    def do_GET(self) -> None:  # noqa: N802 (http.server contract)
        parsed = urlparse(self.path)
        parts = parsed.path.strip("/").split("/")
        if len(parts) != 3 or parts[0] != "api" or parts[1] != "search":
            self._write(404, {STATUS_CODE: 404, MESSAGE: "Not Found"})
            return
        qs = parse_qs(parsed.query)
        route = parts[2]
        try:
            if route == "query":
                rows_raw = qs.get("rows", [None])[0]
                a_s = qs.get("after_score", [None])[0]
                a_d = qs.get("after_doc", [None])[0]
                body = self.service.query(
                    qs.get("query", [""])[0],
                    start=int(qs.get("start", ["0"])[0]),
                    rows=int(rows_raw) if rows_raw is not None else None,
                    after=(float(a_s), int(a_d))
                    if a_s is not None and a_d is not None
                    else None,
                )
            elif route == "vector":
                raw = qs.get("vec", [""])[0]
                vec = [float(x) for x in raw.split(",") if x.strip()]
                k = int(qs.get("k", [str(self.service.k)])[0])
                body = self.service.vector(vec, k=k)
            elif route == "related":
                body = self.service.related(int(qs.get("doc_id", [""])[0]))
            elif route == "facets":
                cols = [c for c in qs.get("cols", [""])[0].split(",") if c]
                top = int(qs.get("top", ["5"])[0])
                rows_raw = qs.get("rows", [None])[0]
                body = self.service.facets(
                    qs.get("query", [""])[0],
                    cols,
                    top=top,
                    start=int(qs.get("start", ["0"])[0]),
                    rows=int(rows_raw) if rows_raw is not None else None,
                )
            elif route in self.ROUTES:
                method, param = self.ROUTES[route]
                arg = qs.get(param, [""])[0]
                body = getattr(self.service, method)(arg)
            else:
                self._write(404, {STATUS_CODE: 404, MESSAGE: "Not Found"})
                return
        except Exception:
            # the body stays opaque (Handler.java:66-72); the log keeps why
            _log.exception("GET %s failed", self.path)
            body = _err()
        self._write(200, body)

    def _write(self, http_status: int, body: dict[str, Any]) -> None:
        payload = json.dumps(body, default=str).encode("utf-8")
        self.send_response(http_status)
        # @CrossOrigin("*") (Handler.java:21) + the Angular client's
        # Content-Type expectation (crud.service.ts:23-27).
        self.send_header("Access-Control-Allow-Origin", "*")
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, fmt: str, *args: Any) -> None:
        # the access log goes to logging at DEBUG, not to stderr
        _log.debug("%s - " + fmt, self.address_string(), *args)


def make_server(
    service: SearchService, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Build (don't start) the threading server; ``port=0`` binds an
    ephemeral port (``server.server_address[1]`` to read it back)."""
    handler = type("BoundHandler", (_Handler,), {"service": service})
    return ThreadingHTTPServer((host, port), handler)


class ServerHandle:
    """Started server + its thread; ``close()`` shuts both down."""

    def __init__(self, server: ThreadingHTTPServer) -> None:
        self.server = server
        self.thread = threading.Thread(target=server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def url(self) -> str:
        host, port = self.server.server_address[:2]
        return f"http://{host}:{port}"

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)

    def __enter__(self) -> "ServerHandle":
        return self

    def __exit__(self, *exc: Any) -> None:
        self.close()


def serve(
    service: SearchService, host: str = "127.0.0.1", port: int = 0
) -> ServerHandle:
    """Start the REST surface on a background thread and return the handle
    (context-manager). The reference runs this as a Spring Boot app on
    :8080; here the caller owns lifetime — tests bind port 0."""
    return ServerHandle(make_server(service, host=host, port=port))


def main(argv: list[str] | None = None) -> None:
    """``python -m ...search.http_server --sf-dir DIR [--port 8080]`` —
    stand up the full serving stack the way the reference stands up its
    Spring app: build (or reuse) the session, index the documents table,
    bind the routes, block until Ctrl-C. For a production deployment over
    a streamed index, construct SearchService against
    ``serve_loop.read_served_index`` instead (DEPLOY.md §8)."""
    import argparse

    from ..io import load_table
    from ..session import get_spark
    from .index import build_index

    ap = argparse.ArgumentParser(description="jse search REST endpoint")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args(argv)

    spark = get_spark(app_name="jse-serve")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, args.sf_dir, "documents")
    svc = SearchService(spark, build_index(docs, cache=True), docs, k=args.k)
    handle = serve(svc, host=args.host, port=args.port)
    print(f"serving {args.sf_dir} on {handle.url}/api/search/...", flush=True)
    try:
        handle.thread.join()
    except KeyboardInterrupt:
        handle.close()


if __name__ == "__main__":
    main()
