"""Query-surface functions mirroring the reference's three REST endpoints
(``Ranking Model/src/main/java/api/Handler.java:33-161`` and
``Main/SolrRanker.java:66-160``), re-expressed as Catalyst plans.

Keyword search is rank, then fetch — Solr's shape: :func:`rank_keyword`
returns the <= k (doc_id, score) page, and only those k doc and user rows
are read back. :func:`search_keyword` does that fetch as one lazy join of
the page; the served route collects the page and filters the doc and user
tables to its ids (``http_server.SearchService.query``). Either way the
reference's N+1 per-row Solr lookups (``SolrRanker.java:80-84,107-110``)
become one read per table, and the ``{count, data:[{tweet,user}]}``
envelope (``api/Handler.java:42-64``) is built from the collected top-k
only (k rows cross the driver boundary, never the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokenize_normalized
from .bm25 import bm25_search
from .index import SearchIndex


def rank_keyword(
    spark: SparkSession,
    index: SearchIndex,
    query: str,
    k: int = 10,
    start: int = 0,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """The ranked page of a free-text query: (doc_id, score), BM25 order
    (score desc, doc_id). The query passes through the SAME analyzer as the
    corpus (tokenize_query mirrors tokenize_normalized) — otherwise
    punctuated queries would never match.

    Pagination (reference O5 — the skip/limit the reference controller
    accepted but ignored, ``api/Handler.java:34``): ``start`` is Solr-style
    numeric offset (the retrieval pool deepens to ``start+k`` and the page
    is sliced via :func:`operators.topk.paginate`); ``after=(score,
    doc_id)`` is the KEYSET cursor — constant per-page cost, preferred for
    deep paging. ``start`` and ``after`` are mutually exclusive: they define
    different page boundaries, and silently preferring one (the pre-r9
    behavior ignored ``start``) hides a caller bug — reject the
    combination."""
    terms = tokenize_query(query)
    if after is not None and start > 0:
        raise ValueError(
            "start and after are mutually exclusive pagination modes; "
            "pass a numeric offset OR a keyset cursor, not both"
        )
    if after is not None:
        return bm25_search(spark, index, terms, k=k, after=after)
    if start > 0:
        from ..operators.topk import paginate

        pool = bm25_search(spark, index, terms, k=start + k)
        return paginate(
            pool, [F.col("score").desc(), F.col("doc_id")], start, k
        )
    return bm25_search(spark, index, terms, k=k)


def search_keyword(
    spark: SparkSession,
    index: SearchIndex,
    docs: DataFrame,
    users: DataFrame | None,
    query: str,
    k: int = 10,
    doc_user_key: tuple[str, str] | None = None,
    start: int = 0,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """:func:`rank_keyword`'s page joined back to the full doc rows (and
    optionally left-joined to the user dimension, reference J1), ordered
    (score desc, doc_id) — one lazy plan for library callers. The served
    route (``http_server.SearchService.query``) instead collects the page
    and fetches its <= k stored rows, the way Solr ranks and then reads the
    stored fields of its ``rows`` hits; both give the same rows."""
    hits = rank_keyword(spark, index, query, k=k, start=start, after=after)
    out = hits.join(docs, "doc_id")  # hits is tiny: Catalyst broadcasts it
    if users is not None and doc_user_key is not None:
        dcol, ucol = doc_user_key
        out = out.join(users, out[dcol] == users[ucol], "left")
    return out.orderBy(F.col("score").desc(), F.col("doc_id"))


def search_hashtag(
    docs: DataFrame,
    tag: str,
    tags_col: str = "hashtags",
    order_col: str = "doc_id",
    k: int = 1000,
) -> DataFrame:
    """Exact-match search on a multiValued field (reference R3:
    ``SolrRanker.java:93-118``, rows=1000): array_contains + time-desc top-k.
    The array_contains predicate stays in the scan stage — no shuffle until
    the top-k."""
    return (
        docs.filter(F.array_contains(F.col(tags_col), tag))
        .orderBy(F.col(order_col).desc())
        .limit(k)
    )


def search_user(
    users: DataFrame,
    items: DataFrame,
    name: str,
    name_col: str,
    user_key: str,
    item_user_key: str,
    time_col: str,
    k: int = 1000,
) -> DataFrame:
    """User page (reference R4: ``SolrRanker.java:120-160``): look up the user
    by exact name, then their items time-desc. The 1-row user lookup is
    broadcast into the items scan — a semi-join point lookup, not a collect.
    Several users sharing the name resolve to the lowest ``user_key``, the
    one the served route (``http_server.SearchService.user``) fetches."""
    u = users.filter(F.col(name_col) == name).orderBy(F.col(user_key)).limit(1)
    return (
        items.join(F.broadcast(u), items[item_user_key] == u[user_key])
        .orderBy(F.col(time_col).desc(), items[item_user_key])
        .limit(k)
    )


def tokenize_query(query: str) -> list[str]:
    """Driver-side mirror of functions.text.tokenize_normalized for query
    strings (tiny, so plain Python is fine here)."""
    import re

    return [t for t in (re.sub(r"[^a-z0-9]", "", w) for w in query.lower().split(" ")) if t]


def suggest_next_token(docs, prev: str, k: int = 5, text_col: str = "text"):
    """Query-completion by bigram conditional probability: the top-``k``
    tokens following ``prev`` in the corpus, with P(next|prev) =
    c(prev next) / c(prev ·). One token-stream pass (bigram counts filtered
    to the prev token — the filter pushes into the aggregation), top-k via
    TakeOrderedAndProject. Deterministic ties on the token."""
    from ..functions.hashing import token_ngrams
    from ..io import ensure_parallelism

    toks = ensure_parallelism(docs).select(
        tokenize_normalized(text_col).alias("tk")
    )
    bi = (
        toks.select(F.explode(token_ngrams(F.col("tk"), 2)).alias("pair"))
        .filter(F.col("pair").startswith(prev + " "))
        .groupBy("pair")
        .agg(F.count("*").alias("c"))
    )
    total = bi.agg(F.sum("c").alias("n"))
    return (
        bi.crossJoin(F.broadcast(total))
        .select(
            F.split("pair", " ")[1].alias("next_token"),
            F.col("c").cast("long").alias("c"),
            F.round(F.col("c") / F.col("n"), 4).alias("p"),
        )
        .orderBy(F.col("c").desc(), "next_token")
        .limit(k)
    )


def autocomplete(postings: DataFrame, prefix: str, k: int = 10) -> DataFrame:
    """Prefix autocomplete over an index's vocabulary: top-``k`` tokens
    starting with ``prefix`` by corpus frequency, the sum of their
    postings' ``tf``. Over token-sorted postings (a served snapshot) a
    prefix is a token range, so the filter prunes files and row groups."""
    return (
        postings.filter(F.col("token").startswith(prefix))
        .groupBy("token")
        .agg(F.sum("tf").alias("c"))
        .select("token", F.col("c").cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(k)
    )


def search_all_terms(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boolean-AND search: documents containing EVERY query term (the
    reference's Solr surface only ORs its fields). One tokenize pass pruned
    to the query terms, one distinct, one per-doc count — a doc matches iff
    it covers all |terms| distinct terms. Returns (doc_id, n_terms) top-k
    ordered by doc_id (all matches tie on n_terms by construction)."""
    uniq = sorted(set(terms))
    toks = (
        docs.select(
            F.col(id_col), F.explode(tokenize_normalized(text_col)).alias("tok")
        )
        .filter(F.col("tok").isin(uniq))
        .distinct()
    )
    return (
        toks.groupBy(id_col)
        .agg(F.count("*").alias("n_terms"))
        .filter(F.col("n_terms") == len(uniq))
        .orderBy(F.col(id_col))
        .limit(k)
    )


def snippets(
    docs: DataFrame,
    term: str,
    window: int = 3,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Search-result snippet extraction (the Solr highlighting surface): the
    ±``window`` raw tokens around the FIRST occurrence of ``term``.

    Matching happens on a position-ALIGNED normalized view (normalize each
    whitespace token in place — never filter, so display positions line up
    with match positions), then one ``slice`` of the raw tokens. Pure
    per-row column math: no shuffle, no UDF; the filter prunes non-matching
    docs at the scan."""
    from ..functions.text import normalize_token

    raw = F.split(F.col(text_col), " ")
    norm = F.transform(raw, normalize_token)
    pos = F.array_position(norm, term)  # 1-based; 0 when absent
    start = F.greatest(F.col("pos") - window, F.lit(1))
    length = F.col("pos") + window - start + 1
    return (
        docs.select(F.col(id_col), raw.alias("__raw"), pos.alias("pos"))
        .filter(F.col("pos") > 0)
        .select(
            id_col,
            "pos",
            F.concat_ws(" ", F.slice("__raw", start, length)).alias("snippet"),
        )
        .orderBy(id_col)
        .limit(k)
    )


def related_docs(
    index: SearchIndex, docs: DataFrame, doc_id, k: int = 10
) -> DataFrame:
    """Related-content endpoint (Solr's MLT handler shape): More-Like-This
    top-k for a document over ``index``, joined back to the full doc rows —
    the same hits-are-tiny broadcast-back pattern as search_keyword."""
    from .bm25 import more_like_this

    hits = more_like_this(index, doc_id, k=k)
    return hits.join(docs, "doc_id").orderBy(F.col("sim").desc(), F.col("doc_id"))


def search_facets(
    index,
    docs: DataFrame,
    terms: list[str],
    facet_cols: list[str],
    top: int = 5,
) -> DataFrame:
    """Facet counts over the MATCHING document set (Solr's facet component,
    reference R6 — docValues faceting re-expressed as grouped counts over
    a columnar scan): documents containing ANY query term (the same OR
    match semantics as ranked retrieval), then per-facet-column value
    counts, top-``top`` per facet by (count desc, value). Matching is a
    semi join of the docs table against the query's postings — the facet
    aggregation reads only the facet columns (column pruning) over the
    matched set, never scores anything."""
    from pyspark.sql import Window

    hits = (
        index.postings.filter(F.col("token").isin(terms))
        .select("doc_id")
        .distinct()
    )
    matched = docs.join(hits, "doc_id", "left_semi")
    out = None
    for c in facet_cols:
        f = matched.groupBy(F.col(c).cast("string").alias("value")).agg(
            F.count("*").alias("n")
        )
        f = f.select(F.lit(c).alias("facet"), "value", "n")
        out = f if out is None else out.unionByName(f)
    w = Window.partitionBy("facet").orderBy(F.col("n").desc(), "value")
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top)
        .select("facet", "value", "n", F.col("rn").cast("long").alias("rn"))
        .orderBy("facet", "rn")
    )


def correct_query_terms(
    spark: SparkSession,
    index,
    terms: list[str],
    max_dist: int = 1,
) -> list[str]:
    """Did-you-mean: correct each query term against the INDEX VOCABULARY
    (term_stats) via delete-key blocked fuzzy matching — Solr's spellcheck
    component re-expressed relationally. A term found in the vocabulary
    passes through; otherwise the candidate with (lowest edit distance,
    highest document frequency, lexicographic) wins; terms with no
    candidate within ``max_dist`` pass through unchanged.

    The fuzzy block join runs against term_stats (vocabulary-grain — tiny
    relative to the corpus); only the ≤len(terms) correction rows are
    collected, never postings."""
    from ..operators.joins import fuzzy_join

    qdf = spark.createDataFrame([(t,) for t in terms], "qterm string")
    vocab = index.term_stats.select("token", "df")
    cand = fuzzy_join(qdf, vocab, "qterm", "token", max_dist=max_dist)
    scored = (
        cand.join(vocab, "token")
        .groupBy("qterm")
        .agg(
            F.min(
                F.struct(
                    F.col("dist"),
                    (-F.col("df")).alias("ndf"),
                    F.col("token").alias("token"),
                )
            ).alias("b")
        )
        .select("qterm", F.col("b.token").alias("corrected"))
    )
    fixes = {r["qterm"]: r["corrected"] for r in scored.collect()}
    return [fixes.get(t, t) for t in terms]


def search_keyword_corrected(
    spark: SparkSession,
    index,
    query: str,
    k: int = 10,
    max_dist: int = 1,
):
    """BM25 search with did-you-mean correction: tokenize, correct each
    term against the index vocabulary, then the ordinary ranked retrieval.
    Returns (results_df, corrected_terms)."""
    terms = tokenize_query(query)
    corrected = correct_query_terms(spark, index, terms, max_dist=max_dist)
    return bm25_search(spark, index, corrected, k=k), corrected


def _fuse_rrf(keyword: DataFrame, vector: DataFrame, k: int) -> DataFrame:
    """Reciprocal-Rank Fusion of two ranked lists, keyword (doc_id, score)
    and vector (doc_id, sim): each is ranked 1..n by (score desc, doc_id),
    and the full-outer merge on doc_id scores 1/(60+rb) + 1/(60+rv), a
    missing rank counting 0. Returns (doc_id, rb, rv, rrf) top-k by
    (rrf desc, doc_id). Ranks are integers (ties broken on id), so the
    fusion is engine-stable; the lists are <= pool rows each, so the rank
    windows and the merge are tiny while each leg keeps its own plan."""
    from pyspark.sql import Window

    def ranked(df: DataFrame, score: str, rank: str) -> DataFrame:
        w = Window.orderBy(F.col(score).desc(), F.col("doc_id"))
        return df.select("doc_id", F.row_number().over(w).cast("long").alias(rank))

    rrf = F.coalesce(1.0 / (F.lit(60) + F.col("rb")), F.lit(0.0)) + F.coalesce(
        1.0 / (F.lit(60) + F.col("rv")), F.lit(0.0)
    )
    return (
        ranked(keyword, "score", "rb")
        .join(ranked(vector, "sim", "rv"), "doc_id", "full_outer")
        .select("doc_id", "rb", "rv", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col("doc_id"))
        .limit(k)
    )


def search_hybrid_served(
    spark: SparkSession,
    index: SearchIndex,
    query: str,
    query_vec: list[float],
    k: int = 10,
    pool: int = 20,
    num_planes: int = 4,
) -> DataFrame:
    """The fully-SERVED hybrid front door over one resolved snapshot
    (``serve_loop.read_served_index``): BM25 from its posting lists fused
    with multiprobe vector search over its ``vectors``
    (``similarity.ann_lsh_served_vec``) by :func:`search_hybrid`'s fusion.
    Per-request cost is posting-list reads + probed-bucket files — both
    index builds are paid at index time; no corpus scan serves a request."""
    from ..operators.similarity import ann_lsh_served_vec

    if index.vectors is None:
        raise ValueError("the served index has no vector segments")
    bm = bm25_search(spark, index, tokenize_query(query), k=pool)
    vec = ann_lsh_served_vec(
        spark, index.vectors, query_vec, k=pool, num_planes=num_planes, id_col="doc_id"
    )
    return _fuse_rrf(bm, vec, k)


def search_hybrid(
    spark: SparkSession,
    index: SearchIndex,
    embeddings: DataFrame,
    query: str,
    query_vec_id,
    k: int = 10,
    pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid retrieval endpoint: BM25 over the query text fused with
    cosine over a query vector by Reciprocal-Rank Fusion (1/(60+rank)) —
    the RAG-stack front door. Both candidate pools are size ``pool``; the
    fusion (:func:`_fuse_rrf`) runs over <= 2·pool rows while each
    retrieval keeps its distributed plan."""
    from ..functions.vectors import cosine

    bm = bm25_search(spark, index, tokenize_query(query), k=pool)
    qv = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qv")
    )
    cos = (
        embeddings.filter(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col).alias("doc_id"),
            (F.round(cosine(F.col(vec_col), F.col("qv")), 4) + F.lit(0.0)).alias(
                "sim"
            ),
        )
        .orderBy(F.col("sim").desc(), F.col("doc_id"))
        .limit(pool)
    )
    return _fuse_rrf(bm, cos, k)
