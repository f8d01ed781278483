"""BM25 ranking as a pure DataFrame aggregation (SURVEY.md R1/Q20).

Replaces Solr's BM25SimilarityFactory configuration
(``Ranking Model/src/main/java/Utils/SolrFieldType.java:48-51``) with the same
Lucene formula computed in-plan:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d,t)  = idf * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score(d) = sum over query terms

Determinism contract (SURVEY.md §7.5): every float literal is written
identically in the DuckDB oracle (generated from the same Python constants via
repr), the fold over query terms is a sum of <= a handful of doubles, and ties
break on doc_id — so scores hash-match exactly at ROUND(...,4).

Scale — two cost models, one per kind of index. Either way the postings are
first filtered to the query terms; over token-sorted on-disk postings that
prunes to the terms' row groups, the Spark analog of reading a few posting
lists.

- In-session index (``index.build_index``): the postings are derived in-plan
  from the whole corpus, so the rank stays parallel — the per-term df is an
  aggregate broadcast back to the postings, the corpus constants a broadcast
  1-row table, and the only shuffle is the per-doc score sum keyed by
  doc_id. Cost grows with the corpus; it is spread over every core.
- Resolved snapshot (``serve_loop.read_served_index``, ``corpus_values``
  set): the pruned posting lists are coalesced into ONE partition, df is a
  count window over it and the corpus constants are literals, so the df,
  the per-doc sum and the top-k run in one task — one job, no Exchange, no
  broadcast. A request costs in proportion to its terms' posting-list
  lengths and holds one core, like a Solr searcher thread reading its
  query's posting lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import persist
from .index import SearchIndex

K1 = 1.2
B = 0.75


def bm25_score_terms(
    tf: Column, df: Column, n_docs: Column, doc_len: Column, avg_dl: Column,
    k1: float = K1, b: float = B,
) -> Column:
    """Per (doc, term) BM25 partial score. Expression shape mirrors the oracle
    SQL token-for-token so IEEE evaluation order is identical."""
    idf = F.log(F.lit(1.0) + (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5)))
    denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * doc_len / avg_dl)
    return idf * tf * F.lit(k1 + 1.0) / denom


def bm25_search(
    spark: SparkSession,
    index: SearchIndex,
    terms: list[str],
    k: int = 10,
    k1: float = K1,
    b: float = B,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Top-k documents for a bag of query terms.

    Returns (doc_id, score) with score rounded to 4 decimals, ordered
    score desc, doc_id asc (stable tie-break).

    ``after=(score, doc_id)`` is a KEYSET cursor (the last hit of the
    previous page): only documents strictly after it in the total order
    are returned, so page N costs the same as page 1 — the limit stays
    ``k`` instead of growing to ``offset+k`` the way numeric-offset
    paging must. The cursor comparison is TOLERANCE-FREE: both sides are
    mapped to the int64 key ``round(score * 10000)`` (bijective with the
    4-decimal score the caller received), so no double-equality test
    sits on a page edge — integer equality either matches or it doesn't.
    The displayed score stays the plain ``round(raw, 4)`` double
    (oracle/envelope parity unchanged)."""
    uniq = list(dict.fromkeys(terms))
    # df for just the query terms, computed from postings pruned to those
    # tokens — NOT from term_stats, which would aggregate the full token space
    # (a shuffle over every distinct term in the corpus) to answer a 2-term
    # query. On the token-sorted on-disk postings (write_index) the isin
    # filter prunes to the query terms' row groups, the Spark analog of
    # reading a few posting lists.
    q_postings = index.postings.filter(F.col("token").isin(uniq))
    if index.corpus_values is None:
        # in-session: df aggregated in parallel and broadcast back; the
        # 1-row corpus constants cross-joined in-plan
        q_stats = q_postings.groupBy("token").agg(F.count("*").alias("df"))
        scored = q_postings.join(F.broadcast(q_stats), "token").crossJoin(
            F.broadcast(index.corpus_stats())
        )
        n_docs, avg_dl = F.col("n_docs"), F.col("avg_dl")
    else:
        # a resolved snapshot: the pruned posting lists in ONE partition, so
        # the df window and the per-doc sum below need no Exchange and the
        # rank is one task; the corpus constants are literals
        scored = q_postings.coalesce(1).withColumn(
            "df", F.count("*").over(Window.partitionBy("token"))
        )
        n, avg = index.corpus_values
        n_docs, avg_dl = F.lit(n).cast("long"), F.lit(avg).cast("double")
    # doc_len: denormalized into the postings at build time (Lucene-norms
    # analog) — the query touches ONLY its pruned posting lists, never the
    # corpus-sized doc_stats table.
    scored = scored.withColumn(
        "partial",
        bm25_score_terms(
            F.col("tf"),
            F.col("df"),
            n_docs,
            F.col("doc_len").cast("double"),
            avg_dl,
            k1=k1,
            b=b,
        ),
    )
    per_doc = scored.groupBy("doc_id").agg(F.sum("partial").alias("raw_score"))
    ranked = per_doc.select(
        "doc_id", F.round(F.col("raw_score"), 4).alias("score")
    )
    if after is not None:
        a_score, a_doc = after
        # int64 cursor key: score is already exactly a 4-decimal-rounded
        # double, so round(score * 10000) recovers its integer form
        # losslessly on BOTH sides — the page-edge comparison never tests
        # two doubles for equality
        a_key = int(round(float(a_score) * 10000))
        score_key = F.round(F.col("score") * 10000, 0).cast("long")
        ranked = ranked.filter(
            (score_key < F.lit(a_key))
            | ((score_key == F.lit(a_key)) & (F.col("doc_id") > F.lit(int(a_doc))))
        )
    return ranked.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def _tfidf_weights(index: SearchIndex) -> DataFrame:
    """Every posting of ``index`` with its TF-IDF weight
    ``tfidf = tf · ln(n_docs / df)``: postings ⋈ broadcast(term_stats) ×
    the broadcast 1-row document count."""
    n_docs = index.doc_stats.agg(F.count("*").alias("n"))
    return (
        index.postings.join(F.broadcast(index.term_stats), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n") / F.col("df")))
    )


def tfidf_keywords(
    docs, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
):
    """Per-document TF-IDF top-``k`` keywords: (doc_id, keywords
    array<string> sorted by score desc, term asc) — the per-document form
    of the reference's corpus-level word-cloud analysis
    (``Spark/Word_cloud_evaluation.ipynb``), used for labeling/faceting.

    Reuses the index build (postings carry tf and doc-count df): idf =
    ln(n_docs / df), score = tf * idf; top-k per doc via a doc-partitioned
    window over postings (bounded by per-doc vocabulary, never a global
    sort), then ordered collect. Deterministic: ties break on the term."""
    from pyspark.sql import Window

    from .index import build_index

    idx = build_index(docs, id_col=id_col, text_col=text_col, cache=True)
    scored = _tfidf_weights(idx).withColumn(
        "score", F.round(F.col("tfidf"), 6)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token")
    )
    topk = scored.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    return (
        topk.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__rn"), F.col("token")))
                ),
                lambda s: s["token"],
            ).alias("keywords")
        )
    )


def more_like_this(index: SearchIndex, target_id, k: int = 10, scale: int = 1000):
    """Solr/Lucene "More Like This": top-``k`` documents most similar to
    ``target_id`` by TF-IDF cosine over the inverted ``index`` — an
    in-session ``build_index`` or a served snapshot — the
    related-content surface next to keyword search (Solr exposes it as the
    MLT handler on the same collections the reference builds).

    Exactness: per-posting TF-IDF weights are quantized to integer
    milli-units (round(tf · ln(n/df) · scale)), so every dot product and
    squared norm is an exact int64 sum (bounded: w ≤ tf·ln(n)·scale ≈ 2e6,
    a 200-term overlap sums ≤ 1e15) and the only float steps — sqrt,
    divide, round — are single IEEE-exact operations, identical cross-engine.

    Scale shape: the target's weight vector is ONE document's postings —
    filtered first, broadcast everywhere — so scoring is postings ⋈
    broadcast(target) + one doc_id shuffle; norms reuse the same persisted
    weight table; the final top-k is TakeOrderedAndProject. Never a
    doc × doc comparison. The weight table's persist belongs to the
    enclosing cache owner."""
    w = persist(
        _tfidf_weights(index).select(
            "doc_id",
            "token",
            F.round(F.col("tfidf") * scale, 0).cast("long").alias("w"),
        )
    )
    target = w.filter(F.col("doc_id") == target_id).select(
        "token", F.col("w").alias("wq")
    )
    qnorm = target.agg(F.sum(F.col("wq") * F.col("wq")).alias("qn"))
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nsq"))
    dots = (
        w.filter(F.col("doc_id") != target_id)
        .join(F.broadcast(target), "token")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("wq")).alias("dot"))
    )
    return (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qnorm))
        .select(
            "doc_id",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nsq").cast("double"))
                    * F.sqrt(F.col("qn").cast("double"))
                ),
                4,
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("doc_id"))
        .limit(k)
    )
