"""Inverted-index tables as DataFrames (SURVEY.md §7.3).

Replaces the Solr collections the reference materializes via
``Ranking Model/src/main/java/Main/SolrSetup.java:61-149`` and
``Main/SolrIndexer.java:47-59`` with three relational tables:

    postings(token, doc_id, tf)      -- from explode(tokenize) + count
    doc_stats(doc_id, doc_len)       -- tokens per document
    term_stats(token, df)            -- document frequency per token

Scale design:
- built in ONE pass over the corpus (single explode + two reuses of the
  tokenized intermediate; Catalyst shares the scan under AQE).
- at 100 TB the postings build is a map-side explode followed by a single
  shuffle on (token, doc_id) — the same shape as a distributed Lucene index
  build. ``write_index`` persists the tables as plain parquet directories;
  the postings are **token-sorted**, one file per token hash bucket
  (:func:`write_token_sorted`), so a query-time term lookup prunes files
  and row groups through their dictionaries and statistics. Like Lucene
  segment files, the directories are read by path from any process: no
  catalog entry ties them to the session that wrote them.
- incremental refresh composes with operators.dedup.merge_latest (D2).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist
from ..functions.text import tokenize_normalized


@dataclass
class SearchIndex:
    postings: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    # (n_docs, avg_dl) as Python values, set when a served index is
    # resolved (read_index, serve_loop.read_served_index): a request never
    # re-aggregates the corpus-sized doc_stats table, and bm25_search
    # scores with literals and ranks in one task
    corpus_values: tuple[int, float | None] | None = None
    # the tombstone-filtered int8-LSH vectors (doc_id, embedding, seg,
    # bucket) of a served snapshot; None when it has no vector segments
    vectors: DataFrame | None = None

    def corpus_stats(self) -> DataFrame:
        """1-row DataFrame (n_docs, avg_dl) — kept in-plan, never collected."""
        return self.doc_stats.agg(
            F.count("*").alias("n_docs"),
            F.avg(F.col("doc_len").cast("double")).alias("avg_dl"),
        )


def build_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str | list[str] = "text",
    cache: bool = False,
) -> SearchIndex:
    """Tokenize once, derive all three index tables from the tokenized rows.

    ``text_col`` may be a list of columns — they are space-concatenated before
    tokenization, giving the reference's dual-field OR search
    (``q=tweetText:<q> OR tweetMediaText:<q>``, ``SolrRanker.java:76``): a
    term hit in ANY field scores the document.

    ``cache=True`` persists the postings table so the three derived tables
    (and a following search) share one tokenize+aggregate pass instead of
    re-deriving it per subtree — the in-session analog of the materialized
    index ``write_index`` produces. Without it a single BM25 action scans the
    corpus up to 4x (postings/doc_stats/term_stats/corpus_stats subtrees).
    The persists belong to the enclosing cache owner (``cache.persist``)."""
    from ..io import ensure_parallelism

    if isinstance(text_col, (list, tuple)):
        text_expr = F.concat_ws(
            " ", *[F.coalesce(F.col(c), F.lit("")) for c in text_col]
        )
    else:
        text_expr = F.col(text_col)
    tokenized = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_expr).alias("tk")
    )
    # doc_len rides along from size(tokens) BEFORE the explode — denormalized
    # into every posting (the classic Lucene norms trick) for free: it is a
    # function of doc_id, so adding it to the grouping key changes neither the
    # shuffle key cardinality nor the row count. Query-time BM25 then needs NO
    # join against the corpus-sized doc_stats table (see bm25_search).
    toks = tokenized.select(
        "doc_id", F.size("tk").alias("doc_len"), F.explode("tk").alias("token")
    )
    postings = toks.groupBy("token", "doc_id", "doc_len").agg(
        F.count("*").alias("tf")
    )
    return _over_postings(postings, cache)


def _over_postings(postings: DataFrame, cache: bool = False) -> SearchIndex:
    """The index whose doc_stats (doc_id, doc_len) and term_stats
    (token, df) are aggregates of ``postings``. ``cache=True`` persists the
    postings and doc_stats (doc_stats feeds corpus_stats and non-search
    consumers)."""
    if cache:
        postings = persist(postings)
    doc_stats = postings.groupBy("doc_id").agg(F.sum("tf").alias("doc_len"))
    if cache:
        doc_stats = persist(doc_stats)
    term_stats = postings.groupBy("token").agg(F.count("*").alias("df"))
    return SearchIndex(postings=postings, doc_stats=doc_stats, term_stats=term_stats)


def refresh_index(
    index: SearchIndex, changed_docs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
) -> SearchIndex:
    """Incremental latest-wins index maintenance (SURVEY.md §7.3; the Solr
    re-index replace-by-id semantics of ``Main/SolrIndexer.java:36-45``):
    postings for changed/new doc_ids replace their previous postings
    entirely; untouched documents' postings pass through.

    Plan shape: anti-join existing postings against the (small) changed-id
    set — broadcast, map-side — then union the freshly built postings.
    doc_stats/term_stats re-derive from the merged postings lazily; at scale
    they are cheap aggregates of the postings table, not corpus re-scans.
    """
    fresh = build_index(changed_docs, id_col, text_col)
    changed_ids = changed_docs.select(F.col(id_col).alias("doc_id")).distinct()
    kept = index.postings.join(F.broadcast(changed_ids), "doc_id", "left_anti")
    return _over_postings(kept.unionByName(fresh.postings))


def delta_refresh(
    index: SearchIndex,
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> SearchIndex:
    """CDC-driven index maintenance: diff the two corpus snapshots
    (operators.pipeline.snapshot_diff) and touch ONLY the delta — added and
    changed documents re-index, removed documents' postings are dropped
    (the case ``refresh_index`` alone cannot express), unchanged documents'
    postings pass through untouched.

    At 100 TB this turns a nightly full index rebuild into a job sized by
    the day's churn: the diff ships (key, digest) pairs, the drop set
    broadcasts, and only changed text is re-tokenized."""
    from ..operators.pipeline import snapshot_diff

    diff = persist(  # feeds both the drop set and the rebuild set
        snapshot_diff(
            old_docs.select(id_col, text_col),
            new_docs.select(id_col, text_col),
            [id_col],
        )
    )
    to_drop = diff.select(F.col(id_col).alias("doc_id"))
    rebuild = new_docs.join(
        diff.filter(F.col("change") != "removed").select(id_col), id_col, "left_semi"
    )
    fresh = build_index(rebuild, id_col, text_col)
    kept = index.postings.join(F.broadcast(to_drop), "doc_id", "left_anti")
    return _over_postings(
        kept.unionByName(fresh.postings).select(
            *fresh.postings.columns  # canonical (token, doc_id, ...) order
        )
    )


def write_token_sorted(df: DataFrame, path: str, buckets: int, *keys: str) -> None:
    """THE postings writer: ``df`` as plain parquet at ``path``, hash-
    partitioned by token into ``buckets`` tasks and sorted by ``keys``
    within each, so the directory holds one sorted file per token hash
    bucket (not input-partitions x buckets tiny ones) and a term lookup
    reads the few row groups its terms fall in."""
    (
        df.repartition(buckets, "token")
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_index(index: SearchIndex, base_path: str, buckets: int = 64) -> None:
    """Persist the index as four parquet directories under ``base_path``:
    token-sorted postings (:func:`write_token_sorted`), doc_stats,
    term_stats and the corpus constants. :func:`read_index` reads them back
    by path, in this process or any other."""
    write_token_sorted(index.postings, f"{base_path}/postings", buckets, "token", "doc_id")
    index.doc_stats.write.mode("overwrite").parquet(f"{base_path}/doc_stats")
    index.term_stats.write.mode("overwrite").parquet(f"{base_path}/term_stats")
    # corpus constants frozen at index time: a served query reads 1 row
    # instead of re-aggregating doc_stats per request
    index.corpus_stats().write.mode("overwrite").parquet(f"{base_path}/corpus_stats")


def read_index(spark: SparkSession, base_path: str) -> SearchIndex:
    """The index :func:`write_index` wrote, resolved once like a served
    snapshot: the 1-row corpus constants are collected here (one Spark
    job), so ``bm25_search`` scores with literals and ranks in one task."""
    n, avg_dl = spark.read.parquet(f"{base_path}/corpus_stats").first()
    return SearchIndex(
        postings=spark.read.parquet(f"{base_path}/postings"),
        doc_stats=spark.read.parquet(f"{base_path}/doc_stats"),
        term_stats=spark.read.parquet(f"{base_path}/term_stats"),
        corpus_values=(n, avg_dl),
    )


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional postings (token, doc_id, pos) — the index table phrase
    queries need (Lucene stores term positions for exactly this). One
    posexplode; same single-shuffle build shape as the tf postings."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokenize_normalized(text_col)).alias("pos", "token"),
    ).select("token", "doc_id", "pos")


def write_positional(postings: DataFrame, path: str, buckets: int = 64) -> None:
    """Persist positional postings token-sorted, like the BM25 postings:
    phrase-query term lookups read only the phrase terms' row groups.
    Serve them with ``phrase_from_postings(spark.read.parquet(path), ...)``."""
    write_token_sorted(postings, path, buckets, "token", "doc_id", "pos")


def phrase_from_postings(
    positional: DataFrame, phrase: list[str], k: int = 10
) -> DataFrame:
    """Phrase matching against (served) positional postings: prune to
    the phrase's terms, then one (doc_id, expected-position) equi-join per
    adjacent pair. Over :func:`build_positional_postings` of the docs it is
    the in-session phrase query (``ext_phrase_search``, the ``/phrase``
    route); over a persisted positional index (:func:`write_positional`)
    the per-request cost is posting reads, not corpus tokenization — the
    same rows either way (pinned by test). Returns (doc_id,
    n_occurrences) top-k by count desc, id asc."""
    pruned = positional.filter(F.col("token").isin(list(set(phrase))))
    matched = pruned.filter(F.col("token") == phrase[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = pruned.filter(F.col("token") == term).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        matched = matched.join(nxt, ["doc_id", "p0"])
    return (
        matched.groupBy("doc_id")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("doc_id"))
        .limit(k)
    )
