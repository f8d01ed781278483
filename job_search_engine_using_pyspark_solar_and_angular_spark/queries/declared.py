"""The declared correctness query set (SURVEY.md §2.12) — Spark side.

Every callable takes ``(spark, sf_dir)`` and returns a DataFrame whose column
names and types match the DuckDB oracle in ``oracles.py`` exactly (the driver
sorts columns by name and value-hashes, so aliases are part of the contract).

Queries that feed a LIMIT keep their ORDER BY (it selects the rows); pure-set
queries skip the final global sort — the driver's hash is order-insensitive
and a 100 TB result should never pay a full sort for cosmetics.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import generation, release_query_caches  # noqa: F401 (re-export)
from ..io import load_table
from ..functions.text import tokenize_normalized
from ..operators.dedup import latest_wins, split_tag_union
from ..search.bm25 import bm25_search
from ..search.index import build_index

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

# Q18/Q20 stopword list — restated verbatim in the oracle SQL.
STOPWORDS = ("the", "a", "of", "and", "to")
# Q24 fixed user literal (present at every sf).
Q24_USER = "Customer#000000001"


def query(name: str):
    """Register ``fn`` as query ``name``, owning its ``cache.generation``."""

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark, sf_dir, *a, **kw):
            with generation(name, sf_dir):
                return fn(spark, sf_dir, *a, **kw)

        QUERIES[name] = wrapper
        return wrapper

    return deco


@query("q01_scan_project")
def q01(spark, sf_dir):
    """S2/S7/P1/P4/P7: scan + project + rename + cast."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("language"),
        F.col("n_chars").cast("string").alias("n_chars_s"),
    )


@query("q02_filter")
def q02(spark, sf_dir):
    """F1: equality + numeric predicates (pushed into the parquet scan)."""
    e = load_table(spark, sf_dir, "events")
    return e.filter((F.col("event_type") == "purchase") & (F.col("value") > 100)).select(
        "event_id", "user_id", F.round("value", 2).alias("v")
    )


@query("q03_anti_join")
def q03(spark, sf_dir):
    """F2/J3: anti-join replaces the reference's collect+isin
    (``Tweets_preprocessing.py:112-115``)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_anti"
    ).select("o_orderkey")


@query("q04_semi_join")
def q04(spark, sf_dir):
    """F3: semi-join (reference retweet-id membership filter)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    ).select("o_orderkey")


@query("q05_regex_filter")
def q05(spark, sf_dir):
    """F5/T9: rlike predicate (hiring-vocabulary analog)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.lower(F.col("text")).rlike("hash join|merge (join|part)|stream.*window")
    ).select("doc_id")


@query("q06_clean_chain")
def q06(spark, sf_dir):
    """T1-T7: chained regex cleaning."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    ct = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return d.select("doc_id", ct.alias("ct"))


@query("q07_ts_trunc")
def q07(spark, sf_dir):
    """T11/T13: timestamp parse + truncation at seconds precision."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    return e.select(
        "event_id",
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("h"),
    )


@query("q08_latest_wins")
def q08(spark, sf_dir):
    """D1/D2: deterministic latest-wins dedup via row_number window."""
    e = load_table(spark, sf_dir, "events")
    return latest_wins(e, ["user_id"], "ts", ["event_id"]).select(
        "user_id", "event_id", "event_type"
    )


@query("q09_split_union_dedup")
def q09(spark, sf_dir):
    """D4/O6: disjoint split + tag + union + per-key dedup."""
    e = load_table(spark, sf_dir, "events")
    tagged = split_tag_union(
        e,
        [
            (F.col("event_type") == "error", "E"),
            (F.col("event_type") == "purchase", "P"),
        ],
    )
    w = Window.partitionBy("event_id").orderBy(F.col("ts").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_id", "user_id", "tag")
    )


@query("q10_group_having")
def q10(spark, sf_dir):
    """A1: groupBy-count + HAVING (duplicate-detector shape,
    ``Tweets_preprocessing.py:457-458``)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 20)
    )


@query("q11_agg_tpch_q1")
def q11(spark, sf_dir):
    """A1/A2: partial+final hash aggregation (TPC-H Q1 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("cnt"),
        )
    )


@query("q12_broadcast_join")
def q12(spark, sf_dir):
    """J1/J4: dimension join — part is filtered then broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 10)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_brand"
    )


@query("q13_point_join")
def q13(spark, sf_dir):
    """J1: tweet->user point-lookup analog as one broadcast join (replaces the
    reference's N+1 Solr loop, ``SolrRanker.java:80-84``)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    c = load_table(spark, sf_dir, "customer")
    return e.join(F.broadcast(c), e.user_id == c.c_custkey).select(
        "event_id", "c_name"
    )


@query("q14_topk")
def q14(spark, sf_dir):
    """O2: top-k -> TakeOrderedAndProject (no global sort)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    ).limit(10)


@query("q15_user_listing")
def q15(spark, sf_dir):
    """J2/O3: per-entity time-desc listing; the min-user scalar stays in-plan
    as a broadcast join, not a collect."""
    e = load_table(spark, sf_dir, "events")
    mu = e.agg(F.min("user_id").alias("mu"))
    return (
        e.join(F.broadcast(mu), e.user_id == F.col("mu"))
        .orderBy(F.col("ts").desc(), F.col("event_id"))
        .limit(1000)
        .select("event_id", "event_type")
    )


@query("q16_posexplode")
def q16(spark, sf_dir):
    """T15: posexplode over array column."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
    ex = emb.select("vec_id", F.posexplode("embedding").alias("pos", "val"))
    return ex.select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        # + 0.0 canonicalizes IEEE -0.0 (engines disagree on round's sign bit)
        (F.round(F.col("val").cast("double"), 4) + F.lit(0.0)).alias("val"),
    )


@query("q17_wordcount_topk")
def q17(spark, sf_dir):
    """N2/A4: tokenize + word-frequency top-k (word-cloud analog)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(20)
    )


@query("q18_normalized_wordcount")
def q18(spark, sf_dir):
    """N3/N4: normalize + stopword removal + top-k."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    words = d.select(F.explode(tokenize_normalized("text")).alias("word"))
    filtered = words.filter(
        (~F.col("word").isin(*STOPWORDS)) & (F.length("word") > 1)
    )
    return (
        filtered.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word"))
        .limit(20)
    )


@query("q19_grouped_concat")
def q19(spark, sf_dir):
    """A3/T10/T18: ordered grouped string concat (deterministic via
    array_sort, not collect order)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("ids")
    )


@query("q20_bm25_search")
def q20(spark, sf_dir):
    """R1: BM25 keyword search top-10 (the Solr-replacement subsystem)."""
    docs = load_table(spark, sf_dir, "documents")
    index = build_index(docs, cache=True)
    return bm25_search(spark, index, ["spark", "join"], k=10)


@query("q21_array_contains")
def q21(spark, sf_dir):
    """R3/T19: exact-match on a multiValued field (hashtag page analog)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.array_contains(F.split("text", " "), "spark")).select("doc_id")


@query("q22_json_extract")
def q22(spark, sf_dir):
    """JSON field extraction from events.props."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@query("q23_tumbling_window")
def q23(spark, sf_dir):
    """§2.11: tumbling event-time window aggregation (batch form; streaming
    replay parity is tested in tests/test_streaming.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query("q24_user_search")
def q24(spark, sf_dir):
    """R4 composition: user lookup by exact name -> their events time-desc
    (filter -> broadcast join -> sort -> limit)."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_name") == Q24_USER)
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .orderBy(F.col("ts").desc(), F.col("event_id"))
        .limit(1000)
        .select("event_id", "event_type", "c_name")
    )


@query("sql_frontdoor")
def sql_frontdoor(spark, sf_dir):
    """S6: spark.sql over a registered parquet view — the notebook's SQL entry
    point (cell 4). Same text as the oracle."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        "SELECT lang, COUNT(*) AS n_docs, CAST(MAX(n_chars) AS BIGINT) AS max_chars "
        "FROM documents GROUP BY lang"
    )
