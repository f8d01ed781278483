"""Tweet preprocessing pipeline — the reference's core batch job
(``Spark/Tweets_preprocessing.py:102-507``) re-expressed as ONE lazy
DataFrame plan (SURVEY.md §3.2 "new-engine lifecycle").

What the reference computes (and this reproduces):
1. drop possibly-sensitive statuses (``:81-83,112-115``)
2. three-way disjoint split: quoted / retweet / original
   (``:137,227-234,347-348``), each branch flattening the referenced status
   into 24 flat columns (§1.3 schema), with truncated statuses pulling
   full text + entities from ``extended_tweet`` (``:167-215,258-305``)
3. union-merge (``:446-447``), timestamp normalization (``:451-455``)
4. latest-wins dedup on org_id by observation time (``:464-466``)
5. hiring-vocabulary regex filter (``:475-481``)
6. parquet + CSV sinks (``:484-507``)

How it differs (SURVEY.md §4.3 anti-pattern rewrites):
- no mid-plan ``collect``/``toPandas``/RDD hops: the sensitive-id filter is a
  plain predicate per branch (the flag lives on the status being kept, so no
  driver round-trip is ever needed); membership-style variants are exposed as
  ``left_anti`` joins by the operators module.
- truncated/untruncated sub-branches (2 x 3 in the reference) collapse into
  ``when/coalesce`` expressions — same results, one pass, no extra unions.
- ``sort().dropDuplicates()`` becomes a deterministic max_by aggregation
  (operators.dedup.latest_wins_agg).
- array->string CSV export uses ``to_json`` (JVM) instead of a Python UDF.

Scale: the whole pipeline is narrow (filters/projections/unions) except the
final dedup — one shuffle on org_id. At 100 TB that shuffle is the only wide
edge, and it is skew-proof by construction: latest_wins_agg is a max_by
aggregation with partial (map-side) merge, so a celebrity org_id retweeted
millions of times collapses to one row per map task BEFORE the shuffle
(a row_number window would funnel the whole hot key into one task — AQE
skew splitting applies to joins, never windows). Measured: the
``preprocess_skewed`` bench entry runs the same volume with one org_id
holding ~10% of all rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    csv_safe,
    normalize_apostrophes,
    parse_twitter_timestamp,
)
from ..operators.dedup import latest_wins_agg

# Engine's hiring vocabulary (same capability as the reference's 30-phrase
# list at ``Tweets_preprocessing.py:584-589``; the exact phrase list is
# configuration, passed by callers who want reference-identical behavior).
HIRING_TERMS = (
    "hiring",
    "recruit",
    "job opening",
    "job opportunity",
    "we are looking for",
    "we're looking for",
    "join our team",
    "apply now",
    "apply today",
    "career opportunity",
    "now accepting applications",
    "open position",
    "vacancy",
    "send your resume",
    "send your cv",
)


def _first_media_url(prefix: str) -> Column:
    """First media expanded_url (reference P5/U1: replaces the Python UDF at
    ``Tweets_preprocessing.py:85-89,309`` with element_at)."""
    return F.element_at(F.col(f"{prefix}extended_entities.media.expanded_url"), 1)


def flatten_tweets(raw: DataFrame) -> DataFrame:
    """Three-way branch flatten (reference D4 + P2/P3) in ONE pass.

    The reference (and this engine's round-1 version) split the corpus into
    three filtered branches and unioned them back — three scans of the raw
    input per action. The branch predicates are mutually exclusive BY ROW:
      quoted:   is_quote_status AND quoted_status present
      retweet:  NOT quoted AND retweeted_status present
      original: everything else
    so every output column is expressible as a per-row three-way ``when``
    over the same scan. Same 24-column output, one third the input I/O —
    at 100 TB the difference between reading the corpus once and three times.
    """
    pred, cols = _flatten_exprs()
    return raw.filter(pred).select(*cols)


@functools.cache
def _flatten_exprs() -> tuple[Column, list[Column]]:
    """The flatten's (keep-predicate, 24-column select list), built ONCE per
    process (r11). Every expression here is an UNRESOLVED Column tree —
    independent of any DataFrame — and building it costs ~0.4 s of py4j
    round trips (24 columns x branch-pick ``when`` trees). The cost was
    paid per call: once per bench trial, once per STREAMING MICRO-BATCH
    (foreachBatch re-plans per batch), twice per dual-sink preprocess run.
    Resolution still happens per-plan at analysis, so semantics are
    unchanged (same trees, same oracle)."""
    is_quoted = (
        F.coalesce(F.col("is_quote_status"), F.lit(False))
        & F.col("quoted_status.id").isNotNull()
    )
    is_retweet = ~is_quoted & F.col("retweeted_status.id").isNotNull()

    def pick(path: str) -> Column:
        """The org-status field for this row's branch: nested for
        quoted/retweets, top-level for originals."""
        return (
            F.when(is_quoted, F.col(f"quoted_status.{path}"))
            .when(is_retweet, F.col(f"retweeted_status.{path}"))
            .otherwise(F.col(path))
        )

    def pick_trunc(ext_path: str, base_path: str) -> Column:
        """Branch-aware truncated-field pick (extended_tweet wins when the
        org status is truncated) — the reference's truncated sub-branches."""
        truncated = F.coalesce(pick("truncated"), F.lit(False))
        ext = pick(f"extended_tweet.{ext_path}")
        base = pick(base_path)
        return F.when(truncated, F.coalesce(ext, base)).otherwise(base)

    # org_url differs per branch: quoted permalink (reference
    # ``Tweets_preprocessing.py:138``) vs first media url
    org_url = (
        F.when(is_quoted, F.col("quoted_status_permalink.expanded"))
        .when(is_retweet, _first_media_url("retweeted_status."))
        .otherwise(_first_media_url(""))
    )

    kept_pred = ~F.coalesce(pick("possibly_sensitive"), F.lit(False))
    return kept_pred, [
        pick("id").alias("org_id"),
        F.col("id").alias("samp_id"),
        parse_twitter_timestamp(F.col("created_at")).alias("samp_datetime"),
        org_url.alias("org_url"),
        pick_trunc("extended_entities.media.media_url", "extended_entities.media.media_url").alias("org_media_url"),
        pick_trunc("extended_entities.media.type", "extended_entities.media.type").alias("org_media_type"),
        pick_trunc("entities.urls.expanded_url", "entities.urls.expanded_url").alias("org_attached_links"),
        pick_trunc("full_text", "text").alias("org_text"),
        pick_trunc("entities.hashtags.text", "entities.hashtags.text").alias("org_hashtags"),
        # reference column name kept verbatim (CSV consumed positionally by
        # ``Main/SolrIndexer.java:89-113``; the typo is part of the contract)
        pick_trunc("entities.user_mentions.screen_name", "entities.user_mentions.screen_name").alias("org_user_metions"),
        pick("user.id").alias("user_id"),
        pick("user.name").alias("user_name"),
        pick("user.screen_name").alias("user_screen_name"),
        pick("user.verified").alias("user_verified"),
        pick("user.profile_image_url").alias("user_profile_image_url"),
        pick("user.profile_banner_url").alias("user_profile_banner_url"),
        pick("user.profile_background_image_url").alias("user_profile_background_image_url"),
        pick("user.followers_count").alias("user_followers_count"),
        pick("user.friends_count").alias("user_friends_count"),
        pick("favorite_count").alias("org_favorite_count"),
        pick("quote_count").alias("org_quote_count"),
        pick("reply_count").alias("org_reply_count"),
        pick("retweet_count").alias("org_retweet_count"),
        parse_twitter_timestamp(pick("created_at")).alias("org_datetime"),
    ]


def hiring_filter(df: DataFrame, terms=HIRING_TERMS, text_col: str = "org_text") -> DataFrame:
    """Case-folded, apostrophe-normalized vocabulary regex filter
    (reference F5, ``Tweets_preprocessing.py:475-481``)."""
    pattern = "|".join(terms)
    return df.filter(normalize_apostrophes(F.lower(F.col(text_col))).rlike(pattern))


def preprocess(
    raw: DataFrame, apply_hiring_filter: bool = True, terms=HIRING_TERMS
) -> DataFrame:
    """The full pipeline as one lazy plan: flatten -> dedup -> filter.

    Latest-wins keeps the most recently *observed* version of each original
    tweet (engagement counts grow over time), keyed on org_id, ordered by
    samp_datetime desc with samp_id as the deterministic tiebreak
    (reference D1, ``Tweets_preprocessing.py:464-466``).
    """
    flat = flatten_tweets(raw)
    deduped = latest_wins_agg(flat, ["org_id"], "samp_datetime", ["samp_id"])
    return hiring_filter(deduped, terms=terms) if apply_hiring_filter else deduped


def write_outputs(
    df: DataFrame,
    parquet_path: str,
    csv_path: str | None = None,
    partition_by: list[str] | None = None,
    stage_times: dict | None = None,
) -> None:
    """Dual sink (reference S4/S5, ``Tweets_preprocessing.py:484-507``):
    typed parquet (arrays kept) and optionally a CSV export with arrays
    JSON-stringified and ids as strings — ``to_json``/``cast`` instead of the
    reference's Python UDF + regex scrub.

    No ``coalesce(1)``: output file count follows upstream parallelism (the
    reference's single-file write + manual folder flatten at ``:511-581`` is
    a driver bottleneck at any real scale).

    ``partition_by`` (e.g. an ingest-date column) hive-partitions the parquet
    output so time-scoped readers prune partitions instead of scanning the
    corpus — the 100 TB layout.

    The CSV export reads BACK the parquet just written rather than
    re-running ``df``'s plan: two sinks on one lazy DataFrame execute the
    whole upstream pipeline (raw-corpus scan + JSON parse + flatten + the
    dedup shuffle) once PER SINK, and the parquet sink already materialized
    the exact rows the CSV needs. One compute, two writes — at 100 TB the
    difference between reading the raw corpus once and twice; the re-read
    touches only the (post-filter, output-sized) parquet. Values are
    lossless round-trips (parquet is typed), and the read-back takes
    ``df``'s own schema, so partition columns keep their declared types
    instead of types re-inferred from directory names (lossy for string
    values like '00123').

    ``stage_times``: optional dict that receives the per-sink wall seconds
    ({"parquet_sec", "csv_sec"}) — the parquet stage is the whole
    compute-plus-write, the csv stage is read-back-plus-write, so a slow
    run is attributable to compute vs output IO from the record alone
    (VERDICT r10 #2: the 10 GB bench entry was a single opaque number).
    """
    import time as _time

    t0 = _time.perf_counter()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(parquet_path)
    if stage_times is not None:
        stage_times["parquet_sec"] = round(_time.perf_counter() - t0, 3)
    t0 = _time.perf_counter()
    if csv_path:
        # a user-specified schema gives partition columns their declared
        # types: inferring them from directory names would turn the string
        # '00123' into int 123 -> '123' (ADVICE r11)
        back = df.sparkSession.read.schema(df.schema).parquet(parquet_path)
        arr_cols = {"org_media_url", "org_media_type", "org_attached_links",
                    "org_hashtags", "org_user_metions"}
        id_cols = {"org_id", "samp_id", "user_id"}
        out = back.select(
            *[
                F.to_json(F.col(c)).alias(c)
                if c in arr_cols
                else F.col(c).cast("string").alias(c)
                if c in id_cols
                else csv_safe(F.col(c)).alias(c)
                if c == "org_text"
                else F.col(c)
                for c in df.columns
            ]
        )
        out.write.mode("overwrite").option("header", True).csv(csv_path)
        if stage_times is not None:
            stage_times["csv_sec"] = round(_time.perf_counter() - t0, 3)
