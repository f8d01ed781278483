"""Raw tweet-stream source (SURVEY.md §2.1 S1-S3).

The reference ingests Twitter API status JSON written by a stream listener
(``Data Collection/DataCollector.py:26-39``) and reads it per-file with full
schema inference (``Spark/Tweets_preprocessing.py:103``). Schema inference is
fragile across files (the reference defends with explicit column lists —
``Tweets_preprocessing.py:120,150-154``); the new engine fixes the schema
explicitly so every batch/stream parses identically and the parquet/JSON
reader can prune columns.

Scale notes:
- an explicit schema turns ``spark.read.json`` into a single-pass parse (no
  inference pre-scan over 100 TB), keeps column pruning exact, and makes the
  streaming source (``read_tweets_stream``) legal (Structured Streaming
  requires a user-supplied schema).
- file ordering by epoch-encoded filename (reference S3,
  ``Tweets_preprocessing.py:58-79``) is unnecessary for correctness here:
  latest-wins dedup keys on observation time, so batches commute. The
  streaming source option ``latestFirst=false`` preserves arrival order when
  wanted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..cache import persist

# -- nested building blocks (subset of the Twitter v1.1 status payload the
# reference actually touches; SURVEY.md §1.2) ------------------------------

def _entities_type() -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                "hashtags",
                T.ArrayType(T.StructType([T.StructField("text", T.StringType())])),
            ),
            T.StructField(
                "urls",
                T.ArrayType(
                    T.StructType([T.StructField("expanded_url", T.StringType())])
                ),
            ),
            T.StructField(
                "user_mentions",
                T.ArrayType(
                    T.StructType([T.StructField("screen_name", T.StringType())])
                ),
            ),
        ]
    )


def _media_type() -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                "media",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("media_url", T.StringType()),
                            T.StructField("expanded_url", T.StringType()),
                            T.StructField("type", T.StringType()),
                        ]
                    )
                ),
            )
        ]
    )


def _user_type() -> T.StructType:
    return T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("screen_name", T.StringType()),
            T.StructField("verified", T.BooleanType()),
            T.StructField("profile_image_url", T.StringType()),
            T.StructField("profile_banner_url", T.StringType()),
            T.StructField("profile_background_image_url", T.StringType()),
            T.StructField("followers_count", T.LongType()),
            T.StructField("friends_count", T.LongType()),
        ]
    )


def _inner_status_fields() -> list[T.StructField]:
    """Fields shared by top-level, quoted_status, and retweeted_status."""
    return [
        T.StructField("id", T.LongType()),
        T.StructField("created_at", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("truncated", T.BooleanType()),
        T.StructField("possibly_sensitive", T.BooleanType()),
        T.StructField("entities", _entities_type()),
        T.StructField("extended_entities", _media_type()),
        T.StructField(
            "extended_tweet",
            T.StructType(
                [
                    T.StructField("full_text", T.StringType()),
                    T.StructField("entities", _entities_type()),
                    T.StructField("extended_entities", _media_type()),
                ]
            ),
        ),
        T.StructField("favorite_count", T.LongType()),
        T.StructField("quote_count", T.LongType()),
        T.StructField("reply_count", T.LongType()),
        T.StructField("retweet_count", T.LongType()),
        T.StructField("user", _user_type()),
        T.StructField("lang", T.StringType()),
    ]


def tweet_schema() -> T.StructType:
    """Full raw-status schema: inner fields + quote/retweet nesting + the
    quoted permalink the reference reads at ``Tweets_preprocessing.py:138``."""
    inner = T.StructType(_inner_status_fields())
    return T.StructType(
        _inner_status_fields()
        + [
            T.StructField("is_quote_status", T.BooleanType()),
            T.StructField("quoted_status", inner),
            T.StructField("retweeted_status", inner),
            T.StructField(
                "quoted_status_permalink",
                T.StructType([T.StructField("expanded", T.StringType())]),
            ),
        ]
    )


def read_tweets(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """Batch read of raw tweet JSON (reference S2,
    ``Tweets_preprocessing.py:103``) with the fixed schema."""
    return spark.read.schema(tweet_schema()).json(path, multiLine=multiline)


def flat_tweet_schema() -> T.StructType:
    """The §1.3 canonical 24-column flat schema as written by
    ``plans.preprocess.write_outputs`` CSV export (arrays JSON-stringified,
    ids stringified) — the layout ``Main/SolrIndexer.java:89-113`` consumes
    positionally."""
    s = T.StringType()
    return T.StructType(
        [
            T.StructField("org_id", s),
            T.StructField("samp_id", s),
            T.StructField("samp_datetime", T.TimestampType()),
            T.StructField("org_url", s),
            T.StructField("org_media_url", s),
            T.StructField("org_media_type", s),
            T.StructField("org_attached_links", s),
            T.StructField("org_text", s),
            T.StructField("org_hashtags", s),
            T.StructField("org_user_metions", s),
            T.StructField("user_id", s),
            T.StructField("user_name", s),
            T.StructField("user_screen_name", s),
            T.StructField("user_verified", T.BooleanType()),
            T.StructField("user_profile_image_url", s),
            T.StructField("user_profile_banner_url", s),
            T.StructField("user_profile_background_image_url", s),
            T.StructField("user_followers_count", T.LongType()),
            T.StructField("user_friends_count", T.LongType()),
            T.StructField("org_favorite_count", T.LongType()),
            T.StructField("org_quote_count", T.LongType()),
            T.StructField("org_reply_count", T.LongType()),
            T.StructField("org_retweet_count", T.LongType()),
            T.StructField("org_datetime", T.TimestampType()),
        ]
    )


def read_flat_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan of the flat export (reference S7: replaces the Java
    positional reader ``Main/SolrIndexer.java:82-141``). JSON-stringified
    array columns are re-typed to ``array<string>`` via from_json — no
    Python-repr round-trip (SURVEY.md T20 anti-pattern)."""
    from pyspark.sql import functions as F

    df = spark.read.schema(flat_tweet_schema()).option("header", True).csv(path)
    arr_cols = (
        "org_media_url", "org_media_type", "org_attached_links",
        "org_hashtags", "org_user_metions",
    )
    out = df
    for c in arr_cols:
        out = out.withColumn(c, F.from_json(F.col(c), "array<string>"))
    for c in ("org_id", "samp_id", "user_id"):
        out = out.withColumn(c, F.col(c).cast("long"))
    return out


def batches_in_epoch_order(spark: SparkSession, path: str) -> DataFrame:
    """Reference S3 (``Tweets_preprocessing.py:58-79``): the driver loop
    ordered raw files by the epoch embedded in the filename. Here the whole
    directory reads as one DataFrame and per-row provenance comes from
    ``input_file_name()``; the epoch is extracted so downstream logic can
    window or order by batch — no driver-side file loop.
    """
    from pyspark.sql import functions as F

    df = read_tweets(spark, path, multiline=True)
    return df.withColumn("__file", F.input_file_name()).withColumn(
        "__batch_epoch",
        F.regexp_extract(F.col("__file"), r"(\d+)\.json$", 1).cast("long"),
    )


def read_tweets_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming read of a tweet-JSON directory (reference S1: replaces the
    tweepy listener + per-file driver loop, ``DataCollector.py:19-64`` +
    ``Tweets_preprocessing.py:605-621``). English-only / keyword filters are
    applied downstream as ordinary filters (F7/F5)."""
    return spark.readStream.schema(tweet_schema()).json(path)


def read_tweets_with_quarantine(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Production JSONL ingest: PERMISSIVE parse with corrupt records routed
    to a dead-letter frame instead of poisoning the batch (the reference's
    multiLine read simply crashes on a malformed file). Returns
    (valid, quarantined) — quarantined rows carry the raw line for replay
    after an upstream fix.

    A malformed line parses with every schema field null and the raw text
    in ``_corrupt_record``; the split is one column predicate, so both
    frames share the single scan and the valid side's pushdown is intact.
    JSON Lines (not multiLine arrays) keeps the input splittable — at
    100 TB one bad byte quarantines ONE line, not a whole file."""
    schema = tweet_schema().add("_corrupt_record", T.StringType())
    # Spark requires materializing before referencing _corrupt_record
    df = persist(
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    from pyspark.sql import functions as F

    bad = F.col("_corrupt_record").isNotNull()
    valid = df.filter(~bad).drop("_corrupt_record")
    quarantined = df.filter(bad).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return valid, quarantined
