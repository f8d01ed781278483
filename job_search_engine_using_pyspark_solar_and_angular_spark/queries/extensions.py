"""North-star extension queries (SURVEY.md §2.12 X1-X4) + the LLM-training-
data-pipeline operator family (dedup sketches, similarity search, text
analysis, multimodal plumbing), each registered in QUERIES with a DuckDB
oracle where the math is exactly reproducible (integer/md5-based sketches,
fixed-order double folds) and rows-only where it is not (LSH ANN).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ..functions.vectors import cosine
from ..operators import dedup, multimodal, pipeline, similarity, textstats
from ..cache import persist
from .declared import QUERIES, query

# N5 lemma dictionary (tiny deterministic sample; production swaps in a full
# AntBNC-style dictionary table — the plan shape is identical).
LEMMA_MAP = {
    "joins": "join",
    "joined": "join",
    "joining": "join",
    "windows": "window",
    "queries": "query",
    "tables": "table",
    "partitions": "partition",
    "streams": "stream",
    "running": "run",
    "ran": "run",
}


@query("x1_dedup_stats")
def x1(spark, sf_dir):
    """Exact-dup corpus stats; groups on md5, not raw text (16-byte keys)."""
    return dedup.exact_dedup_stats(load_table(spark, sf_dir, "documents"))


@query("x1b_dup_groups")
def x1b(spark, sf_dir):
    return dedup.exact_dup_groups(load_table(spark, sf_dir, "documents"))


@query("x2_cosine_topk")
def x2(spark, sf_dir):
    """Exact cosine top-5 vs the vec_id=0 query vector — query vector stays
    in-plan via broadcast crossJoin (no collect)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (F.round(cosine(F.col("embedding"), F.col("qv")), 4) + F.lit(0.0)).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query("x3_corpus_stats")
def x3(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query("x4_approx_distinct")
def x4(spark, sf_dir):
    """approx_count_distinct (HLL) — no SQL oracle (driver rows-only check);
    tests assert ±5% of exact."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(F.approx_count_distinct("user_id").alias("approx_users"))


@query("ext_token_counts")
def ext_token_counts(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textstats.token_count("text").cast("long").alias("n_ws"),
        textstats.token_count_bpe("text").cast("long").alias("n_bpe"),
    )


@query("ext_lang_id")
def ext_lang_id(spark, sf_dir):
    from ..functions.text import tokenize_normalized

    # tokens staged once: HOFs don't codegen, so the inline form re-tokenizes
    # once per language profile (see textstats.lang_id_scores)
    d = load_table(spark, sf_dir, "documents").withColumn(
        "__toks", tokenize_normalized("text")
    )
    return d.select(
        "doc_id",
        textstats.lang_id("text", toks="__toks").alias("lang_pred"),
    )


@query("ext_quality")
def ext_quality(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    scored = textstats.quality_score(d)
    return scored.select(
        "doc_id",
        F.col("q_n_tokens").cast("long").alias("n_tokens"),
        F.round("q_punct_ratio", 4).alias("punct_ratio"),
        F.round("q_stopword_ratio", 4).alias("stopword_ratio"),
        F.col("quality"),
    )


@query("ext_fingerprint")
def ext_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", textstats.fingerprint("text").alias("fp"))


@query("ext_winnow_fp")
def ext_winnow_fp(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return textstats.winnowing_fingerprints(d)


@query("ext_simhash")
def ext_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash(d)


@query("ext_minhash_candidates")
def ext_minhash_candidates(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    # not persisted: AQE's exchange reuse computes the bucket table once for
    # both sides of the self-join, while a persisted one is read through two
    # table-cache stages whose fill jobs race, so its job count would vary
    # from run to run
    return dedup.minhash_lsh_candidates(d)


@query("ext_minhash_signatures")
def ext_minhash_signatures(spark, sf_dir):
    """Signature table flattened for hashing: (doc_id, perm, minhash)."""
    d = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(d)
    return sig.select(
        "doc_id", F.posexplode("sig").alias("perm", "minhash")
    ).select("doc_id", F.col("perm").cast("long").alias("perm"), "minhash")


@query("ext_ngram_jaccard")
def ext_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard over the MinHash candidate pairs."""
    d = load_table(spark, sf_dir, "documents")
    # ONE corpus shingle pass feeds candidates AND the exact verify
    sh = persist(pipeline._shingle_hashes(d, "doc_id", "text", 3))
    cand = dedup.minhash_lsh_candidates(d, shingle_hashes=sh)
    out = dedup.ngram_jaccard_pairs(d, cand, shingle_hashes=sh)
    return out.select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))


@query("ext_simhash_near_dups")
def ext_simhash_near_dups(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(d, max_hamming=6)


@query("ext_pagination")
def ext_pagination(spark, sf_dir):
    """O5: offset/limit pagination over a total order (the Angular client's
    skip/limit the reference server ignored, ``api/Handler.java:34``)."""
    from ..operators.topk import paginate

    e = load_table(spark, sf_dir, "events")
    page = paginate(e, [F.col("ts"), F.col("event_id")], offset=40, limit=20)
    return page.select("event_id", "event_type")


@query("ext_arrays_zip")
def ext_arrays_zip(spark, sf_dir):
    """T16: arrays_zip + posexplode (notebook cell 13's zip of parallel
    annotation arrays), over the two halves of each embedding."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 3)
    z = emb.select(
        "vec_id",
        F.posexplode(
            F.arrays_zip(
                F.slice("embedding", 1, 32).alias("a"),
                F.slice("embedding", 33, 32).alias("b"),
            )
        ).alias("pos", "z"),
    )
    return z.select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        # + 0.0 canonicalizes IEEE -0.0 to +0.0 (ROUND keeps the sign bit and
        # engines disagree on it; the oracle does the same)
        (
            F.round(F.col("z.a").cast("double") * F.col("z.b").cast("double"), 4)
            + F.lit(0.0)
        ).alias("prod"),
    )


@query("ext_lemmatize")
def ext_lemmatize(spark, sf_dir):
    """N5: dictionary lemmatization as a broadcast map-join."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return textstats.lemmatize(d, LEMMA_MAP)


POS_TAG_MAP = {
    "spark": "NOUN",
    "query": "NOUN",
    "data": "NOUN",
    "join": "VERB",
    "run": "VERB",
    "fast": "ADJ",
    "large": "ADJ",
    "distributed": "ADJ",
    "very": "ADV",
    "not": "ADV",
}


SPELL_DICT = [
    "spark", "stream", "window", "filter", "query", "table", "batch",
    "merge", "join", "sort", "group", "data", "hash", "scan", "key",
    "order", "fast", "slow", "small", "value", "column", "customer",
    "line", "part", "row", "agg", "the", "a", "dupe", "bigs",
]


@query("ext_spell_correct")
def ext_spell_correct(spark, sf_dir):
    """N6: deterministic SymSpell-style spell correction (delete-key equi-join
    + vocabulary-grain levenshtein) in place of the descoped pretrained model.
    The dictionary includes near-misses of fixture tokens ("dupe" for "dup",
    "bigs" for "big") so real corrections occur, and exact hits ("row" beats
    "rows") pin the distance-0-wins rule."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return textstats.spell_correct(d, SPELL_DICT)


@query("ext_pos_tag")
def ext_pos_tag(spark, sf_dir):
    """N7 relational tail (notebook cell 14): token-level POS tag join +
    ``isin`` tag-set filter — deterministic dictionary/suffix tagger in place
    of the descoped pretrained model."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tagged = textstats.pos_tag(d, POS_TAG_MAP)
    return tagged.filter(F.col("tag").isin("NOUN", "ADJ"))


@query("ext_rollup")
def ext_rollup(spark, sf_dir):
    """Grouping-sets capability (free Catalyst extension, SURVEY.md §2.5):
    ROLLUP over (event_type, hour)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn(
            "h", F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        )
        .rollup("event_type", "h")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query("ext_tpch_q3")
def ext_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): fact⋈fact⋈dim with selective
    filters on all three inputs, grouped revenue, top-10. Exercises what the
    reference never could (its J1/J2 joins were per-row Solr lookups): filter
    pushdown on all scans, broadcast of the filtered dimension, and a
    TakeOrderedAndProject instead of a full sort. The o_orderpriority column
    stands in for TPC-H's o_shippriority (fixture has no such column)."""
    cutoff = F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query("ext_pivot")
def ext_pivot(spark, sf_dir):
    """Pivot (long→wide): per-user event counts, one column per event type.
    The explicit value list keeps the plan a single pass (no extra distinct
    scan to discover pivot values) and the output schema stable."""
    types = ["click", "view", "purchase", "signup", "error"]
    e = load_table(spark, sf_dir, "events")
    p = e.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return p.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


@query("ext_gap_fill")
def ext_gap_fill(spark, sf_dir):
    """Time-series resample with gap filling: per-user hourly event counts
    over a dense hour spine from the user's first to last event —
    ``sequence()`` + ``explode`` generates the spine in-plan (DuckDB:
    ``generate_series``), a left join fills missing hours with 0. The spine
    stays partitioned by user (no driver-side calendar)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    spans = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    counts = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    return hours.join(counts, ["user_id", "h"], "left").select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
    )


@query("ext_funnel")
def ext_funnel(spark, sf_dir):
    """Event funnel: each user's first signup, first purchase at-or-after it,
    and a 24-hour conversion flag. Two keyed aggregations + one left join —
    the sequential-pattern query a training-data/behavioral pipeline runs
    constantly; no window over the full event stream is needed."""
    e = load_table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return s.join(p, "user_id", "left").select(
        "user_id",
        F.date_format("signup_ts", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.when(
            F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 24 HOURS"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("converted"),
    )


@query("ext_percentile")
def ext_percentile(spark, sf_dir):
    """Exact percentiles (median / p90) of event value per type — Spark
    ``percentile`` and DuckDB ``quantile_cont`` both linear-interpolate over
    the sorted values, so ROUND(...,2) hash-matches. The scale path for
    wide-cardinality groups is ``approx_percentile`` (t-digest, mergeable
    map-side sketches); exact percentile needs the group's values sorted in
    one place and is reserved for small groups like these 5."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 2).alias("p90"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


@query("ext_search_e2e")
def ext_search_e2e(spark, sf_dir):
    """The flagship slice (SURVEY.md §7.2): BM25 top-10 -> join back to the
    doc row -> broadcast-join the user dimension -> ranked envelope columns.
    The whole reference request path (``Handler.java:33-74`` +
    ``SolrRanker.java:66-91`` + the N+1 user loop) as ONE Catalyst plan."""
    from ..search.bm25 import bm25_search
    from ..search.index import build_index

    docs = load_table(spark, sf_dir, "documents")
    users = load_table(spark, sf_dir, "customer")
    index = build_index(docs, cache=True)
    hits = bm25_search(spark, index, ["spark", "join"], k=10)
    enriched = hits.join(docs, "doc_id").withColumn(
        "owner", (F.col("doc_id") % 100) + 1
    )
    return (
        enriched.join(F.broadcast(users), F.col("owner") == users.c_custkey)
        .select("doc_id", "score", "lang", "c_name")
    )


@query("ext_asof_join")
def ext_asof_join(spark, sf_dir):
    """As-of join: each purchase event aligned to the user's latest signup
    at-or-before it (event/feature-snapshot alignment)."""
    from ..operators.joins import as_of_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    # dedup right side per (user, ts): equal-ts duplicates would make the
    # as-of pick order-dependent in ANY engine
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 2).alias("signup_value"))
    )
    out = as_of_join(purchases, signups, key="user_id", right_cols=["signup_value"])
    return out.select("event_id", "user_id", "signup_value")


@query("ext_range_join")
def ext_range_join(spark, sf_dir):
    """Range-bucket join: event values into static half-open buckets via a
    broadcast non-equi join."""
    from ..operators.joins import range_bucket_join

    e = load_table(spark, sf_dir, "events")
    ranges = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high")],
        "lo double, hi double, bucket string",
    )
    out = range_bucket_join(
        e.select("event_id", "value"), ranges, value_col="value"
    )
    return out.select("event_id", "bucket")


@query("ext_sessionize")
def ext_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-minute inactivity gap) per user."""
    from ..operators.joins import sessionize

    e = load_table(spark, sf_dir, "events")
    s = sessionize(e, gap_seconds=1800)
    return s.select(
        "user_id",
        F.col("session_idx").cast("long").alias("session_idx"),
        "n_events",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
    )


@query("ext_cube")
def ext_cube(spark, sf_dir):
    """CUBE over (event_type, lang-of-user bucket): all 4 grouping sets."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.withColumn("ub", (F.col("user_id") % 4).cast("long"))
        .cube("event_type", "ub")
        .agg(F.count("*").alias("n"))
    )


@query("ext_intersect")
def ext_intersect(spark, sf_dir):
    """Set intersection (SURVEY.md §2.7 — free in Spark; absent from the
    reference, which achieved disjointness via anti-membership)."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.array_contains(F.split("text", " "), "spark")).select("doc_id")
    b = d.filter(F.array_contains(F.split("text", " "), "join")).select("doc_id")
    return a.intersect(b)


@query("ext_except")
def ext_except(spark, sf_dir):
    """Set difference: docs mentioning spark but never join."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.array_contains(F.split("text", " "), "spark")).select("doc_id")
    b = d.filter(F.array_contains(F.split("text", " "), "join")).select("doc_id")
    return a.exceptAll(b).distinct()


@query("ext_window_analytics")
def ext_window_analytics(spark, sf_dir):
    """Analytic window functions (lag / running sum / row_number) per user —
    the general form of the D1 dedup window; one shuffle on user_id."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.sum("value").over(wsum), 2).alias("running_value"),
        F.row_number().over(w).alias("rn"),
    )


@query("ext_preprocess_pipeline")
def ext_preprocess_pipeline(spark, sf_dir):
    """END-TO-END preprocess pipeline (plans/preprocess.py — the reference's
    whole batch job, ``Spark/Tweets_preprocessing.py:102-507``) over a
    deterministic tweet-shaped corpus synthesized from ``documents``: nested
    flatten + 3-way branch split + sensitive drops + latest-wins dedup +
    vocabulary regex filter, hash-checked against a field-by-field oracle."""
    from ..plans.preprocess import preprocess
    from ..sources.synthetic import tweets_from_documents

    docs = load_table(spark, sf_dir, "documents")
    out = preprocess(
        tweets_from_documents(docs), terms=("spark", "join", "window")
    )
    return out.select(
        "org_id",
        "samp_id",
        F.date_format("samp_datetime", "yyyy-MM-dd HH:mm:ss").alias("samp_dt"),
        "org_url",
        "org_text",
        # JSON-stringified: the verification driver's pandas canonicalizer
        # cannot sort/hash list cells (r02: "unhashable type: 'list'"), and
        # Spark's to_json / DuckDB's to_json agree byte-for-byte on
        # array<string> (compact, double-quoted).
        F.to_json("org_hashtags").alias("org_hashtags"),
        "user_id",
        "user_name",
        "org_favorite_count",
        F.date_format("org_datetime", "yyyy-MM-dd HH:mm:ss").alias("org_dt"),
    )


@query("ext_multimodal_features")
def ext_multimodal_features(spark, sf_dir):
    """REAL image decode loop (r4 — the last S10/U5 partial closed): per doc,
    JVM expressions derive solid-fill PPM parameters (dims from text length,
    RGB from md5 bytes); the real Netpbm encoder writes an actual P6
    header + raster; the real decoder parses the header back and averages
    every raster byte (integer-exact). Solid fill keeps the stats
    closed-form, so the WHOLE encode->decode->stats loop has an exact
    DuckDB oracle: a decoder that misparsed the header, dropped the
    maxval line, or averaged the wrong bytes hash-mismatches. sha256_16 of
    the text rides along JVM-side (cross-engine SHA check retained from the
    stub-era entry). Payloads never shuffle; the doc join is id-keyed."""
    d = load_table(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text").cast("binary"))
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.octet_length("text") % 13).cast("int").alias("width"),
        (F.lit(4) + F.octet_length("text") % 7).cast("int").alias("height"),
        F.conv(F.substring(md5, 1, 2), 16, 10).cast("int").alias("r"),
        F.conv(F.substring(md5, 3, 2), 16, 10).cast("int").alias("g"),
        F.conv(F.substring(md5, 5, 2), 16, 10).cast("int").alias("b"),
    )
    media = multimodal.encode_solid_ppm_payloads(params)
    feats = multimodal.extract_features(media).select(
        "media_id", "format", "n_bytes", "width", "height",
        "n_pixels", "mean_r", "mean_g", "mean_b",
    )
    sha = d.select(
        F.col("doc_id").alias("media_id"),
        F.substring(F.sha2(F.col("text").cast("binary"), 256), 1, 16).alias(
            "sha256_16"
        ),
    )
    return feats.join(sha, "media_id").select(
        "media_id", "sha256_16", "format", "n_bytes", "width", "height",
        "n_pixels", "mean_r", "mean_g", "mean_b",
    )


@query("ext_ocr_features")
def ext_ocr_features(spark, sf_dir):
    """The OCR enrichment hook (reference SolrIndexer.java:115-129) run
    end-to-end through the Arrow mapInPandas contract over the REAL
    encoded PPM corpus, with the deterministic pixel-probe engine
    (multimodal.pixel_probe_engine) standing in for tesseract: the decoded
    raster's dims + first-pixel RGB come back as text, so the whole
    encode -> decode -> engine -> per-row envelope loop is closed-form and
    exact-oracle-checked. Swapping in the real import-gated engine changes
    ONLY the engine callable (same schema, same batches)."""
    d = load_table(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text").cast("binary"))
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(4) + F.octet_length("text") % 13).cast("int").alias("width"),
        (F.lit(4) + F.octet_length("text") % 7).cast("int").alias("height"),
        F.conv(F.substring(md5, 1, 2), 16, 10).cast("int").alias("r"),
        F.conv(F.substring(md5, 3, 2), 16, 10).cast("int").alias("g"),
        F.conv(F.substring(md5, 5, 2), 16, 10).cast("int").alias("b"),
    )
    media = multimodal.encode_solid_ppm_payloads(params)
    return multimodal.ocr_text(
        media, engine=multimodal.pixel_probe_engine
    ).select("media_id", "format", "ocr_text", "ocr_skipped")


@query("ext_audio_features")
def ext_audio_features(spark, sf_dir):
    """REAL audio decode loop: per doc, derive an alternating-amplitude
    PCM16 tone (amplitudes from md5 bytes, length from text length), write
    it through the real RIFF/WAVE encoder, decode by walking the actual
    chunk list, and emit frame stats (n_samples, peak, integer-isqrt RMS).
    Alternation keeps peak/RMS closed-form -> exact DuckDB oracle; the
    decoder still parses fmt (sample_rate, channels) from the header and
    unpacks every int16 frame."""
    d = load_table(spark, sf_dir, "documents")
    md5 = F.md5(F.col("text").cast("binary"))
    params = d.select(
        F.col("doc_id").alias("media_id"),
        (F.lit(50) + F.octet_length("text") % 100).cast("int").alias("n_samples"),
        (F.lit(1) + F.conv(F.substring(md5, 1, 2), 16, 10).cast("int") * 100).alias(
            "amp_a"
        ),
        (F.lit(1) + F.conv(F.substring(md5, 3, 2), 16, 10).cast("int") * 100).alias(
            "amp_b"
        ),
    )
    media = multimodal.encode_tone_wav_payloads(params, sample_rate=8000)
    return multimodal.extract_features(media).select(
        "media_id", "format", "sample_rate", "channels", "n_samples", "peak", "rms"
    )


@query("ext_ann_lsh")
def ext_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate NN (rows-only check: hyperplane signs are
    float-sensitive). Tests assert recall vs the exact scorer instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    bucketed = similarity.lsh_bucket(emb.crossJoin(F.broadcast(q)), num_planes=8)
    qb = similarity.lsh_bucket(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding")), num_planes=8
    ).select(F.col("bucket").alias("qbucket"))
    cand = bucketed.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket")).filter(
        F.col("vec_id") != 0
    )
    return (
        cand.select(
            "vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 4).alias("sim")
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query("ext_ann_ivf")
def ext_ann_ivf(spark, sf_dir):
    """IVF approximate NN (rows-only: centroid assignment is float-order
    sensitive). Recall vs the exact scorer is asserted in tests. The query
    vector stays IN-PLAN (broadcast crossJoin, mirroring x2) — no driver-side
    collect mid-query."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return similarity.ivf_topk_df(emb, q, k=5, nprobe=4, exclude_ids=[0])


@query("ext_ann_ivf_trained")
def ext_ann_ivf_trained(spark, sf_dir):
    """IVF top-k over a k-means-trained codebook (rows-only: float means are
    partition-order sensitive; tests assert the Lloyd monotonicity invariant).
    Same probe/scoring plan as ext_ann_ivf — only the codebook differs."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.ivf_train_kmeans(emb, n_centroids=16, iters=2)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return similarity.ivf_topk_df(
        emb, q, k=5, nprobe=4, exclude_ids=[0], centroids=cents
    )


@query("ext_embedding_near_dups")
def ext_embedding_near_dups(spark, sf_dir):
    """Embedding near-dup pairs within LSH buckets (rows-only check).

    threshold=0.25 is derived from the test fixture's similarity
    distribution: the synthetic embeddings are near-orthogonal (max pairwise
    cosine ~0.51, p99 ~0.29 at sf0.01), so the production default of 0.95
    returns an empty set and verifies nothing. 0.25 yields a stable
    ~50-pair result at sf0.001-0.01 that actually exercises the bucket
    self-join + refine + threshold path; the planted-pair recall test in
    tests/test_operators.py pins semantics at realistic thresholds."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(emb, threshold=0.25)


@query("ext_funnel")
def ext_funnel(spark, sf_dir):
    """Ordered conversion funnel over the event stream: per user, the
    first view, the first click AFTER that view, the first purchase AFTER
    that click — then one corpus row of stage conversion counts. The
    order-sensitive step composition (stage N's window opens when stage
    N-1 fires) is what separates a funnel from three independent counts.
    Two grouped passes on user_id; timestamps compared raw (exact
    microsecond equality across engines)."""
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").cast("long").alias("n_view"))
        .crossJoin(c.agg(F.count("*").cast("long").alias("n_click_after_view")))
        .crossJoin(
            p.agg(F.count("*").cast("long").alias("n_purchase_after_click"))
        )
    )


@query("ext_cohort_retention")
def ext_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity day, distinct
    active users at day offsets 0-3 — the activation/retention matrix of
    product analytics. One pass for first-day, one distinct (user, day)
    activity set, a day-offset join; all integer/date arithmetic."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0")
    )
    active = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    return (
        active.join(first, "user_id")
        .select(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("d0")).cast("long").alias("day_offset"),
            "user_id",
        )
        .filter(F.col("day_offset") <= 3)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query("ext_tfidf_topterms")
def ext_tfidf_topterms(spark, sf_dir):
    """Per-document keyword extraction: top-3 terms by tf-idf
    (tf × ln(N/df)) — the classic summarization pass beside BM25 ranked
    retrieval (same postings statistics, document-centric output). Two
    token-stream aggs (per-doc tf, per-term df), the 1-row corpus count
    broadcast in-plan, a per-DOC window for the top-3. Sort key is the
    round-4 score with a term tie-break, mirrored exactly in the oracle."""
    from ..functions.text import tokenize_normalized

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize_normalized("text")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").cast("long").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias(
                "score"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.select(
            "doc_id", "term", "score", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


@query("ext_length_trim")
def ext_length_trim(spark, sf_dir):
    """Length-outlier trimming — the standard corpus-cleaning step that
    drops the shortest/longest tails: keep documents whose n_chars lies in
    [p05, p95] of the corpus distribution. The exact interpolated
    percentiles are computed IN-PLAN (1-row aggregate broadcast into the
    filter — no driver collect), so the cut adapts to the corpus rather
    than hard-coding thresholds. Emits the kept doc ids with the bounds
    they were admitted under."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.expr("percentile(n_chars, 0.05)").alias("p05"),
        F.expr("percentile(n_chars, 0.95)").alias("p95"),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("n_chars").cast("double") >= F.col("p05"))
            & (F.col("n_chars").cast("double") <= F.col("p95"))
        )
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round("p05", 2).alias("p05"),
            F.round("p95", 2).alias("p95"),
        )
    )


@query("ext_pmi_bigrams")
def ext_pmi_bigrams(spark, sf_dir):
    """Collocation mining: top bigrams by count with pointwise mutual
    information — PMI = ln(p(ab) / (p(a)p(b))) over corpus token streams.
    The phrase-discovery pass of corpus analysis (high-PMI pairs are
    multiword expressions worth protecting from tokenization). Two
    token-stream aggs (unigram + bigram counts) + two vocab-grain joins;
    the 1-row totals stay in-plan via broadcast crossJoin. Floats appear
    only in the final rounded ln expression, composed identically in the
    oracle (round-4 log parity: same convention as unigram surprisal)."""
    from ..functions.hashing import token_ngrams
    from ..functions.text import tokenize_normalized

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokenize_normalized("text")).alias("token"))
    uni = toks.groupBy("token").agg(F.count("*").alias("cu"))
    tu = uni.agg(F.sum("cu").cast("long").alias("tu"))
    grams = d.select(
        F.explode(token_ngrams(tokenize_normalized("text"), 2)).alias("gram")
    )
    big = grams.groupBy("gram").agg(F.count("*").alias("cb"))
    tb = big.agg(F.sum("cb").cast("long").alias("tb"))
    w1 = F.split("gram", " ").getItem(0)
    w2 = F.split("gram", " ").getItem(1)
    u1 = uni.select(F.col("token").alias("__w1"), F.col("cu").alias("ca"))
    u2 = uni.select(F.col("token").alias("__w2"), F.col("cu").alias("cc"))
    scored = (
        big.withColumn("__w1", w1)
        .withColumn("__w2", w2)
        .join(u1, "__w1")
        .join(u2, "__w2")
        .crossJoin(F.broadcast(tu))
        .crossJoin(F.broadcast(tb))
        .select(
            "gram",
            F.col("cb").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("cb") / F.col("tb"))
                    / ((F.col("ca") / F.col("tu")) * (F.col("cc") / F.col("tu")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return (
        scored.filter(F.col("n_pair") >= 5)
        .orderBy(F.col("n_pair").desc(), "gram")
        .limit(20)
    )


@query("ext_dataset_card")
def ext_dataset_card(spark, sf_dir):
    """One-row corpus dataset card — the summary block of a training-data
    release note: document/language counts, exact-duplicate rate (basis
    points, integer-exact), whitespace-token volume, and character-length
    distribution (mean + exact interpolated percentiles). One scan, one
    global agg; every field either integer arithmetic or a rounded exact
    aggregate, so the card is fully oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    card = d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
        F.sum(toks.cast("long")).alias("total_ws_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 2).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 2).alias("p90_chars"),
    )
    return card.select(
        "*",
        F.expr(
            "CAST((n_docs - n_unique_texts) * 10000 DIV n_docs AS BIGINT)"
        ).alias("dup_rate_bp"),
    )


@query("ext_duplicated_ngrams")
def ext_duplicated_ngrams(spark, sf_dir):
    """Cross-document exact-substring duplication report at 5-gram grain
    (the n-gram-level signal behind ExactSubstr-style dedup): the top
    boilerplate 5-grams by how many DISTINCT documents contain them, with
    total occurrence counts. One tokenize + explode + two-level agg —
    shuffle keys are grams, never documents."""
    from ..functions.hashing import token_ngrams
    from ..functions.text import tokenize_normalized

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(token_ngrams(tokenize_normalized("text"), 5)).alias("gram"),
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "gram")
        .limit(20)
    )


@query("ext_shard_manifest")
def ext_shard_manifest(spark, sf_dir):
    """The trainer-handoff export manifest: deterministic md5 shard
    assignment + per-shard doc/token counts, id range, and an order-
    independent exact content digest (sum of per-row md5 hashes) — what a
    training run checks its delivered shards against. Every column is
    integer/hash arithmetic, so the whole manifest is oracle-checked.

    The digest is emitted as a STRING: its exact value exceeds int64
    (decimal(38,0) on the Spark side, HUGEINT in DuckDB), and a
    pandas/arrow fetch renders HUGEINT as lossy float64 on ONE side only
    — the exact CORRECTNESS_r04 hazard class, caught here by
    tools/certify_window.py's pandas model during r7 batch-B
    pre-flighting. Decimal-digit strings are engine-identical."""
    d = load_table(spark, sf_dir, "documents")
    return pipeline.shard_manifest(d, n_shards=8).withColumn(
        "content_digest", F.col("content_digest").cast("string")
    )


@query("ext_diversity_sample")
def ext_diversity_sample(spark, sf_dir):
    """Cluster-quota diversity sampling, integer-exact end to end: corpus
    int8 quantization (shared per-dimension scale) -> hash-selected leader
    exemplars -> integer-L2 nearest assignment -> per-cluster md5-ranked
    quota. The semantic-coverage selection step of a training-data pipeline
    (SemDeDup-style cluster balancing), fully SQL-oracle-checked because
    every step is integer/hash arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.diversity_sample(emb, n_centroids=8, per_cluster=10)


@query("ext_cluster_assign")
def ext_cluster_assign(spark, sf_dir):
    """Integer-exact leader clustering: every vector's nearest hash-selected
    exemplar by squared-L2 over shared-space int8 codes (the exact-oracle
    twin of trained k-means assignment, which is float/rows-only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cluster_assign_int8(emb, n_centroids=8)


@query("ext_train_test_split")
def ext_train_test_split(spark, sf_dir):
    """Deterministic 80/20 train/test assignment keyed on md5(doc_id) —
    layout- and run-stable (unlike df.sample), exactly oracle-checkable."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    return sampling.train_test_split(d, "doc_id", test_bps=2_000).select(
        "doc_id", "split"
    )


@query("ext_pseudonymize")
def ext_pseudonymize(spark, sf_dir):
    """Keyed pseudonymization for training-data release: user ids replaced
    by salted md5 tokens (same id → same token across tables/runs/layouts,
    so grouping and joins survive; rotate the salt to sever linkability).
    The demo aggregates per PSEUDONYMOUS user — top-20 most active with
    purchase counts — proving analytics still work on the released ids.
    Row-local transform + one group-by; exact oracle via the shared md5
    scheme."""
    from ..operators import pipeline as pl

    e = load_table(spark, sf_dir, "events")
    p = pl.pseudonymize(e, ["user_id"])
    return (
        p.groupBy(F.col("user_id").alias("user_token"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).cast("long").alias("n_purchases"),
        )
        .orderBy(F.col("n_events").desc(), "user_token")
        .limit(20)
    )


@query("ext_typo_pairs")
def ext_typo_pairs(spark, sf_dir):
    """Typo-cluster discovery: lev-1 pairs within the corpus VOCABULARY via
    the delete-key-blocked fuzzy self-join (never a cross join; the blocked
    pair set is provably complete at distance 1 — triangulated against
    brute force in tests). The corpus-cleaning signal a normalization pass
    feeds on: near-identical frequent tokens are merge candidates. Top-20
    by combined frequency, deterministic tie-break."""
    from ..functions.text import tokenize_normalized
    from ..operators.joins import fuzzy_join

    d = load_table(spark, sf_dir, "documents")
    tf = persist(
        d.select(F.explode(tokenize_normalized("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    pairs = fuzzy_join(
        tf.select(F.col("tok").alias("tok_a")),
        tf.select(F.col("tok").alias("tok_b")),
        "tok_a",
        "tok_b",
    ).filter(F.col("tok_a") < F.col("tok_b"))
    ca = tf.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = tf.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        pairs.join(ca, "tok_a")
        .join(cb, "tok_b")
        .select(
            "tok_a",
            "tok_b",
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            (F.col("c_a") + F.col("c_b")).cast("long").alias("c_sum"),
        )
        .orderBy(F.col("c_sum").desc(), "tok_a", "tok_b")
        .limit(20)
    )


@query("ext_temperature_mix")
def ext_temperature_mix(spark, sf_dir):
    """Temperature-scaled language mixture (the multilingual-LM alpha=0.5
    smoothing): per language, raw token-mass share vs the sqrt-smoothed
    share in floored basis points — low-resource languages upsampled,
    high-resource downsampled. Exact: integer masses, engine-identical
    floor(sqrt), integer-ratio shares; totals kept in-plan via a window
    over the language-count-sized frame."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    return sampling.temperature_mix(d, "lang")


@query("ext_kfold")
def ext_kfold(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment (md5-bucket mod k —
    every doc in exactly one fold on every run and layout, so no
    train/eval leakage by construction) with the per-fold balance panel:
    doc count and exact char mass. Row-local assignment + one tiny agg."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    return (
        sampling.kfold_assign(d, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("fold")
    )


@query("ext_stratified_sample")
def ext_stratified_sample(spark, sf_dir):
    """Per-event-type deterministic downsampling (class rebalancing): views
    at 10%, purchases kept whole — one row-local hash filter, no shuffle."""
    from ..operators import sampling

    e = load_table(spark, sf_dir, "events")
    return sampling.stratified_hash_sample(
        e,
        "event_id",
        "event_type",
        {"view": 1_000, "click": 5_000, "purchase": 10_000},
        default_bps=2_500,
    ).select("event_id", "event_type")


@query("ext_multimodal_frames")
def ext_multimodal_frames(spark, sf_dir):
    """Multimodal fan-out contract (S10/U5 family): 1 media row -> k frame
    rows via mapInPandas. Deterministic payload slices over ASCII text bytes,
    so byte arithmetic == char arithmetic and DuckDB can state the oracle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = multimodal.attach_binary_payload(d, "doc_id", "text")
    frames = multimodal.frame_sample_stub(media, every_n=10)
    return frames.select(
        "media_id",
        "frame_no",
        F.col("frame_payload").cast("string").alias("frame_text"),
    )


@query("ext_cosine_rerank_np")
def ext_cosine_rerank_np(spark, sf_dir):
    """Vectorized (Arrow + numpy) exact cosine top-k — the throughput rerank
    tier behind the same API as x2's oracle-exact HOF tier. Rows-only here;
    tests/test_operators.py pins id-for-id agreement with the HOF tier.
    Query vector in-plan (broadcast crossJoin) — construction is lazy."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return similarity.cosine_topk_np(emb, query=q, k=5, exclude_ids=[0])


@query("ext_decontaminate")
def ext_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing any 3-gram shingle with
    the (deterministic doc_id%50==0) benchmark subset, with overlap ratio.
    Benchmark shingle set broadcasts; the corpus never shuffles for the
    membership test."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return pipeline.decontaminate(corpus, bench)


@query("ext_pii_redact")
def ext_pii_redact(spark, sf_dir):
    """PII redaction + counts over a corpus with deterministically planted
    emails/phones/IPv4s (the synthetic corpus has none): row-local
    regexp_replace/regexp_count chain, no shuffle, Java-regex/RE2-portable
    patterns so the oracle is exact."""
    doc_id = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                doc_id.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 5 == 0,
            F.concat(
                F.lit(" call 555-010-"),
                F.lpad((doc_id % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 11 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (doc_id % 256).cast("string"),
                F.lit("."),
                ((doc_id * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", planted.alias("text")
    )
    return pipeline.redact_pii(d)


@query("ext_repetition")
def ext_repetition(spark, sf_dir):
    """Gopher-style repetition signals (top-token / top-bigram fractions +
    keep/drop flag): one unigram∪bigram count, one conditional-agg rollup."""
    d = load_table(spark, sf_dir, "documents")
    return pipeline.repetition_stats(d)


@query("ext_corpus_shuffle")
def ext_corpus_shuffle(spark, sf_dir):
    """Deterministic epoch shuffle: (doc_id, shard, pos) — stable across
    runs/layouts/engines; per-shard sort only, no global order."""
    d = load_table(spark, sf_dir, "documents")
    return pipeline.corpus_shuffle(d)


@query("ext_dedup_clusters")
def ext_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: MinHash-LSH candidate pairs -> connected components
    (hash-min label propagation; the iterative step pairs alone can't give —
    pair relations aren't transitive, clusters are). (doc_id, cluster_id =
    min id in component) for every clustered doc; oracle is a DuckDB
    recursive CTE over the same LSH pair set."""
    d = load_table(spark, sf_dir, "documents")
    # fused bucket->clusters path (one dedup shuffle; see
    # connected_components_from_buckets). banded is NOT persisted (r11):
    # the self-join's two sides are identical subtrees, so ReuseExchange
    # computes the LSH pipeline once anyway — the cache write bought
    # nothing (measured equal-or-faster without it, and no memory held)
    banded = dedup.minhash_bucket_table(d)
    cc = dedup.connected_components_from_buckets(banded)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@query("ext_near_dedup")
def ext_near_dedup(spark, sf_dir):
    """Canonical near-dedup of the corpus: every LSH cluster keeps only its
    minimum doc_id; unclustered docs survive. One left_anti join."""
    d = load_table(spark, sf_dir, "documents")
    # fused bucket->clusters path (one dedup shuffle; see
    # connected_components_from_buckets). banded is NOT persisted (r11):
    # the self-join's two sides are identical subtrees, so ReuseExchange
    # computes the LSH pipeline once anyway — the cache write bought
    # nothing (measured equal-or-faster without it, and no memory held)
    banded = dedup.minhash_bucket_table(d)
    cc = dedup.connected_components_from_buckets(banded)
    out = dedup.near_dedup_survivors(d, None, clusters=cc)
    return out.select("doc_id")


@query("ext_snapshot_diff")
def ext_snapshot_diff(spark, sf_dir):
    """CDC between two deterministic snapshots of events (drop %3 keys,
    double %7 values): (event_id, change) for added/removed/changed keys —
    the incremental-refresh primitive. Values compared as integer cents so
    the digest is engine-portable."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    old = e.filter(F.col("event_id") % 5 != 0)
    new = e.filter(F.col("event_id") % 3 != 0).withColumn(
        "cents",
        F.when(F.col("event_id") % 7 == 0, F.col("cents") * 2).otherwise(
            F.col("cents")
        ),
    )
    return pipeline.snapshot_diff(old, new, ["event_id"])


@query("ext_pack_sequences")
def ext_pack_sequences(spark, sf_dir):
    """Concatenate-and-chunk sequence packing into 512-token context windows
    over the deterministic shuffled order; integer window math, exact."""
    d = load_table(spark, sf_dir, "documents")
    return pipeline.pack_sequences(d, budget=512)


@query("ext_dedup_lines")
def ext_dedup_lines(spark, sf_dir):
    """Inter-document line dedup (boilerplate removal) over a corpus with
    deterministically planted boilerplate lines (copyright header on %4
    docs, newsletter footer on %6): shared lines dropped, per-doc order
    preserved. concat_ws skips the null branches in both engines."""
    boiler_top = F.when(
        F.col("doc_id") % 4 == 0,
        F.lit("copyright acme corp - all rights reserved"),
    )
    boiler_bot = F.when(
        F.col("doc_id") % 6 == 0, F.lit("subscribe to our newsletter")
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws("\n", boiler_top, F.col("text"), boiler_bot).alias("text"),
    )
    return pipeline.dedup_lines(d, max_doc_freq=2)


@query("ext_interval_join")
def ext_interval_join(spark, sf_dir):
    """Interval-overlap join: view events whose 30-minute window intersects a
    purchase's 30-minute window for the same user — grid-cell equi-join, not
    an inequality cross-join."""
    from ..operators.joins import interval_overlap_join

    e = load_table(spark, sf_dir, "events")
    half = F.expr("INTERVAL 30 MINUTES")
    l = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("l_event"),
        F.col("ts").alias("l_start"),
        (F.col("ts") + half).alias("l_end"),
    )
    r = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("r_event"),
        F.col("ts").alias("r_start"),
        (F.col("ts") + half).alias("r_end"),
    )
    out = interval_overlap_join(l, r, "user_id")
    return out.select("user_id", "l_event", "r_event")


@query("ext_chunk_documents")
def ext_chunk_documents(spark, sf_dir):
    """RAG-prep chunking: overlapping 64-token windows (8-token overlap),
    row-local HOF fan-out — zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return pipeline.chunk_documents(d, chunk_tokens=64, overlap=8)


@query("ext_unigram_logprob")
def ext_unigram_logprob(spark, sf_dir):
    """Unigram-LM surprisal (perplexity-filter stand-in): corpus-frequency
    log-probs, two token-stream passes."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.unigram_logprob(d)


@query("ext_ntile_segments")
def ext_ntile_segments(spark, sf_dir):
    """Decile user segmentation by total purchase spend (ntile over a
    deterministic total order) — the rank-bucket window the analytics tier
    needs beyond lag/sum/row_number. At scale the global ntile order is the
    one unavoidable rangepartition sort; the grouping beneath it shuffles
    on user_id like any agg."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.round(F.sum("value"), 2).alias("spend"))
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("user_id"))
    return spend.withColumn("decile", F.ntile(10).over(w).cast("long"))


@query("ext_event_transitions")
def ext_event_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive event types
    per user (lead over (user, ts)): the behavioral-sequence aggregation
    behind funnels. (from_type, to_type, n)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )


@query("ext_histogram")
def ext_histogram(spark, sf_dir):
    """Value histogram with fixed-width 50-unit bins: (bin, n, lo, hi) —
    the numeric-profiling aggregation, integer bin keys so the oracle is
    exact. One partial+final agg."""
    e = load_table(spark, sf_dir, "events")
    b = F.floor(F.col("value") / 50).cast("long")
    return (
        e.groupBy(b.alias("bin"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@query("ext_corr_profile")
def ext_corr_profile(spark, sf_dir):
    """Per-event-type Pearson correlation and sample covariance between
    value and hour-of-day: the statistical-profiling aggregates (both
    engines implement the same single-pass formulas; rounded to 4)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "hr", F.hour("ts").cast("double")
    )
    return e.groupBy("event_type").agg(
        F.round(F.corr("value", "hr"), 4).alias("corr_vh"),
        F.round(F.covar_samp("value", "hr"), 4).alias("covar_vh"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
    )


@query("ext_facet_counts")
def ext_facet_counts(spark, sf_dir):
    """Search-UI facet counts: top-3 values per facet dimension in ONE pass —
    explode a facet map (one row per (facet, value)), count, per-facet
    top-k window. The Solr-facet analog without per-facet passes."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    pairs = d.select(
        F.explode(
            F.create_map(
                F.lit("lang"), F.col("lang"),
                F.lit("source"), F.col("source"),
            )
        ).alias("facet", "value")
    )
    counts = pairs.groupBy("facet", "value").agg(F.count("*").alias("c"))
    w = Window.partitionBy("facet").orderBy(F.col("c").desc(), F.col("value"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("facet", "value", F.col("c").cast("long").alias("c"))
    )


@query("ext_suggest_next")
def ext_suggest_next(spark, sf_dir):
    """Bigram query completion: top-5 tokens following 'hash' with
    conditional probabilities."""
    from ..search.api import suggest_next_token

    d = load_table(spark, sf_dir, "documents")
    return suggest_next_token(d, "hash", k=5)


@query("ext_autocomplete")
def ext_autocomplete(spark, sf_dir):
    """Prefix autocomplete: top-10 corpus tokens starting with 's' (the
    richest prefix in the fixture vocabulary — 6 completions)."""
    from ..search.api import autocomplete
    from ..search.index import build_index

    d = load_table(spark, sf_dir, "documents")
    return autocomplete(build_index(d).postings, "s", k=10)


@query("ext_pmi_collocations")
def ext_pmi_collocations(spark, sf_dir):
    """Top-20 adjacent-word collocations by PMI (support >= 5) — corpus
    association analysis from one token stream."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.pmi_collocations(d, min_count=5, k=20)


@query("ext_tfidf_keywords")
def ext_tfidf_keywords(spark, sf_dir):
    """Per-doc TF-IDF top-3 keywords (per-document word cloud): postings ⋈
    broadcast term/corpus stats, doc-partitioned top-k window, ordered
    collect. Keywords joined to a string for a portable oracle hash."""
    from ..search.bm25 import tfidf_keywords

    d = load_table(spark, sf_dir, "documents")
    out = tfidf_keywords(d, k=3)
    return out.select(
        "doc_id", F.concat_ws(" ", F.col("keywords")).alias("keywords")
    )


@query("ext_dq_audit")
def ext_dq_audit(spark, sf_dir):
    """Data-quality audit over events: every rule as a conditional aggregate
    in ONE pass — (rule, n_rows, n_violations, violation_rate)."""
    from ..catalog import audit

    e = load_table(spark, sf_dir, "events")
    rules = {
        "value_nonneg": F.col("value") >= 0,
        "value_under_500": F.col("value") < 500,
        "known_type": F.col("event_type").isin(
            "view", "click", "purchase", "signup", "error"
        ),
        "user_positive": F.col("user_id") > 0,
    }
    return audit(e, rules)


@query("ext_zorder_key")
def ext_zorder_key(spark, sf_dir):
    """Morton z-key over (user_id % 256, value-bucket % 256) — the write-time
    clustering key for multi-predicate pruning; pure bit arithmetic."""
    from ..catalog import zorder_key

    e = load_table(spark, sf_dir, "events")
    z = zorder_key(
        [F.col("user_id") % 256, F.floor(F.col("value")).cast("long") % 256],
        bits=8,
    )
    return e.select("event_id", z.alias("z"))


@query("ext_cap_per_group")
def ext_cap_per_group(spark, sf_dir):
    """Per-domain document cap (CCNet step): at most 8 docs per source,
    chosen by md5 order — a uniform, layout-stable per-group sample."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    return sampling.cap_per_group(d, "source", k=8).select("doc_id", "source")


@query("ext_ring_negatives")
def ext_ring_negatives(spark, sf_dir):
    """Deterministic contrastive negatives: 2 ring-offset negatives per doc
    within its epoch-shuffle shard."""
    d = load_table(spark, sf_dir, "documents")
    return pipeline.ring_negatives(d, k=2, shards=4)


@query("ext_domain_mix")
def ext_domain_mix(spark, sf_dir):
    """Target-mixture downsampling to a 5000-token budget: even-numbered
    sources get 800 bps of the mix, odd 200 bps — keep-rates derived from
    measured per-source token mass, integer-exact."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    shares = {f"src{i}": (800 if i % 2 == 0 else 200) for i in range(20)}
    out = sampling.domain_mix(d, "source", shares, budget_tokens=5_000)
    return out.select("doc_id", "source")


@query("ext_mix_temperature")
def ext_mix_temperature(spark, sf_dir):
    """Temperature-scaled data mixing (T=2): target shares derived from
    measured per-source token mass as share ∝ sqrt(mass) — the standard
    multilingual/multi-domain rebalancing — then the same integer
    keep-rate + hash-bucket filter as ext_domain_mix. IEEE sqrt +
    micro-quantization + int64 floor-division keep the whole mix
    hash-exact cross-engine (sampling.temperature_mix)."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    out = sampling.temperature_mix_apply(d, "source", budget_tokens=5_000)
    return out.select("doc_id", "source")


@query("ext_mix_proportional")
def ext_mix_proportional(spark, sf_dir):
    """The T=1 leg of temperature mixing (proportional shares — raw
    integer token counts, NO quantization: scaling them by 1e6 would
    overflow 10000*q at ~9e8 tokens/domain, the r5 review find). Pinned
    cross-engine here so the integer share arithmetic of the fixed path
    stays oracle-checked, not just hand-tested."""
    from ..operators import sampling

    d = load_table(spark, sf_dir, "documents")
    out = sampling.temperature_mix_apply(
        d, "source", budget_tokens=5_000, temperature=1.0
    )
    return out.select("doc_id", "source")


@query("ext_packing_stats")
def ext_packing_stats(spark, sf_dir):
    """Packing-efficiency audit over the 512-token packing layout: per
    shard, windows produced, tail waste, and efficiency in bps — all int64
    floor-division over the pack_sequences table (pipeline.packing_stats)."""
    d = load_table(spark, sf_dir, "documents")
    packed = pipeline.pack_sequences(d, budget=512)
    return pipeline.packing_stats(packed, budget=512)


@query("ext_curation_verdict")
def ext_curation_verdict(spark, sf_dir):
    """End-to-end corpus curation: every document labeled with its FIRST
    failing stage — lang -> quality -> repetition -> duplicate (LSH cluster
    non-canonical) -> contaminated -> keep. Composes the independently
    oracle-verified operators into the funnel a real training-data pass
    runs; the oracle composes the same verified SQL fragments."""
    from ..io import ensure_parallelism

    docs = load_table(spark, sf_dir, "documents")
    # spread BEFORE the tokenize projection: quality_score/_shingle_hashes
    # ensure parallelism internally, but on `docs.withColumn(__toks, ...)`
    # the repartition lands ABOVE the projection — the HOF tokenize itself
    # still ran as the scan's single task (single-row-group input) and only
    # the downstream folds parallelized. Spreading the raw docs first moves
    # the tokenize past the exchange too (measured: fused projection
    # 1.77 s -> 0.63 s, whole funnel ~3.8 -> ~2.9 s warm at sf0.1); no-op
    # whenever the scan already has >= cores splits, i.e. at real scale.
    spread = ensure_parallelism(docs)
    # lang-ID and quality are row-local column expressions — fuse them into
    # ONE projection on the base scan instead of separate stage DataFrames
    # joined on doc_id (same values, same oracle; removes two full corpus
    # scans and two doc_id shuffles from the funnel). The normalized-token
    # array is computed ONCE for the whole funnel: the persisted ``toks``
    # relation feeds every quality/lang/repetition profile AND the shingle
    # pass below — pre-r9 the funnel regex-tokenized the corpus twice
    # (once scan-fused for the profiles, once inside _shingle_hashes);
    # the tokenize is the funnel's single most expensive projection, so
    # one cached pass beats two compute passes (spill-able at 100 TB —
    # the standard stage-once trade)
    from ..functions.text import tokenize_normalized, tokenize_ws

    # persist (not localCheckpoint): a same-sf rerun reuses the warm cache
    # by plan identity. The checkpoint alternative measured 1.0 s slower
    # per run (row-format blocks, no column pruning into the four
    # consumers).
    # The TEXT column is NOT cached (VERDICT r9 #3): every
    # text-derived input quality needs is a scalar count, so the counts are
    # staged in the fill projection and the cache blocks shrink by the
    # whole corpus text size.
    # repetition is row-local since the fold rewrite (repetition_signals) —
    # fuse it into the fill projection instead of a separate corpus scan
    # joined back on doc_id (zero-token docs: frac is NULL, exactly like
    # the old left join's missing row)
    rep_sig = pipeline.repetition_signals("__toks")
    # ONE fold over __toks serves BOTH lang-ID and quality: the lang-scores
    # array is staged as a column, lang_pred argmaxes it, and quality's
    # stopword count IS its en entry (same filter over the same word list —
    # pre-r10 the projection ran the en pass twice, once inside
    # lang_id_scores and once inside quality_features)
    scores_col = F.col("__lang_scores")
    en_hits = F.element_at(
        F.filter(scores_col, lambda s: s["lang"] == F.lit("en")), 1
    )["hits"]
    # every verdict input is row-local, so the whole per-document stage —
    # tokenize, counts, lang fold, quality, repetition folds — runs INSIDE
    # the cache-fill projection: the persisted relation carries the verdict
    # scalars next to __toks, the warm path reads precomputed columns, and
    # the cold path makes exactly ONE pass over the corpus text (pre-r10
    # the base projection re-folded the cached arrays on every run: ~1.0 s
    # at sf0.1 for values that never change between fill and read)
    staged = (
        spread.select(
            "doc_id",
            tokenize_normalized("text").alias("__toks"),
            F.length("text").alias("__n_chars"),
            F.size(tokenize_ws("text")).alias("__n_toks"),
            F.length(F.regexp_replace("text", r"[\w\s]", "")).alias(
                "__n_punct"
            ),
        )
        .withColumn(
            "__lang_scores", textstats.lang_id_scores(toks="__toks")
        )
        .select(
            "doc_id",
            "__toks",
            textstats.lang_id(scores=scores_col).alias("lang_pred"),
            textstats.quality_from_counts(
                F.col("__n_chars"),
                F.col("__n_toks"),
                en_hits,
                F.col("__n_punct"),
            ).alias("quality"),
            (
                (rep_sig["top_token_frac"] > pipeline.TOP_TOKEN_MAX)
                | (rep_sig["top_bigram_frac"] > pipeline.TOP_BIGRAM_MAX)
            ).alias("repetitive"),
        )
    )
    staged = persist(staged)
    base = staged.select("doc_id", "lang_pred", "quality", "repetitive")
    # ONE corpus tokenize+shingle+md5 pass feeds BOTH the LSH clustering and
    # both sides of decontamination (values identical to computing each
    # independently — same oracle; at 100 TB this removes a full extra scan)
    sh = persist(
        pipeline._shingle_hashes(
            docs, "doc_id", "text", 3,
            toks=staged.select("doc_id", F.col("__toks").alias("tk")),
        )
    )
    # fused bucket->clusters path: this funnel never needs the pair LIST,
    # so skip candidates_from_buckets' oriented distinct + the symmetric
    # re-distinct (one dedup shuffle instead of two; same closure, same
    # labels — see connected_components_from_buckets). banded is NOT
    # persisted: it is consumed exactly once (the eager edges cut), so a
    # cache write never pays for itself — the self-join's two sides each
    # re-run only the min-agg over the PERSISTED shingle cache (measured
    # faster than persist+read at sf0.1, and at scale it trades one banded
    # materialization for a second agg pass over cached shingles)
    banded = dedup.minhash_bucket_table(docs, shingle_hashes=sh)
    cc = dedup.connected_components_from_buckets(banded)
    removed = (
        cc.withColumnRenamed("node", "doc_id")
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(True).alias("is_dup"))
    )
    cont = pipeline.decontaminate(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        doc_shingles=sh.filter(F.col("doc_id") % 50 != 0),
        bench_shingles=sh.filter(F.col("doc_id") % 50 == 0),
        # 2% of the corpus' shingles off the persisted sh cache — known
        # broadcast-sized, skip the guardrail action (r11)
        assume_small_benchmark=True,
    ).select("doc_id", "contamination")
    joined = base.join(removed, "doc_id", "left").join(cont, "doc_id", "left")
    verdict = (
        F.when(F.col("lang_pred") != "en", F.lit("lang"))
        .when(F.col("quality") < 0.55, F.lit("quality"))
        .when(F.col("repetitive"), F.lit("repetition"))
        .when(F.col("is_dup"), F.lit("duplicate"))
        .when(F.col("contamination") > 0.2, F.lit("contaminated"))
        .otherwise(F.lit("keep"))
    )
    return joined.select("doc_id", verdict.alias("verdict"))


@query("ext_approx_quantiles")
def ext_approx_quantiles(spark, sf_dir):
    """Per-type approximate quantiles of event value (percentile_approx —
    Greenwald-Khanna-style sketch): the quantile member of the sketch family
    (X4 is the HLL member). Mergeable across partitions — one partial+final
    agg, no global sort, unlike exact percentile's per-group materialization.
    Rows-only (sketch internals are engine-specific); accuracy vs the exact
    tier is pinned in tests/test_pipeline.py."""
    e = load_table(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000)
    return e.groupBy("event_type").agg(
        F.round(F.element_at(q, 1), 2).alias("p50"),
        F.round(F.element_at(q, 2), 2).alias("p95"),
        F.round(F.element_at(q, 3), 2).alias("p99"),
    )


__all__ = ["QUERIES"]


@query("ext_sliding_window")
def ext_sliding_window(spark, sf_dir):
    """Hopping (sliding) event-time window: 1-hour windows every 15 minutes —
    each event lands in 4 overlapping windows. Spark's F.window(slide=...)
    fans rows out to their windows JVM-side (an internal explode), then a
    plain hash agg; no self-join, no UDF. Complements q23's tumbling form."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query("ext_grouping_sets")
def ext_grouping_sets(spark, sf_dir):
    """GROUPING SETS: per-status, per-priority, and grand-total rollups in ONE
    pass over orders (Spark expands the sets map-side; one shuffle). NULL
    grouping slots are labeled 'ALL' so the result is join-ready without
    grouping_id bit arithmetic."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        "SELECT COALESCE(o_orderstatus, 'ALL') AS status, "
        "COALESCE(o_orderpriority, 'ALL') AS priority, "
        "COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS revenue "
        "FROM orders "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"
    )


@query("ext_salted_join")
def ext_salted_join(spark, sf_dir):
    """Skew-salted fact⋈dim join (operators/joins.py salted_join): shuffle key
    becomes (user_id, salt) with the dim replicated 8×, then the segment
    rollup re-aggregates — result provably identical to the plain join
    (pinned in tests), plan immune to hot-key stragglers."""
    from ..operators.joins import salted_join

    e = load_table(spark, sf_dir, "events").withColumnRenamed("user_id", "c_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(e, c, key="c_custkey", salt_src="event_id", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query("ext_quantize_embeddings")
def ext_quantize_embeddings(spark, sf_dir):
    """Int8 scalar quantization of the embedding column — 4× storage
    compression for the 100 TB vector tier, exact integer codes
    (operators/similarity.py quantize_int8); scale/zero_point kept for
    dequantized coarse scoring (recall pinned in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select(
        "vec_id",
        "codes",
        F.round("zero_point", 6).alias("zero_point"),
        F.round("scale", 6).alias("scale"),
    )


@query("ext_agg_merge_rollup")
def ext_agg_merge_rollup(spark, sf_dir):
    """Mergeable algebraic aggregate states: daily (n,sum,min,max,sum_sq)
    states merged up to monthly totals WITHOUT re-scanning raw events — the
    exact-stats analog of the HLL sketch rollup. Associativity makes the
    merge order-free, so the oracle (direct monthly aggregation of raw rows)
    must match to the penny."""
    from ..operators.pipeline import merge_agg_states, partial_agg_states

    e = load_table(spark, sf_dir, "events")
    daily = partial_agg_states(e, grain="day")
    monthly = merge_agg_states(daily, grain="month")
    return monthly.select(
        F.date_format("bucket", "yyyy-MM").alias("month"),
        "event_type",
        "n",
        "sum_v",
        "min_v",
        "max_v",
        "avg_v",
    )


@query("ext_ann_quantized")
def ext_ann_quantized(spark, sf_dir):
    """The quantized ANN tier end-to-end: int8 coarse scoring over dequantized
    codes → top-50 candidates → full-precision rerank → top-5. Deterministic
    at every cut (round-4 scores, id tie-breaks), so this ANN path is
    EXACT-oracle-checked — the LSH/IVF tiers stay rows-only by nature."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)
    return similarity.quantized_rerank_topk(corpus, q, k=5, m=50)


@query("ext_ann_pq")
def ext_ann_pq(spark, sf_dir):
    """Product-quantization ANN with ADC scoring (Jégou et al. 2011): the
    memory-compression tier — each vector stored as 8 sub-codebook ids,
    query scored against assigned sub-centroids only. Integer-exact
    (shared-space int8 codes, leader sub-codebooks, integer L2), so unlike
    classic float PQ this tier is EXACT-oracle-checked end to end."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb, query_id=0, k=10)


@query("ext_ann_pq_rerank")
def ext_ann_pq_rerank(spark, sf_dir):
    """PQ-then-rerank — the production composition DEPLOY.md recommends
    for the compressed tier: integer-ADC shortlist (top-PQ_SHORTLIST) from
    PQ codes -> full-precision round-4 cosine rerank of just those
    candidates -> top-5. Both stages deterministic (integer ADC + id
    tie-breaks; round-4 cosine), so the composed funnel keeps an exact
    oracle — recall lost to quantization is bounded by the shortlist
    width, while rerank cost is PQ_SHORTLIST vectors instead of the
    corpus. r5: ksub 8 -> 16 + shortlist 50 -> 100 lifted recall@5 from
    0.6/0.2 to 0.8/0.6 at sf0.01/sf0.1. r6: m 8 -> 16 (dsub=4) + ksub
    16 -> 32 lifted it again to 1.0/0.8 (4-query mean 0.95/0.90) — the
    subspace width was the bottleneck, not ksub or the shortlist (see
    the sweep table at similarity.PQ_M)."""
    from ..functions.vectors import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = similarity.pq_adc_topk(
        emb, query_id=0, k=similarity.PQ_SHORTLIST
    ).select("vec_id")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                F.round(cosine(F.col("embedding"), F.col("qv")), 4) + F.lit(0.0)
            ).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query("ext_ann_lsh_multiprobe")
def ext_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe integer LSH (Lv et al.): beside the query's own bucket,
    probe every bucket at Hamming distance 1 (one sign bit flipped) —
    recall recovered without growing the index, the standard trade for
    high-recall LSH serving. The probe set is pure integer arithmetic
    (XOR of the quantized bucket), so unlike classic float multi-probe
    this tier stays EXACT-oracle-checkable; ranking is round-4 cosine on
    full precision with id tie-breaks."""
    num_planes = 4
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qrow = emb.filter(F.col("vec_id") == 0)
    # keep_cols carries the full-precision column through quantize — the
    # old re-join of the corpus on vec_id was a whole extra shuffle (r11)
    cb = similarity.lsh_bucket_int8(
        similarity.quantize_int8(corpus, keep_cols=["embedding"]),
        num_planes=num_planes,
    )
    qb = similarity.lsh_bucket_int8(
        similarity.quantize_int8(qrow), num_planes=num_planes
    ).select(
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(num_planes)
                ],
            )
        ).alias("qbucket")
    )
    qv = qrow.select(F.col("embedding").alias("qv"))
    return (
        cb.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .select("vec_id", "embedding")
        .distinct()
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            (F.round(cosine(F.col("embedding"), F.col("qv")), 4) + F.lit(0.0)).alias(
                "sim"
            ),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query("ext_search_facets")
def ext_search_facets(spark, sf_dir):
    """Solr-style facet counts (R6, docValues faceting re-expressed): for
    the documents matching ANY of the query terms, the top value counts
    per facet field (lang, source) — grouped counts over a pruned columnar
    scan of the matched set."""
    from ..search.api import search_facets
    from ..search.index import build_index

    docs = load_table(spark, sf_dir, "documents")
    return search_facets(
        build_index(docs, cache=True),
        docs,
        ["spark", "join"],
        ["lang", "source"],
        top=5,
    )


@query("ext_ann_tier_recall")
def ext_ann_tier_recall(spark, sf_dir):
    """Recall@5 of every EXACT-hashable ANN tier against the exact scorer,
    side by side — the evaluation table an index-tuning pass reads:
    single-bucket integer LSH (cheapest probe, KEPT for contrast — NOT the
    served default precisely because this ladder showed it at recall 0.0
    at sf0.01), Hamming-1 multi-probe (the ann_lsh_served_vec DEFAULT:
    recall 0.4/0.6 at ~5x probe cost, commit 678d883), int8 coarse->rerank
    (highest recall, full coarse scan), and the PQ shortlist->rerank
    funnel (compressed-tier recall — 1.0/0.8 at sf0.01/0.1 since the
    m=16/ksub=32 fix). The LSH leg deliberately STAYS Hamming-1: a sweep
    (4 queries x 3 scales, numpy mirror; both figures commit 469800f)
    measured Hamming-2 at 4 planes scanning ~70% of the corpus for +0.2
    recall — pruning gone — and recall FALLING as planes grow (P=6 H2:
    0.2-0.6 at 35% scanned; P=8 H2: 0.2-0.4), because sign-projection
    buckets carry little signal on near-uniform-similarity synthetic
    embeddings; the high-recall
    path at this corpus shape is the PQ funnel, not wider LSH probes.
    Composes the already-verified tier queries; the oracle composes
    their SQL."""
    exact = QUERIES["x2_cosine_topk"](spark, sf_dir).select("vec_id")
    tiers = {
        "lsh_single_bucket": "ext_ann_lsh_quantized",
        "lsh_served_default": "ext_ann_lsh_multiprobe",
        "quantized_rerank": "ext_ann_quantized",
        "pq_rerank": "ext_ann_pq_rerank",
    }
    out = None
    for tier, qname in tiers.items():
        ap = QUERIES[qname](spark, sf_dir).select("vec_id")
        row = ap.join(exact, "vec_id").agg(
            F.lit(tier).alias("tier"),
            F.lit(5).cast("long").alias("k"),
            F.count("*").alias("n_hit"),
            F.round(F.count("*").cast("double") / 5.0, 4).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tier")


@query("ext_batch_cosine_topk")
def ext_batch_cosine_topk(spark, sf_dir):
    """Batch exact ANN serving: THREE query vectors scored against the
    corpus in one plan, per-query top-3 via two-phase partial top-k (no
    per-query single-task window — the batch-retrieval shape a serving
    tier runs). Exact oracle: per-query ROW_NUMBER over round-4 cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(~F.col("vec_id").isin([0, 1, 2]))
    return similarity.cosine_topk_df(corpus, qs, k=3).select(
        "query_id", "rank", "sim", "vec_id"
    )


@query("ext_ann_lsh_quantized")
def ext_ann_lsh_quantized(spark, sf_dir):
    """The EXACT-oracle twin of the LSH ANN family: sign-random-projection
    buckets computed over int8-quantized codes with Rademacher +-1 planes
    (Charikar-style SimHash for cosine), so bucket assignment is pure
    integer arithmetic — order-independent and hash-checkable — unlike the
    float-hyperplane tier (ext_ann_lsh, rows-only). Candidates are the
    query's bucket; final ranking is round-4 cosine on the full-precision
    column with id tie-breaks. Reference analog: Solr's ranked retrieval
    (``Ranking Model/src/main/java/Main/SolrRanker.java:66-91``) as the
    nearest-neighbour serving surface."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qrow = emb.filter(F.col("vec_id") == 0)
    # keep_cols: full-precision column rides through quantize — no re-join
    # of the corpus on vec_id (one fewer shuffle, r11)
    cb = similarity.lsh_bucket_int8(
        similarity.quantize_int8(corpus, keep_cols=["embedding"]), num_planes=4
    )
    qb = similarity.lsh_bucket_int8(
        similarity.quantize_int8(qrow), num_planes=4
    ).select(F.col("bucket").alias("qbucket"))
    qv = qrow.select(F.col("embedding").alias("qv"))
    return (
        cb.join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            (F.round(cosine(F.col("embedding"), F.col("qv")), 4) + F.lit(0.0)).alias(
                "sim"
            ),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query("ext_heavy_hitters")
def ext_heavy_hitters(spark, sf_dir):
    """Count-min heavy hitters: build the (4×256)-counter sketch over
    events.user_id, estimate every distinct user from the SKETCH ONLY, emit
    the top-10 with true counts alongside (est >= true always; the gap is
    the collision mass). md5-derived buckets make the whole sketch
    oracle-exact — estimates, not just accuracy bounds."""
    from ..operators import sketches

    e = load_table(spark, sf_dir, "events")
    cms = sketches.cms_build(e, "user_id", depth=4, width=256)
    keys = e.select("user_id").distinct()
    est = sketches.cms_estimate(cms, keys, "user_id", depth=4, width=256)
    true = e.groupBy("user_id").agg(F.count("*").alias("true_c"))
    return (
        est.join(true, "user_id")
        .orderBy(F.col("est").desc(), F.col("user_id"))
        .limit(10)
    )


@query("ext_moving_avg")
def ext_moving_avg(spark, sf_dir):
    """Time-RANGE window frames (the piece ext_window_analytics' row frames
    don't cover): per-type trailing-1-hour moving average and event count,
    computed on an epoch-seconds range frame — peers at equal timestamps are
    all in-frame, so the result is deterministic with no tie-break column.
    One shuffle on event_type; frames never materialize (running frame)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, 0)
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    avg = F.sum(cents).over(w) / (F.lit(100.0) * F.count("*").over(w))
    return e.select(
        "event_id",
        "event_type",
        # cent-quantized average: summing exact integers makes the windowed
        # mean independent of fp summation order (cross-engine determinism)
        F.round(avg, 4).alias("trailing_avg_1h"),
        F.count("*").over(w).alias("n_in_1h"),
    )


@query("ext_tpch_q5")
def ext_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local-supplier volume): the 5-way star join —
    lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region with the
    same-nation (c_nationkey = s_nationkey) correlation. Catalyst's join
    ordering + broadcast selection carry the plan: region→nation→customer
    collapses dimension-side first, supplier broadcasts against the fact
    stream, and only the orders⋈lineitem edge shuffles. Revenue is
    cent-quantized per row before summation so the per-nation totals are
    independent of add order (cross-engine exact)."""
    cutoff_lo = F.to_timestamp(F.lit("1996-01-01 00:00:00"))
    cutoff_hi = F.to_timestamp(F.lit("1998-01-01 00:00:00"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
    )
    return (
        j.groupBy("n_name")
        .agg((F.sum(cents) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query("ext_outliers")
def ext_outliers(spark, sf_dir):
    """Per-group 3-sigma outlier detection with EXACT integer arithmetic:
    |x - mean| > 3·stddev rewritten as the cross-multiplied integer predicate
    (x·n − s)²·(n−1) > 9·n·(n·ss − s²) over cent-quantized values — no
    floating-point mean/stddev anywhere, so the flagged row SET is
    bit-identical across engines (a rounded z-score could flip rows at the
    threshold). Decimal(38) keeps the products exact at any group size.
    One shuffle on event_type (whole-partition window frames)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    xc = F.round(F.col("value") * 100, 0).cast("decimal(38,0)")
    w = Window.partitionBy("event_type")
    base = e.select("event_id", "event_type", "value", xc.alias("xc"))
    n = F.count("*").over(w).cast("decimal(38,0)")
    s = F.sum("xc").over(w)
    ss = F.sum(F.col("xc") * F.col("xc")).over(w)
    g = base.select(
        "event_id",
        "event_type",
        "value",
        "xc",
        n.alias("n"),
        s.alias("s"),
        ss.alias("ss"),
    )
    lhs = (F.col("xc") * F.col("n") - F.col("s"))
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        g.filter(
            (F.col("n") >= 2)
            & (var_num > 0)
            & (lhs * lhs * (F.col("n") - 1) > F.lit(9) * F.col("n") * var_num)
        )
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


@query("ext_mad_outliers")
def ext_mad_outliers(spark, sf_dir):
    """Robust outlier panel per event type: median / MAD (median absolute
    deviation) with the |x - med| > 3·MAD rule — the heavy-tail-proof
    complement to ext_outliers' 3-sigma test (one wild value shifts a mean
    and explodes a stddev; it moves a median by at most one rank).

    Integer-exact trick: work in DOUBLED cents. The median of an even
    count interpolates halfway between two values, so over even integers
    it is always integral — percentile(2·cents, 0.5) and the second-level
    percentile(2·|dev|, 0.5) are exact BIGINTs in both engines, and the
    outlier test cross-multiplies to 2·dev > 3·mad4 with no floats
    anywhere. Two grouped medians + two broadcast joins of the tiny
    per-type stats — the event scan is the only big input, touched twice
    (Spark's exact percentile needs the full group either way)."""
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        (F.round(F.col("value") * 100, 0) * 2).cast("long").alias("dc"),
    )
    m1 = base.groupBy("event_type").agg(
        F.percentile("dc", 0.5).cast("long").alias("med2")
    )
    d = base.join(F.broadcast(m1), "event_type").withColumn(
        "dev2", F.abs(F.col("dc") - F.col("med2")) * 2
    )
    m2 = d.groupBy("event_type").agg(
        F.percentile("dev2", 0.5).cast("long").alias("mad4")
    )
    return (
        d.join(F.broadcast(m2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                (F.col("dev2") > 3 * F.col("mad4")).cast("long")
            ).cast("long").alias("n_outliers"),
            (F.max("med2") * 500).cast("long").alias("med_millicents"),
            (F.max("mad4") * 250).cast("long").alias("mad_millicents"),
        )
        .orderBy("event_type")
    )


@query("ext_minhash_est_jaccard")
def ext_minhash_est_jaccard(spark, sf_dir):
    """Signature-based Jaccard ESTIMATION next to the exact value — the step
    that makes MinHash a similarity sketch, not just a bucketing trick: for
    each LSH candidate pair, est = (# equal signature components)/16 (an
    exact rational — deterministic), joined with the exact shingle Jaccard
    so the estimation error is part of the result. At 100 TB the estimate
    costs an array compare on pairs already in hand; the exact join is the
    expensive verify it lets you skip or defer. One shared shingle pass
    feeds signatures and candidates."""
    from ..operators.pipeline import _shingle_hashes

    d = load_table(spark, sf_dir, "documents")
    sh = persist(_shingle_hashes(d, "doc_id", "text", 3))
    sig = dedup.minhash_signatures(d, shingle_hashes=sh)
    cand = dedup.minhash_lsh_candidates(d, shingle_hashes=sh)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_eq = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (n_eq / F.lit(16.0)).alias("est_jaccard"))
    )
    exact = dedup.ngram_jaccard_pairs(d, cand, shingle_hashes=sh).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 4).alias("est_err"),
    )


@query("ext_zscore_embeddings")
def ext_zscore_embeddings(spark, sf_dir):
    """Per-dimension z-normalization of the embedding corpus (whitening):
    micro-quantized exact sums + broadcast stats arrays + in-place indexed
    transform — no corpus-sized shuffle anywhere (similarity.zscore_dims)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.zscore_dims(emb)


@query("ext_zscore_flat")
def ext_zscore_flat(spark, sf_dir):
    """The driver-hashable scalar-row twin of ext_zscore_embeddings (one
    row per (vec_id, dim)): array columns hash engine-dependently on a
    pandas/arrow oracle fetch (numpy repr vs list repr), so the
    certification window carries this flat projection while the packed
    array shape stays what pipelines consume."""
    emb = load_table(spark, sf_dir, "embeddings")
    z = similarity.zscore_dims(emb)
    return z.select(
        "vec_id", F.posexplode("norm").alias("dim", "z")
    )


@query("ext_pagerank_personalized")
def ext_pagerank_personalized(spark, sf_dir):
    """Personalized (seed-restart) integer PageRank over the LSH similarity
    graph: relevance-to-the-seed instead of global centrality — the
    related-content expansion surface. Seed = minimum node id, kept
    in-plan. Integer-exact; the oracle unrolls the 5 iterations."""
    from ..operators.graph import pagerank_personalized_int

    d = load_table(spark, sf_dir, "documents")
    # banded is NOT persisted (r11): the self-join's two sides are
    # identical subtrees, so ReuseExchange computes the LSH pipeline once
    # anyway — the cache write bought nothing (measured equal-or-faster
    # without it; the eager edges cut still materializes the result)
    banded = dedup.minhash_bucket_table(d)
    edges = dedup.symmetric_edges_from_buckets(banded)
    pr = pagerank_personalized_int(None, iters=5, edges=edges)
    return (
        pr.filter(F.col("rank") > 0)
        .select(F.col("node").alias("doc_id"), "rank")
        .orderBy(F.col("rank").desc(), F.col("doc_id"))
        .limit(20)
    )


@query("ext_pagerank")
def ext_pagerank(spark, sf_dir):
    """Integer-exact PageRank (5 iterations, micro-unit mass) over the LSH
    candidate-pair similarity graph — link-analysis centrality as a curation
    prior, sharing the edges the dedup clustering already derives. All-integer
    updates make the iterative algorithm itself exact-oracle-checkable (the
    oracle unrolls the 5 iterations as chained CTEs)."""
    from ..operators.graph import pagerank_int

    d = load_table(spark, sf_dir, "documents")
    # fused bucket->edges path: same edge set as the pair-list API, one
    # dedup shuffle instead of two (symmetric_edges_from_buckets)
    # banded is NOT persisted (r11): the self-join's two sides are
    # identical subtrees, so ReuseExchange computes the LSH pipeline once
    # anyway — the cache write bought nothing (measured equal-or-faster
    # without it; the eager edges cut still materializes the result)
    banded = dedup.minhash_bucket_table(d)
    edges = dedup.symmetric_edges_from_buckets(banded)
    pr = pagerank_int(None, iters=5, edges=edges)
    return (
        pr.select(F.col("node").alias("doc_id"), "rank")
        .orderBy(F.col("rank").desc(), F.col("doc_id"))
        .limit(20)
    )


@query("ext_corpus_report")
def ext_corpus_report(spark, sf_dir):
    """One-pass corpus health report (the dataset card a curation run
    emits): size, language spread, token mass, mean quality, exact-dup
    rate — ONE aggregate over the scored scan (plus the distinct-md5 side
    of the same pass), emitted long-form (metric, value). Ratios derive
    from exact integer sums (quality summed in 1e-4 units), so every value
    is deterministic cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    q = textstats.quality_score(d)
    qmilli = F.round(F.col("quality") * 10000, 0).cast("long")
    a = q.agg(
        F.count("*").alias("n"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(F.col("q_n_tokens").cast("long")).alias("tok"),
        F.sum(qmilli).alias("qsum"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
        F.count_distinct(F.md5("text")).alias("n_uniq"),
    )
    return a.select(
        F.expr(
            "stack(7, "
            "'n_docs', CAST(n AS DOUBLE), "
            "'n_langs', CAST(n_langs AS DOUBLE), "
            "'total_tokens', CAST(tok AS DOUBLE), "
            "'avg_quality', ROUND(CAST(qsum AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE), 4), "
            "'pct_en', ROUND(CAST(n_en AS DOUBLE) / n, 4), "
            "'dup_rate', ROUND(1.0 - CAST(n_uniq AS DOUBLE) / n, 4), "
            "'avg_tokens', ROUND(CAST(tok AS DOUBLE) / n, 4)"
            ") AS (metric, value)"
        )
    )


@query("ext_join_cardinality")
def ext_join_cardinality(spark, sf_dir):
    """Join-size estimation from sketches alone (CMS inner product): how many
    rows would odd-events ⋈ even-events on user_id produce? The planner
    statistic next to the true count and the relative error — never scanning
    the joined pair. Estimate >= truth always (collisions only add)."""
    from ..operators import sketches

    e = load_table(spark, sf_dir, "events")
    lo = e.filter(F.col("event_id") % 2 == 0)
    hi = e.filter(F.col("event_id") % 2 == 1)
    ca = sketches.cms_build(lo, "user_id")
    cb = sketches.cms_build(hi, "user_id")
    est = sketches.cms_join_cardinality(ca, cb)
    true = (
        lo.groupBy("user_id")
        .agg(F.count("*").alias("na"))
        .join(hi.groupBy("user_id").agg(F.count("*").alias("nb")), "user_id")
        .agg(F.sum(F.col("na") * F.col("nb")).alias("true_card"))
    )
    return est.crossJoin(true).select(
        "est",
        "true_card",
        F.round(
            (F.col("est") - F.col("true_card")) / F.col("true_card").cast("double"), 4
        ).alias("rel_err"),
    )


@query("ext_apply_cdc")
def ext_apply_cdc(spark, sf_dir):
    """The write side of CDC: apply the snapshot_diff delta to the old
    snapshot and get EXACTLY the new one back (oracle = the new snapshot
    directly) — old + delta ≡ new, the identity incremental refresh rests
    on. Same deterministic fixtures as ext_snapshot_diff."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    old = e.filter(F.col("event_id") % 5 != 0)
    new = e.filter(F.col("event_id") % 3 != 0).withColumn(
        "cents",
        F.when(F.col("event_id") % 7 == 0, F.col("cents") * 2).otherwise(
            F.col("cents")
        ),
    )
    return pipeline.apply_cdc(old, new, ["event_id"])


@query("ext_cohort_retention")
def ext_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-activity week, distinct
    active users per (cohort, week offset) — the standard growth-analytics
    matrix. Two aggs + one join, all keyed on user_id/cohort; integer week
    offsets via datediff on week-truncated timestamps (engine-portable)."""
    e = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    act = e.select("user_id", wk.alias("wk")).distinct()
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        act.join(first, "user_id")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query("ext_phrase_search")
def ext_phrase_search(spark, sf_dir):
    """Positional phrase search — the Lucene phrase-query surface: docs where
    'window' is immediately followed by 'join', ranked by occurrence count
    (search/index.py phrase_from_postings over the documents' positional
    postings — the code the /phrase route and a persisted positional index
    serve)."""
    from ..search.index import build_positional_postings, phrase_from_postings

    d = load_table(spark, sf_dir, "documents")
    return phrase_from_postings(build_positional_postings(d), ["window", "join"], k=10)


@query("ext_search_and")
def ext_search_and(spark, sf_dir):
    """Boolean-AND keyword search: documents containing ALL query terms —
    the conjunctive surface the reference's OR-only Solr query lacks."""
    from ..search.api import search_all_terms

    d = load_table(spark, sf_dir, "documents")
    return search_all_terms(d, ["spark", "join", "window"], k=10)


@query("ext_snippets")
def ext_snippets(spark, sf_dir):
    """Search-result highlighting: ±3 raw tokens around the first 'spark'
    occurrence per matching doc (search/api.py snippets) — position-aligned
    normalized matching, one slice, no shuffle."""
    from ..search.api import snippets

    d = load_table(spark, sf_dir, "documents")
    return snippets(d, "spark", window=3, k=20)


@query("ext_containment")
def ext_containment(spark, sf_dir):
    """Asymmetric containment |A∩B|/|A| and |A∩B|/|B| for LSH candidate
    pairs — the fuzzy-dedup signal symmetric Jaccard misses when one doc is
    embedded inside a larger one (quote-inflation, boilerplate wrappers).
    Same single shingle-join pass as ext_ngram_jaccard (keep_counts=True);
    ratios are exact rationals of shingle counts, rounded 4."""
    d = load_table(spark, sf_dir, "documents")
    sh = persist(pipeline._shingle_hashes(d, "doc_id", "text", 3))
    cand = dedup.minhash_lsh_candidates(d, shingle_hashes=sh)
    j = dedup.ngram_jaccard_pairs(d, cand, keep_counts=True, shingle_hashes=sh)
    return j.select(
        "doc_a",
        "doc_b",
        F.round(F.col("n_inter") / F.col("n_a").cast("double"), 4).alias("in_a"),
        F.round(F.col("n_inter") / F.col("n_b").cast("double"), 4).alias("in_b"),
    )


@query("ext_verified_clusters")
def ext_verified_clusters(spark, sf_dir):
    """Precision-verified dedup clusters: LSH candidates (recall) filtered by
    EXACT n-gram Jaccard >= 0.5 (precision) BEFORE the transitive closure —
    the production fuzzy-dedup shape, where unverified LSH edges would
    otherwise chain unrelated docs into one mega-cluster. Same iterative
    closure as ext_dedup_clusters over the verified edge set."""
    d = load_table(spark, sf_dir, "documents")
    sh = persist(pipeline._shingle_hashes(d, "doc_id", "text", 3))
    cand = dedup.minhash_lsh_candidates(d, shingle_hashes=sh)
    verified = dedup.ngram_jaccard_pairs(
        d, cand, threshold=0.5, shingle_hashes=sh
    ).select("doc_a", "doc_b")
    cc = dedup.connected_components(verified)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@query("ext_retrieval_eval")
def ext_retrieval_eval(spark, sf_dir):
    """Retrieval-quality measurement: precision@10 of the BM25 ranking
    against a deterministic relevance rule (relevant = doc contains BOTH
    query terms) — the eval metric a search/RAG pipeline reports. Composes
    the q20 ranking with the conjunctive matcher; one number out."""
    from ..search.api import search_all_terms
    from ..search.bm25 import bm25_search
    from ..search.index import build_index

    d = load_table(spark, sf_dir, "documents")
    top = bm25_search(spark, build_index(d, cache=True), ["spark", "join"], k=10)
    relevant = search_all_terms(d, ["spark", "join"], k=10**9).select("doc_id")
    hit = top.join(
        relevant.withColumn("__rel", F.lit(1)), "doc_id", "left"
    )
    return hit.agg(
        F.round(F.avg(F.coalesce(F.col("__rel"), F.lit(0)).cast("double")), 4).alias(
            "p_at_10"
        ),
        F.count("*").alias("k"),
    )


@query("ext_ndcg")
def ext_ndcg(spark, sf_dir):
    """nDCG@10 of the BM25 ranking with graded relevance (grade = number of
    query terms the doc contains, 0-2) — the position-sensitive ranking
    metric next to ext_retrieval_eval's P@10. Ten-row window math over the
    already-ranked result; grades from one pruned term-coverage agg."""
    from pyspark.sql import Window

    from ..functions.text import tokenize_normalized
    from ..search.bm25 import bm25_search
    from ..search.index import build_index

    terms = ["spark", "join"]
    d = load_table(spark, sf_dir, "documents")
    top = bm25_search(spark, build_index(d, cache=True), terms, k=10)
    grades = (
        d.select(F.col("doc_id"), F.explode(tokenize_normalized("text")).alias("tok"))
        .filter(F.col("tok").isin(terms))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("rel"))
    )
    g = top.join(grades, "doc_id", "left").select(
        "doc_id", "score", F.coalesce("rel", F.lit(0)).cast("double").alias("rel")
    )
    rank = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
    irank = F.row_number().over(Window.orderBy(F.col("rel").desc(), F.col("doc_id")))
    gain = (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
    scored = g.select(
        (gain / F.log2(rank.cast("double") + 1.0)).alias("dg"),
        (gain / F.log2(irank.cast("double") + 1.0)).alias("idg"),
    )
    return scored.agg(
        F.round(F.sum("dg") / F.sum("idg"), 4).alias("ndcg_at_10"),
        F.round(F.sum("dg"), 4).alias("dcg"),
        F.round(F.sum("idg"), 4).alias("idcg"),
    )


@query("ext_split_leakage")
def ext_split_leakage(spark, sf_dir):
    """Train/test leakage audit: the hash split is keyed on doc_id, so
    DUPLICATE TEXTS can still straddle the boundary — the classic eval
    contamination a pretraining pipeline must check. One md5(text) group
    pass over the split assignment: texts present in BOTH splits, with how
    many train docs would leak each test text. Group keys are 16-byte
    hashes; raw text never crosses the shuffle."""
    from ..operators.sampling import train_test_split

    d = train_test_split(load_table(spark, sf_dir, "documents"), "doc_id")
    g = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_test") > 0))
    )
    return g.agg(
        F.count("*").alias("leaked_texts"),
        F.coalesce(F.sum("n_test"), F.lit(0)).alias("test_docs_affected"),
        F.coalesce(F.sum("n_train"), F.lit(0)).alias("train_docs_leaking"),
    )


@query("ext_importance_sample")
def ext_importance_sample(spark, sf_dir):
    """Quality-weighted importance sampling: each doc survives with
    probability proportional to its quality score (acceptance rate =
    quality·10⁴ basis points against the doc's md5 bucket) — the
    deterministic form of quality-weighted data selection. Returns the
    survivors with their acceptance rate; row-local, rerun/layout-stable."""
    from ..operators.sampling import weighted_sample

    d = textstats.quality_score(load_table(spark, sf_dir, "documents"))
    rate = F.round(F.col("quality") * 10000, 0).cast("long")
    kept = weighted_sample(
        d.withColumn("rate_bps", rate), "doc_id", F.col("rate_bps"), salt="is"
    )
    return kept.select("doc_id", "rate_bps").orderBy("doc_id")


@query("ext_robust_trend")
def ext_robust_trend(spark, sf_dir):
    """Theil-Sen robust trend per event type over a bounded slice (user_id <
    10 keeps the O(n²) pair set small, as any Theil-Sen deployment does) —
    the grouped-map applyInPandas exemplar, oracle-checked against a DuckDB
    pairwise-join median."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return pipeline.robust_trend(e)


@query("ext_best_survivor")
def ext_best_survivor(spark, sf_dir):
    """Quality-based survivorship: within each near-dup cluster keep the
    HIGHEST-quality member (tie → lowest doc_id), not the arbitrary min-id
    canonical — the policy real dedup pipelines want (keep the cleanest
    copy, drop its mirrors). One max_by struct-ordering agg over the
    cluster assignment joined to the quality score."""
    d = load_table(spark, sf_dir, "documents")
    # fused bucket->clusters path (one dedup shuffle; see
    # connected_components_from_buckets). banded is NOT persisted (r11):
    # the self-join's two sides are identical subtrees, so ReuseExchange
    # computes the LSH pipeline once anyway — the cache write bought
    # nothing (measured equal-or-faster without it, and no memory held)
    banded = dedup.minhash_bucket_table(d)
    cc = dedup.connected_components_from_buckets(banded)
    q = textstats.quality_score(d).select("doc_id", "quality")
    j = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(q, "doc_id")
    # max over (quality, -doc_id) struct == highest quality, lowest id on tie
    pick = F.max(
        F.struct(F.col("quality"), (-F.col("doc_id")).alias("nid"))
    ).alias("best")
    return (
        j.groupBy("cluster_id")
        .agg(pick, F.count("*").alias("cluster_size"))
        .select(
            "cluster_id",
            (-F.col("best.nid")).alias("survivor"),
            F.col("best.quality").alias("quality"),
            "cluster_size",
        )
    )


@query("ext_lang_confusion")
def ext_lang_confusion(spark, sf_dir):
    """Classifier evaluation: confusion matrix of the heuristic language
    identifier against the fixture's ground-truth lang label — (truth,
    predicted, n) cells. The eval harness any model-backed lang-ID swap
    (pandas_udf hook) would be graded with."""
    from ..functions.text import tokenize_normalized

    d = load_table(spark, sf_dir, "documents").withColumn(
        "__toks", tokenize_normalized("text")
    )
    pred = d.select(
        "doc_id", "lang",
        textstats.lang_id("text", toks="__toks").alias("lang_pred"),
    )
    return pred.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


@query("ext_session_funnel")
def ext_session_funnel(spark, sf_dir):
    """Session-scoped ORDERED funnel: per user, sessions where a purchase
    happens AFTER a signup inside the SAME session (gap-sum sessionization
    reused as the scoping operator) — the ordered-pattern query plain
    conversion funnels (ext_funnel's first-signup→first-purchase) can't
    express. One sessionize pass + one conditional min/max agg per
    session; converted = min(signup ts) < max(purchase ts) within the
    session."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    marked = e.select("user_id", "ts", "event_type")
    # each event's session via the same gap-sum rule as operators.joins
    # .sessionize, then per-session ordered containment via conditional
    # min/max -- one shuffle on user_id total

    w = Window.partitionBy("user_id").orderBy(F.col("ts"))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    tagged = marked.withColumn(
        "__new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "session_idx",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_session = tagged.groupBy("user_id", "session_idx").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    converted = per_session.filter(
        F.col("first_signup").isNotNull()
        & F.col("last_purchase").isNotNull()
        & (F.col("first_signup") < F.col("last_purchase"))
    )
    return converted.groupBy("user_id").agg(
        F.count("*").alias("converted_sessions")
    )


@query("ext_incremental_agg")
def ext_incremental_agg(spark, sf_dir):
    """Incremental view maintenance: refresh the daily aggregate-state table
    for ONLY the buckets the CDC delta touched (same fixtures as
    ext_snapshot_diff), keep the rest — provably identical to a full
    rebuild from the new snapshot (the oracle aggregates the new snapshot
    directly). Refresh cost scales with the delta, not the fact table."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type",
        (F.round(F.col("value") * 100).cast("long") / 100.0).alias("value"),
    )
    old = e.filter(F.col("event_id") % 5 != 0)
    new = e.filter(F.col("event_id") % 3 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    old_states = pipeline.partial_agg_states(old, grain="day")
    refreshed = pipeline.incremental_agg_refresh(
        old_states, old, new, ["event_id"], grain="day"
    )
    return refreshed.select(
        F.date_format("bucket", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        F.round("sum_v", 2).alias("sum_v"),
        F.round("min_v", 2).alias("min_v"),
        F.round("max_v", 2).alias("max_v"),
    )


@query("ext_mrr")
def ext_mrr(spark, sf_dir):
    """Mean reciprocal rank of the first FULLY-relevant hit (grade 2 = doc
    contains both query terms) in the BM25 ranking — completes the eval
    triple beside P@10 and nDCG@10."""
    from pyspark.sql import Window

    from ..functions.text import tokenize_normalized
    from ..search.bm25 import bm25_search
    from ..search.index import build_index

    terms = ["spark", "join"]
    d = load_table(spark, sf_dir, "documents")
    top = bm25_search(spark, build_index(d, cache=True), terms, k=10)
    grades = (
        d.select(F.col("doc_id"), F.explode(tokenize_normalized("text")).alias("tok"))
        .filter(F.col("tok").isin(terms))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("rel"))
    )
    rank = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
    g = top.join(grades, "doc_id", "left").select(
        rank.alias("rank"), F.coalesce("rel", F.lit(0)).alias("rel")
    )
    first = g.filter(F.col("rel") >= 2).agg(F.min("rank").alias("r"))
    return first.select(
        F.round(
            F.when(F.col("r").isNotNull(), 1.0 / F.col("r")).otherwise(0.0), 4
        ).alias("mrr")
    )


@query("ext_retrieval_eval_suite")
def ext_retrieval_eval_suite(spark, sf_dir):
    """The multi-query eval table the single-query triple (P@10 / nDCG@10 /
    MRR) feeds in practice: FOUR query-term pairs, one row each with all
    three metrics — what "mean" reciprocal rank actually averages over.
    The index builds ONCE (cached postings) and each leg reuses it; the
    oracle composes four self-contained legs of the SAME parametrized BM25
    SQL as q20 (queries/oracles._bm25_ranked), so ranking and metrics can
    never drift between the search query and its evaluation. nDCG guards
    idcg=0 (a query with zero relevant docs scores 0.0, not NULL).

    Graded relevance is deliberately SPARSER than the ranking signal
    (real eval judgments are not the ranker's features): grade 2 = the
    exact adjacent phrase appears (~5-7%% of the fixture corpus), grade 1
    = both terms anywhere, 0 = neither/one — so the metrics have texture
    instead of saturating at 1.0 the way both-terms-anywhere does on this
    corpus (every present vocab pair co-occurs in most docs)."""
    from pyspark.sql import Window

    from ..functions.text import tokenize_normalized
    from ..search.bm25 import bm25_search
    from ..search.index import build_index

    d = load_table(spark, sf_dir, "documents")
    idx = build_index(d, cache=True)
    toks = d.select(
        F.col("doc_id"), F.explode(tokenize_normalized("text")).alias("tok")
    )
    pairs = [("spark", "join"), ("merge", "join"), ("column", "scan"),
             ("group", "order")]
    out = None
    phrase_docs = {
        (t1, t2): d.filter(
            F.lower(F.col("text")).contains(f"{t1} {t2}")
        ).select("doc_id")
        for t1, t2 in pairs
    }
    for t1, t2 in pairs:
        top = bm25_search(spark, idx, [t1, t2], k=10)
        both = (
            toks.filter(F.col("tok").isin([t1, t2]))
            .distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_terms"))
            .filter(F.col("n_terms") == 2)
            .select("doc_id", F.lit(1).alias("rel1"))
        )
        grades = (
            both.join(
                phrase_docs[(t1, t2)].withColumn("rel2", F.lit(1)),
                "doc_id",
                "full",
            )
            .select(
                "doc_id",
                F.when(F.col("rel2").isNotNull(), 2)
                .when(F.col("rel1").isNotNull(), 1)
                .otherwise(0)
                .alias("rel"),
            )
        )
        rank = F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        )
        irank = F.row_number().over(
            Window.orderBy(F.col("rel").desc(), F.col("doc_id"))
        )
        g = top.join(grades, "doc_id", "left").select(
            "doc_id", "score",
            F.coalesce("rel", F.lit(0)).cast("long").alias("rel"),
        )
        gain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - 1.0
        w = g.select(
            rank.alias("rank"),
            "rel",
            (gain / F.log2(rank.cast("double") + 1.0)).alias("dg"),
            (gain / F.log2(irank.cast("double") + 1.0)).alias("idg"),
        )
        row = w.agg(
            F.lit(f"{t1}+{t2}").alias("query"),
            # P@10 counts ANY relevance (grade >= 1); MRR demands the
            # fully-relevant grade 2 (the adjacent phrase)
            F.round(
                F.avg(F.when(F.col("rel") >= 1, 1.0).otherwise(0.0)), 4
            ).alias("p_at_10"),
            F.round(
                F.coalesce(
                    1.0 / F.min(F.when(F.col("rel") >= 2, F.col("rank"))),
                    F.lit(0.0),
                ),
                4,
            ).alias("mrr"),
            F.round(
                F.when(F.sum("idg") == 0, 0.0).otherwise(
                    F.sum("dg") / F.sum("idg")
                ),
                4,
            ).alias("ndcg_at_10"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("query")


@query("ext_degree_distribution")
def ext_degree_distribution(spark, sf_dir):
    """Degree distribution of the LSH similarity graph: how many docs have k
    near-dup neighbors — the shape statistic that says whether dedup faces
    isolated pairs or dense boilerplate cliques (and thus how the per-bucket
    self-joins will behave)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(d)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


@query("ext_index_stats")
def ext_index_stats(spark, sf_dir):
    """Index health report: vocabulary size, postings rows, document-
    frequency mean/max, and the highest-df term — the operational stats a
    served search tier monitors (posting-list skew predicts query-time
    hotspots the same way bucket skew predicts join hotspots)."""
    from ..search.index import build_index

    idx = build_index(load_table(spark, sf_dir, "documents"))
    df_stats = idx.term_stats.agg(
        F.count("*").alias("n_terms"),
        F.round(F.avg(F.col("df").cast("double")), 4).alias("avg_df"),
        F.max("df").alias("max_df"),
        F.max(F.struct(F.col("df"), F.col("token"))).alias("__top"),
    )
    n_postings = idx.postings.agg(F.count("*").alias("n_postings"))
    return df_stats.crossJoin(n_postings).select(
        "n_terms",
        "n_postings",
        "avg_df",
        "max_df",
        F.col("__top.token").alias("top_term"),
    )


@query("ext_cms_range_query")
def ext_cms_range_query(spark, sf_dir):
    """Range query from persisted daily sketches: per-day count-min tables
    (ONE grouped build pass — what a daily job writes) for the 3 earliest
    days, merged by summing counters, then top-5 estimated talkers for that
    range with true counts beside — raw events are only touched to build
    the daily sketches and the truth column, never per range query."""
    from ..operators import sketches

    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    first3 = e.select("day").distinct().orderBy("day").limit(3)
    e3 = e.join(F.broadcast(first3), "day", "left_semi")
    daily = sketches.cms_build_grouped(e3, "user_id", ["day"])
    merged = daily.groupBy("row", "bucket").agg(F.sum("c").alias("c"))
    keys = e3.select("user_id").distinct()
    est = sketches.cms_estimate(merged, keys, "user_id")
    true = e3.groupBy("user_id").agg(F.count("*").alias("true_c"))
    return (
        est.join(true, "user_id")
        .orderBy(F.col("est").desc(), F.col("user_id"))
        .limit(5)
    )


@query("ext_vocab_growth")
def ext_vocab_growth(spark, sf_dir):
    """Heaps'-law profile: vocabulary size at 20/40/60/80/100% corpus
    prefixes (by doc_id order) — sub-linear growth is the expected shape;
    a flat curve means boilerplate, a linear one means noise/IDs. One agg
    pass with a conditional count_distinct per checkpoint (never five
    scans)."""
    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(_tokn("text")).alias("tok")
    )
    mx = d.agg(F.max("doc_id").alias("m"))
    t = toks.crossJoin(F.broadcast(mx))
    return t.agg(
        *[
            F.count_distinct(
                F.when(F.col("doc_id") * 100 <= F.col("m") * pct, F.col("tok"))
            ).alias(f"vocab_{pct}")
            for pct in (20, 40, 60, 80, 100)
        ]
    )


@query("ext_stickiness")
def ext_stickiness(spark, sf_dir):
    """DAU/WAU/MAU engagement: distinct actives at three grains per month,
    plus the avg-DAU/MAU stickiness ratio — the standard engagement panel.
    Three conditional distinct-count views of ONE event scan (grouping by
    month; daily actives averaged via exact integer sums)."""
    e = load_table(spark, sf_dir, "events")
    month = F.date_trunc("month", F.col("ts"))
    day = F.date_trunc("day", F.col("ts"))
    daily = e.groupBy(month.alias("month"), day.alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    dau = daily.groupBy("month").agg(
        F.sum("dau").alias("dau_sum"), F.count("*").alias("n_days")
    )
    mau = e.groupBy(month.alias("month")).agg(
        F.count_distinct("user_id").alias("mau")
    )
    return (
        dau.join(mau, "month")
        .select(
            F.date_format("month", "yyyy-MM").alias("month"),
            "mau",
            F.round(
                F.col("dau_sum").cast("double") / F.col("n_days"), 4
            ).alias("avg_dau"),
            F.round(
                F.col("dau_sum").cast("double")
                / (F.col("n_days") * F.col("mau")).cast("double"),
                4,
            ).alias("stickiness"),
        )
    )


@query("ext_power_users")
def ext_power_users(spark, sf_dir):
    """Activity concentration (Pareto check): share of all events produced by
    each user-activity decile — ntile(10) over (event count desc, user_id)
    with exact integer shares in basis points. A heavy top decile is the
    skew signal that motivates the salted-join/AQE machinery."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("user_id"))
    tiled = per_user.withColumn("decile", F.ntile(10).over(w))
    total = per_user.agg(F.sum("n").alias("t"))
    return (
        tiled.groupBy("decile")
        .agg(F.sum("n").alias("events"), F.count("*").alias("users"))
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "users",
            "events",
            (F.col("events") * 10000 / F.col("t")).cast("long").alias("share_bps"),
        )
    )


@query("ext_basket_lift")
def ext_basket_lift(spark, sf_dir):
    """Association mining over per-user baskets: support and lift for every
    ordered event-type pair — lift = P(a,b)·N / (P(a)·P(b)·N²) from exact
    user counts (the market-basket analog of the token-level PMI already in
    the engine). One distinct (user, type) pass feeds singles and the
    self-join pair counts; ratios are exact rationals rounded 4."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    singles = ut.groupBy("event_type").agg(F.count("*").alias("c"))
    # the user-count scalar stays IN-PLAN (1-row broadcast) — never a
    # driver-side count() mid-query
    nu = ut.agg(F.count_distinct("user_id").alias("n_users"))
    a = ut.withColumnRenamed("event_type", "a")
    b = ut.withColumnRenamed("event_type", "b")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("both"))
    )
    ca = singles.select(F.col("event_type").alias("a"), F.col("c").alias("ca"))
    cb = singles.select(F.col("event_type").alias("b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(nu))
        .select(
            "a",
            "b",
            "both",
            F.round(
                F.col("both").cast("double") * F.col("n_users").cast("double")
                / (F.col("ca") * F.col("cb")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


@query("ext_lang_stopwords")
def ext_lang_stopwords(spark, sf_dir):
    """Language-aware stopword removal: each doc strips ITS OWN predicted
    language's stopword set (per-row dictionary dispatch; 'und' passes
    through) — content token count per doc, the multilingual-correct form
    of the fixed-list N4 operator."""
    d = load_table(spark, sf_dir, "documents")
    out = textstats.remove_stopwords_by_lang(d)
    return out.select(
        "doc_id", "lang_pred", F.size("content_tokens").alias("n_content")
    )


@query("ext_effective_size")
def ext_effective_size(spark, sf_dir):
    """Effective dataset size: token mass BEFORE vs AFTER near-dedup (the
    budget number that matters to a trainer — duplicated tokens teach
    nothing twice). Survivor doc set from the LSH+closure near-dedup,
    token counts from one tokenize pass, shares as exact integer basis
    points."""
    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    # fused bucket->clusters path (one dedup shuffle; see
    # connected_components_from_buckets). banded is NOT persisted (r11):
    # the self-join's two sides are identical subtrees, so ReuseExchange
    # computes the LSH pipeline once anyway — the cache write bought
    # nothing (measured equal-or-faster without it, and no memory held)
    banded = dedup.minhash_bucket_table(d)
    cc = dedup.connected_components_from_buckets(banded)
    survivors = dedup.near_dedup_survivors(d, None, clusters=cc).select(
        "doc_id"
    )
    toks = d.select("doc_id", F.size(_tokn("text")).cast("long").alias("n_tok"))
    marked = toks.join(
        survivors.withColumn("__keep", F.lit(1)), "doc_id", "left"
    )
    return marked.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("__keep") == 1, 1).otherwise(0)).alias("n_survivors"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum(F.when(F.col("__keep") == 1, F.col("n_tok")).otherwise(0)).alias(
            "surviving_tokens"
        ),
        (
            F.sum(F.when(F.col("__keep") == 1, F.col("n_tok")).otherwise(0))
            * 10000
            / F.sum("n_tok")
        )
        .cast("long")
        .alias("effective_bps"),
    )


@query("ext_freshness")
def ext_freshness(spark, sf_dir):
    """Data-freshness report: per event type, last event time and its lag
    behind the corpus watermark (integer seconds) — the staleness panel an
    ingest SLA monitors. One grouped agg + a 1-row broadcast max."""
    e = load_table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count("*").alias("n")
    )
    overall = e.agg(F.max("ts").alias("wm"))
    return per_type.crossJoin(F.broadcast(overall)).select(
        "event_type",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        "n",
        (
            F.col("wm").cast("timestamp").cast("long")
            - F.col("last_ts").cast("timestamp").cast("long")
        ).alias("lag_seconds"),
    )


@query("ext_null_profile")
def ext_null_profile(spark, sf_dir):
    """Column-health profile: null / zero-or-empty counts per column of the
    events table in ONE conditional-agg pass, long-form (column, n_null,
    n_degenerate) — the generic companion to the rule-based dq_audit."""
    e = load_table(spark, sf_dir, "events")
    a = e.agg(
        *[
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias(f"__n_{col}")
            for col in ("event_id", "user_id", "event_type", "value", "props")
        ],
        F.sum(F.when(F.col("value") == 0.0, 1).otherwise(0)).alias("__z_value"),
        F.sum(F.when(F.col("event_type") == "", 1).otherwise(0)).alias("__z_event_type"),
        F.sum(F.when(F.col("props") == "", 1).otherwise(0)).alias("__z_props"),
    )
    rows = ", ".join(
        [
            "'event_id', __n_event_id, 0L",
            "'user_id', __n_user_id, 0L",
            "'event_type', __n_event_type, __z_event_type",
            "'value', __n_value, __z_value",
            "'props', __n_props, __z_props",
        ]
    )
    return a.select(
        F.expr(f"stack(5, {rows}) AS (column_name, n_null, n_degenerate)")
    )


@query("ext_seasonality")
def ext_seasonality(spark, sf_dir):
    """Activity seasonality: hour-of-day × day-of-week event heatmap with
    exact per-cell value sums (cents) — one grouped agg over calendar
    functions; the temporal profile capacity planning reads."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 100, 0).cast("long")) / 100.0).alias(
            "sum_value"
        ),
    )


@query("ext_new_vs_returning")
def ext_new_vs_returning(spark, sf_dir):
    """Growth split: per day, events from first-seen-today users vs
    returning users — min-ts-per-user broadcast back onto the event stream,
    one user_id agg + one day agg."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("first_day")
    )
    tagged = e.join(first, "user_id").withColumn(
        "is_new", F.date_trunc("day", F.col("ts")) == F.col("first_day")
    )
    return tagged.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("new_events"),
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("returning_events"),
        F.count_distinct(F.when(F.col("is_new"), F.col("user_id"))).alias("new_users"),
    )


@query("ext_return_rate")
def ext_return_rate(spark, sf_dir):
    """Monthly return rate over lineitem: returned share of line items and
    of cent-exact revenue — conditional aggregates in one pass over the
    fact table (ship-date month; integer basis points, floored)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long")
    ret = F.col("l_returnflag") == "R"
    return li.groupBy(
        F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_items"),
        F.sum(F.when(ret, 1).otherwise(0)).alias("n_returned"),
        F.floor(
            F.sum(F.when(ret, 1).otherwise(0)) * 10000 / F.count("*")
        ).cast("long").alias("item_return_bps"),
        F.floor(
            F.sum(F.when(ret, cents).otherwise(0)) * 10000 / F.sum(cents)
        ).cast("long").alias("revenue_return_bps"),
    )


@query("ext_exact_median")
def ext_exact_median(spark, sf_dir):
    """EXACT per-group median (Spark's exact `percentile`, not the GK
    sketch): the continuous-interpolation convention both engines share,
    rounded 4 — sits beside ext_percentile (approx) and ext_approx_quantiles
    (sketch) as the exact tier of the quantile family."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value"),
        F.count("*").alias("n"),
    )


@query("ext_token_entropy")
def ext_token_entropy(spark, sf_dir):
    """Per-document token Shannon entropy (bits): the information-theoretic
    quality signal beside the Gopher repetition fractions — near-zero
    entropy is template spam even when no single token dominates. Exact
    per-(doc, token) counts; entropy from the standard -Σ p·log2 p."""
    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(_tokn("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = tf.join(tot, "doc_id").select(
        "doc_id", (F.col("c").cast("double") / F.col("n")).alias("p")
    )
    return p.groupBy("doc_id").agg(
        F.round(-F.sum(F.col("p") * F.log2("p")), 4).alias("entropy_bits")
    )


@query("ext_burstiness")
def ext_burstiness(spark, sf_dir):
    """Inter-event burstiness per event type: coefficient of variation of
    per-user gaps (whole seconds) — CV≈1 is Poisson, >1 bursty. Mean and
    stddev from exact integer gap sums (the moving-average determinism
    recipe), so the doubles agree cross-engine."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(F.col("ts"), F.col("event_id"))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gaps = e.select("event_type", "user_id", "ts", "event_id").withColumn(
        "gap", epoch - F.lag(epoch).over(w)
    ).filter(F.col("gap").isNotNull())
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("ss"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    mean = s / n
    var = (n * ss - s * s) / (n * (n - 1))
    return agg.select(
        "event_type",
        "n",
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(F.sqrt(var) / mean, 4).alias("cv"),
    )


@query("ext_gini")
def ext_gini(spark, sf_dir):
    """Gini coefficient of user activity — the single-number concentration
    metric beside the decile table: G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n over
    activity sorted ascending (deterministic rank ties by user_id). Every
    sum is an exact integer, so the final double is cross-engine exact."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(F.count("*").alias("x"))
    w = Window.orderBy(F.col("x"), F.col("user_id"))
    ranked = pu.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.round(
            (
                F.lit(2.0) * F.sum(F.col("i") * F.col("x")).cast("double")
                / (F.count("*") * F.sum("x")).cast("double")
            )
            - (F.count("*") + 1).cast("double") / F.count("*").cast("double"),
            4,
        ).alias("gini"),
        F.count("*").alias("n_users"),
    )


@query("ext_autocorrelation")
def ext_autocorrelation(spark, sf_dir):
    """Lag-1 autocorrelation of the hourly event-count series per type —
    the temporal-dependence signal (≈0 memoryless, →1 strongly trending).
    Pearson over (xₜ, xₜ₊₁) pairs with every sum an exact integer (counts),
    so the final double is cross-engine exact."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("x"))
    w = Window.partitionBy("event_type").orderBy("h")
    pairs = hourly.withColumn("y", F.lead("x").over(w)).filter(
        F.col("y").isNotNull()
    )
    a = pairs.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return a.select(
        "event_type", "n", F.round(num / den, 4).alias("lag1_autocorr")
    )


@query("ext_skew_report")
def ext_skew_report(spark, sf_dir):
    """Join-key skew diagnostic for events.user_id: group-size max/median
    ratio, top-key share in basis points, and distinct-key count — the
    numbers that decide between a plain shuffle join, AQE skew split, and
    explicit salting (salted_join's n_salts ≈ ceil(max_share × partitions))."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(F.count("*").alias("n"))
    return g.agg(
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_group"),
        F.round(F.expr("percentile(n, 0.5)"), 1).alias("median_group"),
        F.round(F.max("n") / F.expr("percentile(n, 0.5)"), 4).alias("skew_ratio"),
        F.floor(F.max("n") * 10000 / F.sum("n")).cast("long").alias("top_key_bps"),
    )


@query("ext_cluster_sizes")
def ext_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram: how many clusters of each size the
    LSH+closure pass finds — the companion to the degree distribution
    (cluster sizes bound the per-cluster work of canonical selection)."""
    d = load_table(spark, sf_dir, "documents")
    # fused bucket->clusters path (one dedup shuffle; see
    # connected_components_from_buckets). banded is NOT persisted (r11):
    # the self-join's two sides are identical subtrees, so ReuseExchange
    # computes the LSH pipeline once anyway — the cache write bought
    # nothing (measured equal-or-faster without it, and no memory held)
    banded = dedup.minhash_bucket_table(d)
    cc = dedup.connected_components_from_buckets(banded)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_clusters"))


@query("ext_anomalous_hours")
def ext_anomalous_hours(spark, sf_dir):
    """Traffic anomalies at the WINDOW level: hours whose event count sits
    more than 3σ from the type's hourly mean, using the same cross-
    multiplied integer predicate as ext_outliers — counts are already
    integers, so no quantization step at all."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("decimal(38,0)").alias("x"))
    w = Window.partitionBy("event_type")
    n = F.count("*").over(w).cast("decimal(38,0)")
    s = F.sum("x").over(w)
    ss = F.sum(F.col("x") * F.col("x")).over(w)
    g = hourly.select("event_type", "h", "x", n.alias("n"), s.alias("s"), ss.alias("ss"))
    lhs = F.col("x") * F.col("n") - F.col("s")
    var_num = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    return (
        g.filter(
            (F.col("n") >= 2)
            & (var_num > 0)
            & (lhs * lhs * (F.col("n") - 1) > F.lit(9) * F.col("n") * var_num)
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("x").cast("long").alias("n_events"),
        )
        .orderBy("event_type", "hour")
    )


@query("ext_event_paths")
def ext_event_paths(spark, sf_dir):
    """Second-order behavior paths: (step1 → step2 → step3) trigram counts
    per user stream (two chained leads over one user_id shuffle), top-20 —
    the longer-memory companion to ext_event_transitions' first-order
    matrix."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    p = e.select(
        F.col("event_type").alias("s1"),
        F.lead("event_type", 1).over(w).alias("s2"),
        F.lead("event_type", 2).over(w).alias("s3"),
    ).filter(F.col("s3").isNotNull())
    return (
        p.groupBy("s1", "s2", "s3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "s1", "s2", "s3")
        .limit(20)
    )


@query("ext_first_touch")
def ext_first_touch(spark, sf_dir):
    """First-touch attribution: users grouped by their FIRST event type
    (deterministic min-(ts, event_id) struct), with how many later
    converted (any purchase) and the floored basis-point conversion rate —
    the acquisition-channel table."""
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("f")
    ).select("user_id", F.col("f.event_type").alias("first_touch"))
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    j = first.join(conv, "user_id", "left")
    return j.groupBy("first_touch").agg(
        F.count("*").alias("users"),
        F.sum(F.coalesce("converted", F.lit(0))).alias("converted"),
        F.floor(
            F.sum(F.coalesce("converted", F.lit(0))) * 10000 / F.count("*")
        ).cast("long").alias("conv_bps"),
    )


@query("ext_cohort_ltv")
def ext_cohort_ltv(spark, sf_dir):
    """Cohort lifetime value: cent-exact cumulative purchase value per
    weekly signup cohort and week offset — the running-spend matrix beside
    the retention counts (cumulative window over the cohort series)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first = e.groupBy("user_id").agg(F.min(wk).alias("cohort"))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy(
            "cohort",
            ((F.datediff(wk, F.col("cohort"))) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("cohort").orderBy("week_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return spend.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "week_offset",
        (F.sum("cents").over(w) / 100.0).alias("cum_value"),
    )


@query("ext_rfm")
def ext_rfm(spark, sf_dir):
    """RFM segmentation: per purchasing user, Recency (whole days behind the
    corpus watermark), Frequency (purchase count), Monetary (cent-exact
    spend), plus 1-5 quintile codes from deterministic ntile orderings —
    the classic value-segmentation table."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase")
    wm = e.agg(F.max("ts").alias("wm"))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    per_user = p.groupBy("user_id").agg(
        F.max("ts").alias("last_p"),
        F.count("*").alias("frequency"),
        F.sum(cents).alias("cents"),
    )
    base = per_user.crossJoin(F.broadcast(wm)).select(
        "user_id",
        F.floor(
            (
                F.col("wm").cast("timestamp").cast("long")
                - F.col("last_p").cast("timestamp").cast("long")
            )
            / 86400
        ).cast("long").alias("recency_days"),
        "frequency",
        (F.col("cents") / 100.0).alias("monetary"),
        "cents",
    )
    r = F.ntile(5).over(Window.orderBy(F.col("recency_days"), F.col("user_id")))
    f = F.ntile(5).over(Window.orderBy(F.col("frequency").desc(), F.col("user_id")))
    m = F.ntile(5).over(Window.orderBy(F.col("cents").desc(), F.col("user_id")))
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        r.alias("r_quintile"),
        f.alias("f_quintile"),
        m.alias("m_quintile"),
    )


@query("ext_purchase_intervals")
def ext_purchase_intervals(spark, sf_dir):
    """Repurchase cadence: exact median and mean of the gaps between a
    user's consecutive purchases (whole seconds; integer sums + the shared
    exact-median convention) — the replenishment-cycle statistic."""
    from pyspark.sql import Window

    p = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gaps = p.select("user_id", "ts", "event_id").withColumn(
        "gap", epoch - F.lag(epoch).over(w)
    ).filter(F.col("gap").isNotNull())
    return gaps.agg(
        F.count("*").alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 1).alias("median_gap_s"),
        F.round(F.sum("gap").cast("double") / F.count("*"), 1).alias("mean_gap_s"),
    )


@query("ext_source_quality")
def ext_source_quality(spark, sf_dir):
    """Per-source quality panel: docs, mean quality (exact 1e-4-unit sums),
    and dup share within source (md5 groups) — which upstream feeds are
    worth keeping."""
    d = textstats.quality_score(load_table(spark, sf_dir, "documents"))
    qmilli = F.round(F.col("quality") * 10000, 0).cast("long")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(qmilli).cast("double") / 10000.0 / F.count("*"), 4
        ).alias("avg_quality"),
        F.floor(
            (F.count("*") - F.count_distinct(F.md5("text"))) * 10000 / F.count("*")
        ).cast("long").alias("dup_bps"),
    )


@query("ext_weekly_trend")
def ext_weekly_trend(spark, sf_dir):
    """Week-over-week growth: weekly event counts with the previous week's
    count and the floored basis-point change — the growth trendline (lag
    window over the weekly series; first week emits null-safe zeros)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("wk")
    t = weekly.withColumn("prev", F.lag("n").over(w))
    return t.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        "n",
        F.coalesce("prev", F.lit(0)).alias("prev"),
        F.when(
            F.col("prev").isNotNull(),
            F.floor((F.col("n") - F.col("prev")) * 10000 / F.col("prev")).cast("long"),
        ).otherwise(F.lit(0)).alias("wow_bps"),
    )


@query("ext_error_rate")
def ext_error_rate(spark, sf_dir):
    """Hourly error share: error events per hour with the floored
    basis-point rate — the SLO panel; one conditional agg over the hourly
    grouping."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "n_errors"
        ),
        F.floor(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            * 10000
            / F.count("*")
        ).cast("long").alias("error_bps"),
    )


@query("ext_curriculum")
def ext_curriculum(spark, sf_dir):
    """Curriculum schedule at shard granularity: the epoch-shuffle shards
    ranked easiest-first by mean quality (integer basis points, floored
    mean) — the train-on-clean-data-first ordering a curriculum trainer
    consumes, composed from two verified pieces (corpus_shuffle shard
    assignment + the quality score). The rank window runs over the
    8-row shard frame, never the corpus."""
    from pyspark.sql import Window

    from ..operators.pipeline import corpus_shuffle

    d = load_table(spark, sf_dir, "documents")
    shards = corpus_shuffle(d, shards=8).select("doc_id", "shard")
    q = textstats.quality_score(d).select(
        "doc_id",
        F.round(F.col("quality") * 10000, 0).cast("long").alias("q_bp"),
    )
    per = (
        shards.join(q, "doc_id")
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.expr("sum(q_bp) div count(*)").alias("mean_q_bp"),
        )
    )
    pos = F.row_number().over(
        Window.orderBy(F.col("mean_q_bp").desc(), "shard")
    )
    return per.select(
        "shard", "n_docs", "mean_q_bp", pos.cast("long").alias("curriculum_pos")
    ).orderBy("curriculum_pos")


@query("ext_pack_multimodal")
def ext_pack_multimodal(spark, sf_dir):
    """Multimodal (VLM-style) sequence packing: per-document cost = text
    tokens + 64 patch-tokens per attached image (image count derived
    deterministically as doc_id % 4 — the fixture has no media-reference
    column; the COST PATH is the real contract), packed into 1024-token
    context windows by the same exact integer window math as
    ext_pack_sequences. The cost_col generalization is what a real
    interleaved text+image trainer feeds."""
    from ..functions.text import tokenize_normalized
    from ..operators import pipeline as pl

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (
            F.size(tokenize_normalized("text"))
            + (F.col("doc_id") % 4) * 64
        ).cast("long").alias("cost"),
    )
    return pl.pack_sequences(
        d, budget=1024, shards=8, salt="mmpack", cost_col="cost"
    )


@query("ext_fk_profile")
def ext_fk_profile(spark, sf_dir):
    """Referential-integrity profile of the warehouse FK graph: for each
    declared child→parent key pair, child rows, orphan rows (left-anti on
    the parent key), and coverage in floored basis points. The
    join-planning statistic that decides whether an inner join silently
    drops rows; each leg is one anti-join against a broadcastable parent
    key set. All-green on the consistent fixture; the detection path is
    the same anti-join the dq audits use."""
    fks = [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for child, ck, parent, pk in fks:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias(ck)
        ).distinct()
        orphans = c.join(F.broadcast(p), ck, "left_anti")
        parts.append(
            c.agg(F.count("*").alias("n_child")).crossJoin(
                orphans.agg(F.count("*").alias("n_orphans"))
            ).select(
                F.lit(f"{child}.{ck}->{parent}.{pk}").alias("fk"),
                F.col("n_child").cast("long").alias("n_child"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
                F.expr(
                    "(n_child - n_orphans) * 10000 div n_child"
                ).alias("coverage_bp"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out.orderBy("fk")


@query("ext_catalog_summary")
def ext_catalog_summary(spark, sf_dir):
    """Catalog summary: row count per fixture table in one result — the
    SHOW-STATS front door (a union of 1-row counts; each leg is a
    metadata-cheap count aggregate)."""
    from ..io import TABLES, load_table as _lt

    parts = [
        _lt(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count("*").alias("n_rows")
        )
        for t in TABLES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query("ext_abandonment")
def ext_abandonment(spark, sf_dir):
    """Session abandonment: per user, sessions containing a view or click
    but NO purchase, next to their total sessions and the floored-bps
    abandonment rate — the session-scoped complement of the conversion
    funnel (same gap-sum sessionization, one user shuffle)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"))
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    tagged = e.select("user_id", "ts", "event_type").withColumn(
        "__new", F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "session_idx",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per = tagged.groupBy("user_id", "session_idx").agg(
        F.max(F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)).alias(
            "browsed"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "bought"
        ),
    )
    return per.groupBy("user_id").agg(
        F.count("*").alias("sessions"),
        F.sum(
            F.when((F.col("browsed") == 1) & (F.col("bought") == 0), 1).otherwise(0)
        ).alias("abandoned"),
        F.floor(
            F.sum(
                F.when((F.col("browsed") == 1) & (F.col("bought") == 0), 1).otherwise(0)
            )
            * 10000
            / F.count("*")
        ).cast("long").alias("abandon_bps"),
    )


@query("ext_conversion_lag")
def ext_conversion_lag(spark, sf_dir):
    """Signup→purchase conversion lag: for users with both, whole seconds
    from first signup to first purchase AFTER it — count, exact median,
    and mean (integer sums). The time-to-value statistic next to the 24h
    funnel flag."""
    e = load_table(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    s = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min(epoch).alias("t_signup")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch.alias("t_p")
    )
    lag = (
        p.join(s, "user_id")
        .filter(F.col("t_p") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg((F.min("t_p") - F.min("t_signup")).alias("lag_s"))
    )
    return lag.agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(lag_s, 0.5)"), 1).alias("median_lag_s"),
        F.round(F.sum("lag_s").cast("double") / F.count("*"), 1).alias("mean_lag_s"),
    )


@query("ext_peak_hour")
def ext_peak_hour(spark, sf_dir):
    """Peak load hour per event type (max_by via struct ordering, count
    then latest-hour tie-break) — the capacity-planning headline beside the
    seasonality heatmap."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("n"))
    pick = F.max(F.struct(F.col("n"), F.col("h"))).alias("best")
    return hourly.groupBy("event_type").agg(pick).select(
        "event_type",
        F.date_format("best.h", "yyyy-MM-dd HH:00").alias("peak_hour"),
        F.col("best.n").alias("n_events"),
    )


@query("ext_log_histogram")
def ext_log_histogram(spark, sf_dir):
    """Log-scale value distribution: power-of-two cent buckets via
    floor(log2(cents+1)) — integer-exact bucket keys that survive heavy
    tails where fixed-width bins (ext_histogram) go empty-or-overflow."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    bucket = F.floor(F.log2(cents.cast("double") + 1.0)).cast("long")
    return e.select(bucket.alias("log2_bucket")).groupBy("log2_bucket").agg(
        F.count("*").alias("n")
    )


@query("ext_audience_overlap")
def ext_audience_overlap(spark, sf_dir):
    """Audience overlap: exact Jaccard of USER SETS between every pair of
    event types (one distinct pass, self-join on user, integer set
    arithmetic) — which behaviors share an audience."""
    e = load_table(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count("*").alias("c"))
    a = ut.withColumnRenamed("event_type", "a")
    b = ut.withColumnRenamed("event_type", "b")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_both"))
    )
    ca = sizes.select(F.col("event_type").alias("a"), F.col("c").alias("ca"))
    cb = sizes.select(F.col("event_type").alias("b"), F.col("c").alias("cb"))
    return (
        inter.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .select(
            "a",
            "b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("ca") + F.col("cb") - F.col("n_both")).cast("double"),
                4,
            ).alias("jaccard"),
        )
    )


@query("ext_behavior_diversity")
def ext_behavior_diversity(spark, sf_dir):
    """Behavior-diversity histogram: how many users exhibit exactly k
    distinct event types — single-behavior users dominate churn risk,
    full-spectrum users anchor retention."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count_distinct("event_type").alias("k")
    )
    return per_user.groupBy("k").agg(F.count("*").alias("n_users"))


@query("ext_discount_impact")
def ext_discount_impact(spark, sf_dir):
    """Discount economics on lineitem: per discount band (integer percent),
    items, cent-exact gross revenue, and cents conceded — where margin
    actually goes."""
    li = load_table(spark, sf_dir, "lineitem")
    band = F.round(F.col("l_discount") * 100, 0).cast("long")
    gross = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    conceded = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100, 0
    ).cast("long")
    return li.groupBy(band.alias("discount_pct")).agg(
        F.count("*").alias("n_items"),
        (F.sum(gross) / 100.0).alias("gross_revenue"),
        (F.sum(conceded) / 100.0).alias("discount_given"),
    )


@query("ext_tpch_q1")
def ext_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary — the canonical scan-heavy partial+final
    aggregate (4 groups from 600k+ rows: map-side combine does ~all the
    work; the shuffle moves a handful of partial states). Every money sum
    is cent-quantized per row before summing, discounts in basis points,
    so sums AND the averages derived from them are bit-identical
    cross-engine; averages divide the integer sums in the same (s/unit)/n
    order on both sides."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    dc = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    cc = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100,
        0,
    ).cast("long")
    bps = F.round(F.col("l_discount") * 10000, 0).cast("long")
    n = F.count("*")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(qc) / 100.0).alias("sum_qty"),
        (F.sum(pc) / 100.0).alias("sum_base_price"),
        (F.sum(dc) / 100.0).alias("sum_disc_price"),
        (F.sum(cc) / 100.0).alias("sum_charge"),
        F.round(F.sum(qc).cast("double") / 100.0 / n, 2).alias("avg_qty"),
        F.round(F.sum(pc).cast("double") / 100.0 / n, 2).alias("avg_price"),
        F.round(F.sum(bps).cast("double") / 10000.0 / n, 4).alias("avg_disc"),
        n.alias("count_order"),
    )


@query("ext_spend_percentiles")
def ext_spend_percentiles(spark, sf_dir):
    """Per-user spend percentile panel: percent_rank (share of users
    strictly below) and cume_dist (share at-or-below) over total purchase
    spend — the rank-frame analytics beside ntile deciles. Both are exact
    rationals of ranks, so 4-decimal rounding is engine-stable. The global
    order runs over the USER grain (|users| ≪ |events|, post-agg); domains
    where even that is too wide switch to the two-pass count-below
    aggregation form."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("sc"))
    )
    w = Window.orderBy(F.col("sc"), F.col("user_id"))
    return spend.select(
        "user_id",
        (F.col("sc") / 100.0).alias("spend"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )


@query("ext_cumulative_revenue")
def ext_cumulative_revenue(spark, sf_dir):
    """Daily order revenue with the running cumulative total — the
    UNBOUNDED PRECEDING frame beside the trailing-1h RANGE frame
    (ext_moving_avg). Cent-exact daily sums make the running total an
    integer prefix sum, order-independent across engines. The global
    day-ordered window runs over the DAY grain (≤ a few thousand rows
    after the first agg, whatever the fact-table size)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("rc")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("rc") / 100.0).alias("revenue"),
        (F.sum("rc").over(w) / 100.0).alias("cum_revenue"),
    )


@query("ext_triangles")
def ext_triangles(spark, sf_dir):
    """Triangle census of the LSH similarity graph: node/edge counts, the
    exact triangle count (compact-forward oriented 2-join, each triangle
    counted once), open+closed triplets from integer degree sums, and the
    global clustering coefficient — with the degree distribution and
    cluster sizes, the third shape statistic that predicts dedup self-join
    cost (cliques of boilerplate vs isolated dup pairs)."""
    from ..operators.graph import triangle_stats

    d = load_table(spark, sf_dir, "documents")
    # candidates are distinct by construction — skip the defensive
    # re-distinct (one full pairs shuffle, r11)
    return triangle_stats(dedup.minhash_lsh_candidates(d), assume_distinct=True)


@query("ext_bloom_prune")
def ext_bloom_prune(spark, sf_dir):
    """Bloom-filter semi-join pruning report: build an md5-derived Bloom
    filter (m=8192 bits, k=3) over BUILDING-segment customer keys, probe
    every order map-side via ONE broadcast bit-set row, and reconcile
    against the exact semi-join — rows probed / passed / truly matching /
    false positives. md5 bit positions make the filter AND its false-
    positive set exactly reproducible in SQL; the fourth sketch family
    member, and the explicit form of the runtime join filter a 100 TB
    star join wants (prune the fact scan before the shuffle)."""
    from ..operators.sketches import bloom_build, bloom_probe

    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    bits = bloom_build(c, "c_custkey", m_bits=8192, k=3)
    probed = bloom_probe(bits, o, "o_custkey", m_bits=8192, k=3)
    truth = c.select(F.col("c_custkey").alias("o_custkey")).distinct().withColumn(
        "is_true", F.lit(True)
    )
    checked = probed.join(F.broadcast(truth), "o_custkey", "left").withColumn(
        "is_true", F.coalesce(F.col("is_true"), F.lit(False))
    )
    return checked.agg(
        F.count("*").alias("n_probe"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_pass"),
        F.sum(F.col("is_true").cast("long")).alias("n_true"),
        F.sum((F.col("bloom_pass") & ~F.col("is_true")).cast("long")).alias(
            "n_false_pos"
        ),
    )


@query("ext_more_like_this")
def ext_more_like_this(spark, sf_dir):
    """Solr MLT analog: top-10 docs most similar to doc_id=1 by TF-IDF
    cosine over the inverted index — integer milli-unit weights make every
    dot/norm an exact int64 sum, so the ranking (and the 4-decimal cosine)
    is oracle-exact. Target vector broadcast, one doc_id shuffle,
    TakeOrderedAndProject — never doc × doc."""
    from ..search.bm25 import more_like_this
    from ..search.index import build_index

    d = load_table(spark, sf_dir, "documents")
    return more_like_this(build_index(d, cache=True), target_id=1, k=10)


@query("ext_tpch_q6")
def ext_tpch_q6(spark, sf_dir):
    """TPC-H Q6 forecast-revenue-change: the pure scan-filter-agg probe —
    predicates (year, discount band in basis points, quantity cap) push to
    the parquet scan; revenue = cent-quantized extendedprice·discount
    summed as int64. The minimal full-scan query a 100 TB engine must
    drive at IO speed."""
    li = load_table(spark, sf_dir, "lineitem")
    bps = F.round(F.col("l_discount") * 10000, 0).cast("long")
    rev = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 100, 0
    ).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_quantity") < 24)
        )
        .filter(bps.between(500, 700))
        .agg(
            (F.sum(rev) / 100.0).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query("ext_scd2")
def ext_scd2(spark, sf_dir):
    """Type-2 slowly-changing-dimension history build: collapse each
    user's event stream into (state, valid_from, valid_to) intervals that
    open when event_type changes and close at the next change (NULL = the
    current state) — the warehouse-history operator beside latest-wins
    (type-1) and CDC snapshot-diff. One user_id shuffle; both windows
    share the same (user_id × ts, event_id) sort, so Spark plans a single
    sort per partition."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.withColumn("next_ts", F.lead("ts").over(w2))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
            F.date_format("next_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        )
    )


@query("ext_chi2")
def ext_chi2(spark, sf_dir):
    """Chi-square independence test of event_type × day-of-week — the
    feature-association statistic an EDA/feature-selection pass computes
    per candidate column pair. Exactness: chi2 = n·Σ o²/(r·c) − n; each
    cell's n·o²/(r·c) is ONE double expression over exact int64 totals
    (all < 2^53, so the products are exact), rounded to nano-units and
    summed as integers — the only order-dependent step (the sum) is
    integer, hence engine-stable."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").alias("o"))
    rows = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    n1 = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(F.broadcast(rows), "event_type")
        .join(F.broadcast(cols), "dow")
        .crossJoin(F.broadcast(n1))
        .select(
            F.round(
                F.lit(1e9)
                * F.col("n").cast("double")
                * (F.col("o") * F.col("o")).cast("double")
                / (F.col("r") * F.col("c")).cast("double"),
                0,
            )
            .cast("long")
            .alias("t"),
            F.col("n"),
        )
    )
    return contrib.groupBy("n").agg(F.sum("t").alias("s")).select(
        F.round((F.col("s").cast("double") / 1e9) - F.col("n"), 4).alias("chi2"),
        F.col("n").alias("n_events"),
    )


@query("ext_wilson_rates")
def ext_wilson_rates(spark, sf_dir):
    """Per-event-type high-value rate with the Wilson-score lower bound
    (z=1.96) — the ranking-safe proportion estimate that doesn't let a
    3-of-3 sample outrank 900-of-1000. All inputs are exact integer
    counts; the bound is one fixed expression tree of IEEE-exact ops,
    identical cross-engine at 4 decimals."""
    z = 1.96
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") >= 50).cast("long")).alias("hits"),
    )
    nn = F.col("n").cast("double")
    p = F.col("hits").cast("double") / nn
    z2 = F.lit(z * z)
    lower = (
        p
        + z2 / (2 * nn)
        - F.lit(z)
        * F.sqrt(p * (1 - p) / nn + z2 / (4 * nn * nn))
    ) / (1 + z2 / nn)
    return agg.select(
        "event_type",
        "n",
        "hits",
        F.round(p, 4).alias("rate"),
        F.round(lower, 4).alias("wilson_lower"),
    )


@query("ext_hybrid_rrf")
def ext_hybrid_rrf(spark, sf_dir):
    """Hybrid search via Reciprocal-Rank Fusion: fuse the BM25 keyword
    top-20 with the embedding-cosine top-20 as Σ 1/(60+rank) — the
    RAG-stack standard for combining lexical and vector retrieval without
    score calibration. Ranks are integers (ties broken on id), so the
    fusion is engine-stable; both input rankings are the already-verified
    q20/x2 surfaces. The two lists are ≤20 rows — the rank windows and
    the full-outer merge are driver-tiny while each underlying retrieval
    keeps its distributed plan."""
    from ..search.api import search_hybrid
    from ..search.index import build_index

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return search_hybrid(
        spark,
        build_index(docs, cache=True),
        emb,
        "spark join",
        query_vec_id=0,
        k=10,
        pool=20,
    )


@query("ext_percentile_bands")
def ext_percentile_bands(spark, sf_dir):
    """Per-type exact percentile bands (p25/p50/p75/p95/p99 of value) —
    the latency-SLO panel shape, computed with the exact interpolating
    percentile both engines define identically (the p50 column is the
    already-verified ext_exact_median). One shuffle on the group key; the
    per-group sort happens inside the aggregate buffer."""
    e = load_table(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95, 0.99))")
    return e.groupBy("event_type").agg(
        F.round(F.element_at(pct, 1), 4).alias("p25"),
        F.round(F.element_at(pct, 2), 4).alias("p50"),
        F.round(F.element_at(pct, 3), 4).alias("p75"),
        F.round(F.element_at(pct, 4), 4).alias("p95"),
        F.round(F.element_at(pct, 5), 4).alias("p99"),
        F.count("*").alias("n"),
    )


@query("ext_rolling_dau")
def ext_rolling_dau(spark, sf_dir):
    """Rolling 7-day distinct active users per day — the windowed-DISTINCT
    aggregate plain window frames cannot express (count_distinct over a
    moving frame): explode each day into the 7 days it contributes to
    (day-grid join over per-day DISTINCT (day,user) pairs — bounded 7×
    fan-out of the already-deduplicated day grain, never of raw events),
    then one distinct-count per target day."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("src_d"), "user_id"
    ).distinct()
    days = du.select(F.col("src_d").alias("d")).distinct()
    grid = days.select(
        "d", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    ).select("d", F.date_sub(F.col("d"), F.col("off")).alias("src_d"))
    rolled = grid.join(du, "src_d").groupBy("d").agg(
        F.count_distinct("user_id").alias("dau7")
    )
    daily = du.groupBy(F.col("src_d").alias("d")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    return (
        daily.join(rolled, "d")
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "dau7")
    )


@query("ext_reconcile_daily")
def ext_reconcile_daily(spark, sf_dir):
    """Daily signup-vs-purchase reconciliation via FULL OUTER join of the
    two per-day aggregates — days where either side is absent survive with
    zero-fill (the reconciliation-report shape; left/semi/anti are covered
    elsewhere, this is the registry's full-outer face)."""
    e = load_table(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    s = e.filter(F.col("event_type") == "signup").groupBy(day).agg(
        F.count("*").alias("n_signup")
    )
    p = e.filter(F.col("event_type") == "purchase").groupBy(day).agg(
        F.count("*").alias("n_purchase")
    )
    return s.join(p, "day", "full_outer").select(
        "day",
        F.coalesce("n_signup", F.lit(0)).alias("n_signup"),
        F.coalesce("n_purchase", F.lit(0)).alias("n_purchase"),
        (
            F.coalesce("n_purchase", F.lit(0)) - F.coalesce("n_signup", F.lit(0))
        ).alias("net"),
    )


@query("ext_source_drift")
def ext_source_drift(spark, sf_dir):
    """Corpus-mix drift: Jensen-Shannon divergence between the token
    distributions of two sources — the statistic a curation pipeline
    monitors when an upstream feed changes character. Per-token JS
    contributions are single double expressions over exact counts,
    rounded to pico-units and summed as integers, so the divergence is
    engine-stable; zero-count sides contribute exactly 0. One full-outer
    token join; totals ride as a broadcast 1-row frame."""
    from ..functions.text import tokenize_normalized

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tok = d.select(
        "source", F.explode(tokenize_normalized(F.col("text"))).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(F.count("*").alias("c"))
    c0 = counts.filter(F.col("source") == "src0").select(
        "token", F.col("c").alias("c0")
    )
    c1 = counts.filter(F.col("source") == "src1").select(
        "token", F.col("c").alias("c1")
    )
    j = (
        c0.join(c1, "token", "full_outer")
        .na.fill(0, ["c0", "c1"])
    )
    tot = j.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    full = j.crossJoin(F.broadcast(tot))
    p = F.col("c0").cast("double") / F.col("n0").cast("double")
    q = F.col("c1").cast("double") / F.col("n1").cast("double")
    m = (p + q) / 2
    term = F.when(F.col("c0") > 0, 0.5 * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("c1") > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    scored = full.select(
        "c0",
        "c1",
        F.round(term * 1e12, 0).cast("long").alias("t"),
    )
    return scored.agg(
        F.round(F.sum("t").cast("double") / 1e12, 6).alias("js_divergence"),
        F.sum((F.col("c0") > 0).cast("long")).alias("vocab_src0"),
        F.sum((F.col("c1") > 0).cast("long")).alias("vocab_src1"),
        F.sum(((F.col("c0") > 0) & (F.col("c1") > 0)).cast("long")).alias(
            "vocab_shared"
        ),
    )


@query("ext_k_anonymity")
def ext_k_anonymity(spark, sf_dir):
    """k-anonymity audit (k=5) over the quasi-identifier tuple
    (event_type, hour-of-day, value decaband): rows falling in groups
    smaller than k are re-identifiable — the governance check beside PII
    redaction before a dataset ships. One group pass + one integer
    rollup; shares in floored basis points."""
    e = load_table(spark, sf_dir, "events")
    qid = [
        F.col("event_type"),
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / 10).cast("long").alias("vband"),
    ]
    groups = e.groupBy(*qid).agg(F.count("*").alias("n"))
    unsafe = F.col("n") < 5
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum(unsafe.cast("long")).alias("n_unsafe_groups"),
        F.sum("n").alias("n_rows"),
        F.sum(F.when(unsafe, F.col("n")).otherwise(F.lit(0))).alias(
            "n_unsafe_rows"
        ),
        F.expr(
            "CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 10000 div sum(n)"
            " AS BIGINT)"
        ).alias("unsafe_bp"),
    )


@query("ext_label_balance")
def ext_label_balance(spark, sf_dir):
    """Training-label balance audit over the embedding corpus: per-class
    counts, floored-bp shares, and signed deviation from the uniform
    share — the first check before a classifier fine-tune (skewed labels
    → reweight or resample). Single pass; the class-count scalar stays
    in-plan as a broadcast 1-row frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    per = emb.groupBy("label").agg(F.count("*").alias("n"))
    tot = per.agg(
        F.sum("n").alias("total"), F.count("*").alias("n_classes")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        F.expr("CAST(n * 10000 div total AS BIGINT)").alias("share_bp"),
        F.expr(
            "CAST(n * 10000 div total - 10000 div n_classes AS BIGINT)"
        ).alias("dev_from_uniform_bp"),
    )


@query("ext_interval_merge")
def ext_interval_merge(spark, sf_dir):
    """Gaps-and-islands interval coalescing: give each event a 30-minute
    activity span and merge every overlapping-or-touching span per user
    into covered islands (start, end, n_events) — the classic
    interval-union operator beside point-gap sessionize (an island closes
    only when a span STARTS after the running max end, which handles
    nested/out-of-order spans sessionize's pairwise gap cannot). Two
    frames over ONE per-user sort; integer epoch arithmetic throughout."""
    from pyspark.sql import Window

    span = 1800
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("s"),
        (F.col("ts").cast("timestamp").cast("long") + span).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = e.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    island = F.sum("new_island").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        flagged.withColumn("island", island)
        .groupBy("user_id", "island")
        .agg(
            F.min("s").alias("start_s"),
            F.max("e").alias("end_s"),
            F.count("*").alias("n_events"),
        )
    )


@query("ext_ratio_to_report")
def ext_ratio_to_report(spark, sf_dir):
    """Share-of-total within a partition (Oracle's RATIO_TO_REPORT): each
    event type's share of its day's traffic in floored basis points — the
    partition-sum window ratio, integer-exact, one shuffle on the day key
    shared by the agg and the window."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("day"))
    return daily.select(
        "day",
        "event_type",
        "n",
        F.expr(
            "CAST(n * 10000 div sum(n) OVER (PARTITION BY day) AS BIGINT)"
        ).alias("share_bp"),
    )


@query("ext_recall_at_k")
def ext_recall_at_k(spark, sf_dir):
    """Recall@5 of the int8-quantized ANN tier against the exact cosine
    top-5 — the accuracy metric every ANN deployment reports, here
    computed between two already-verified deterministic rankings so the
    metric itself is oracle-exact (the float-sensitive LSH/IVF tiers get
    rows-only recall tests instead)."""
    approx = QUERIES["ext_ann_quantized"](spark, sf_dir).select("vec_id")
    exact = QUERIES["x2_cosine_topk"](spark, sf_dir).select("vec_id")
    hit = approx.join(exact, "vec_id")
    return hit.agg(
        F.lit(5).cast("long").alias("k"),
        F.count("*").alias("n_hit"),
        F.round(F.count("*").cast("double") / 5.0, 4).alias("recall"),
    )


@query("ext_json_extract")
def ext_json_extract(spark, sf_dir):
    """Semi-structured JSON column processing: parse the events ``props``
    JSON once with an explicit-schema ``from_json`` (one parse per row —
    never per-field ``get_json_object`` re-parsing) and aggregate the
    extracted field per event type: count, nulls, min/max, and the
    integer-exact mean of k. The in-row JSON surface beside the S2
    document-level JSON scan."""
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn(
        "k",
        F.from_json(
            F.col("props"), T.StructType([T.StructField("k", T.LongType())])
        )["k"],
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_null"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(
            F.sum("k").cast("double") / F.sum(F.col("k").isNotNull().cast("long")),
            4,
        ).alias("avg_k"),
    )


@query("ext_tokenizer_fertility")
def ext_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language: characters per whitespace token
    and per BPE-ish token — the statistic that prices a multilingual
    corpus in tokens (a high chars/token language is cheap in tokens,
    CJK-like scripts are expensive). Ratios from exact integer sums,
    mirrored division order."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " ")).cast("long")
    bpe = F.size(F.expr(r"regexp_extract_all(text, '(\\w+|[^\\w\\s])', 1)")).cast(
        "long"
    )
    per = d.select("lang", F.length("text").cast("long").alias("nc"), ws.alias("nt"), bpe.alias("nb"))
    return per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("nc").alias("total_chars"),
        F.sum("nt").alias("total_ws_tokens"),
        F.round(F.sum("nc").cast("double") / F.sum("nt"), 4).alias(
            "chars_per_ws_token"
        ),
        F.round(F.sum("nc").cast("double") / F.sum("nb"), 4).alias(
            "chars_per_bpe_token"
        ),
    )


@query("ext_growth_accounting")
def ext_growth_accounting(spark, sf_dir):
    """Monthly growth accounting: each month's active users split into
    new (first-ever month), retained (also active the previous month), and
    resurrected (active before, but not last month), plus churned (active
    last month, gone this month) — the canonical MAU bridge
    (new + retained + resurrected − churned rolls MAU forward). One
    distinct (user, month) pass; self-join on the adjacent month; integer
    month arithmetic (months_between on truncated dates is exact)."""
    e = load_table(spark, sf_dir, "events")
    um = e.select(
        "user_id", F.date_trunc("month", "ts").alias("m")
    ).distinct()
    first = um.groupBy("user_id").agg(F.min("m").alias("m0"))
    prev = um.select(
        "user_id", F.add_months(F.col("m"), 1).alias("m")
    ).withColumn("was_prev", F.lit(True))
    cur = (
        um.join(first, "user_id")
        .join(prev, ["user_id", "m"], "left")
        .select(
            "m",
            F.when(F.col("m") == F.col("m0"), F.lit("new"))
            .when(F.col("was_prev"), F.lit("retained"))
            .otherwise(F.lit("resurrected"))
            .alias("status"),
        )
    )
    active = cur.groupBy(
        F.date_format("m", "yyyy-MM").alias("month"), "status"
    ).agg(F.count("*").alias("n_users"))
    churned = (
        um.select("user_id", F.add_months(F.col("m"), 1).alias("m"))
        .join(um, ["user_id", "m"], "left_anti")
        .groupBy(F.date_format("m", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("n_users"))
        .withColumn("status", F.lit("churned"))
        .select("month", "status", "n_users")
    )
    return active.unionByName(churned)


@query("ext_peak_concurrency")
def ext_peak_concurrency(spark, sf_dir):
    """Peak concurrent activity per day via the sweep line: every 30-minute
    activity span emits a +1 start and a −1 end boundary; the running sum
    over time-ordered boundaries is the live-session count and its max is
    the day's peak — the capacity number beside peak_hour's busiest-hour
    count. Ties break ends-before-starts (a span ending exactly when
    another starts does not overlap it). One day-partitioned sort.

    Day-boundary semantics: the day partition scopes the sweep, so a span
    crossing midnight counts toward ITS START day only (its stray −1 next
    day can only push the running sum down, never affecting that day's
    max) — "peak among sessions started that day". A cross-midnight-exact
    variant seeds each day with its carried-over open-span count."""
    from pyspark.sql import Window

    span = 1800
    e = load_table(spark, sf_dir, "events")
    s = F.col("ts").cast("timestamp").cast("long")
    starts = e.select(
        s.alias("t"), F.lit(1).alias("d"), "event_id"
    )
    ends = e.select(
        (s + span).alias("t"), F.lit(-1).alias("d"), "event_id"
    )
    b = starts.unionByName(ends).withColumn(
        "day", F.date_format(F.from_unixtime("t"), "yyyy-MM-dd")
    )
    w = Window.partitionBy("day").orderBy("t", "d", "event_id")
    live = b.withColumn(
        "live", F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return live.groupBy("day").agg(F.max("live").alias("peak_concurrent"))


@query("ext_ship_delay")
def ext_ship_delay(spark, sf_dir):
    """Order-to-ship latency per priority: whole-day lag between order
    date and each line item's ship date — count, exact median, p95, max.
    A fact⋈fact temporal join keyed on the order (the lineitem side
    shuffles once on l_orderkey; orders arrives pre-aggregated at the
    same grain), then integer day arithmetic."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag_days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long")
    j = li.join(o, "l_orderkey").select(
        "o_orderpriority", lag_days.alias("lag_d")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(lag_d, 0.5)"), 2).alias("median_days"),
        F.round(F.expr("percentile(lag_d, 0.95)"), 2).alias("p95_days"),
        F.max("lag_d").alias("max_days"),
    )


@query("ext_sql_correlated")
def ext_sql_correlated(spark, sf_dir):
    """Correlated scalar subquery through the SQL front door: events whose
    value exceeds half their type's maximum — Catalyst decorrelates the
    per-row subquery into a join on the grouped aggregate (never a per-row
    re-scan). The threshold derives from MAX (exact) times an exact binary
    constant, so the boundary is engine-stable — a correlated AVG would
    hinge on float summation order."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        "SELECT event_id, event_type, ROUND(value, 2) AS v "
        "FROM events_v e "
        "WHERE value > 0.5 * (SELECT MAX(value) FROM events_v e2 "
        "                     WHERE e2.event_type = e.event_type)"
    )


@query("ext_unpivot")
def ext_unpivot(spark, sf_dir):
    """Wide→long reshaping (unpivot/melt — the inverse of ext_pivot): pivot
    per-day counts of three event types into wide columns, then melt back
    to (day, event_type, n) rows. Exercises Spark's native unpivot
    (Expand — one pass, no join); the oracle is the direct long-form
    aggregate the round-trip must reproduce, zero-fill rows dropped."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    wide = (
        e.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["view", "click", "purchase"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    long = wide.unpivot(
        ids=["day"],
        values=["view", "click", "purchase"],
        variableColumnName="event_type",
        valueColumnName="n",
    )
    return long.filter(F.col("n") > 0)


@query("ext_benford")
def ext_benford(spark, sf_dir):
    """Benford first-digit audit over order totals: observed counts and
    floored-bp shares per leading digit, with the expected Benford share
    (log10(1+1/d), a fixed constant per digit) alongside — the classic
    fabricated-numbers screen in financial QA. Leading digit extracted by
    integer arithmetic on cents (no string parsing)."""
    import math

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    # strip trailing decimal magnitude: first digit of n = n div 10^floor(log10 n)
    digit = F.expr(
        "CAST(c div CAST(pow(10, floor(log10(CAST(c AS DOUBLE)))) AS BIGINT)"
        " AS BIGINT)"
    )
    d = o.select(cents.alias("c")).filter(F.col("c") > 0).select(digit.alias("d"))
    per = d.groupBy("d").agg(F.count("*").alias("n"))
    tot = per.agg(F.sum("n").alias("total"))
    expected = F.array(
        *[F.lit(round(math.log10(1 + 1 / k) * 10000) / 10000.0) for k in range(1, 10)]
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        F.expr("CAST(n * 10000 div total AS BIGINT)").alias("share_bp"),
        F.element_at(expected, F.col("d").cast("int")).alias("benford_share"),
    )


# ---- TPC-H dossier completion (tables available in TESTDATA.md) -----------
# The fixture schema is TPC-H-reduced: no partsupp table and no
# l_shipmode/l_commitdate/l_receiptdate, o_comment, c_phone, p_container
# columns. The queries below keep each classic's OPERATOR SHAPE (the thing
# that matters for the engine) and substitute the missing column with the
# closest fixture column: "late" = l_shipdate > o_orderdate + interval
# (commitdate/receiptdate proxy), p_brand/p_size for p_container,
# c_nationkey for the c_phone country code. All money math is
# integer-cent-quantized per row before summation (cross-engine exact).
# The partsupp-bound five (Q2/Q9/Q11/Q16/Q20) run against a DERIVED
# partsupp — see _derived_partsupp below — so the whole 22-query dossier
# carries exact oracles with no extra fixture.

_LATE_60D = "INTERVAL 60 DAYS"


def _disc_cents():
    """revenue = l_extendedprice * (1 - l_discount), cent-quantized."""
    return F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long")


@query("ext_tpch_q4")
def ext_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking): EXISTS-correlated subquery
    compiled as a LEFT SEMI hash join with a non-equi residual — orders in a
    quarter having at least one "late" lineitem (shipdate > orderdate + 60d,
    the commitdate<receiptdate proxy; see module note). The semi join keeps
    the orders side unduplicated without a distinct, and the orderdate range
    predicate pushes into the parquet scan before the shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr(_LATE_60D)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query("ext_tpch_q7")
def ext_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): the two-role nation join — the SAME
    dimension table joined twice under different aliases (supplier nation vs
    customer nation), with the symmetric pair predicate. Both nation sides
    broadcast; the only shuffles are the fact-side orders⋈lineitem edge and
    the final 4-group agg. Ship-year extracted from l_shipdate (long for
    cross-engine schema parity)."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(_disc_cents()) / 100.0).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query("ext_tpch_q8")
def ext_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): conditional aggregation ratio —
    SUM(CASE nation THEN revenue)/SUM(revenue) per order-year for PROMO-type
    parts sold into ASIA. Six dimension joins all broadcast; the numerator/
    denominator are integer cent sums divided once at the end (identical
    double division cross-engine)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nc = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("c_nk"))
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
    )
    cents = _disc_cents()
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", cents).otherwise(0))
                / F.sum(cents),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query("ext_tpch_q10")
def ext_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): revenue lost to returns per
    customer over a quarter — fact⋈fact shuffle join (lineitem⋈orders), then
    broadcast customer/nation, grouped on the customer grain, top-20 via
    TakeOrderedAndProject with a custkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((F.sum(_disc_cents()) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query("ext_tpch_q12")
def ext_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (shipping-mode priority classes): CASE-sum pivot of
    urgent vs non-urgent orders per lateness class (no l_shipmode in the
    fixture; LATE/ONTIME from the shipdate-orderdate lag stands in — same
    conditional-aggregation shape). One fact⋈fact join, two-group agg."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    klass = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(_LATE_60D), "LATE"
    ).otherwise("ONTIME")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(klass.alias("ship_class"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


@query("ext_tpch_q13")
def ext_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): LEFT OUTER join so
    zero-order customers survive with count 0 (count(o_orderkey) skips the
    nulls the outer join manufactures), then a second agg over the count —
    the two-level GROUP BY. Priority filter stands in for the o_comment
    NOT LIKE of the original."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query("ext_tpch_q14")
def ext_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): single-row conditional-revenue ratio
    for one ship-month. part broadcasts against the date-pruned lineitem
    scan; the two integer cent sums divide once (basis points, 2 decimals)."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    cents = _disc_cents()
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0))
                / F.sum(cents),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query("ext_tpch_q15")
def ext_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): the revenue "view" aggregated once and
    reused for both the per-supplier totals and the scalar MAX — Spark keeps
    it a single plan with the 1-row max broadcast back (no second scan of
    lineitem, no window over the whole table). Integer cents make the
    equality join against MAX exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = persist(li.groupBy("l_suppkey").agg(F.sum(_disc_cents()).alias("rc")))
    mx = rev.agg(F.max("rc").alias("mx"))
    return (
        rev.join(F.broadcast(mx), F.col("rc") == F.col("mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", (F.col("rc") / 100.0).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@query("ext_tpch_q17")
def ext_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): the correlated AVG subquery
    (l_quantity < 0.2 * avg qty of the same part) decorrelated into a
    per-part aggregate joined back to the fact — one extra agg on l_partkey
    instead of a per-row subquery. The 20% threshold is the cross-multiplied
    integer predicate 5*n*qty_cents < sum_qty_cents (no double compare).
    Brand+size filter stands in for the p_container of the original."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") < 10)
    )
    li = load_table(spark, sf_dir, "lineitem")
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(qc).alias("sum_qc"), F.count("*").alias("n_li")
    )
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("pk"))
        .filter(qc * 5 * F.col("n_li") < F.col("sum_qc"))
    )
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    return j.agg(
        F.round(F.sum(pc) / 100.0 / 7.0, 4).alias("avg_yearly")
    )


@query("ext_tpch_q18")
def ext_tpch_q18(spark, sf_dir):
    return tpch_q18(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def tpch_q18(li, o, c):
    """TPC-H Q18 (large-volume customers): HAVING on a grouped fact (orders
    whose lineitems total > 250 units) drives the rest of the join — the
    aggregate runs FIRST so only the ~1% qualifying orderkeys reach the
    3-way join. Quantity summed in integer cents. Takes its relations, so
    the same plan runs over the parquet tables or a bucketed layout."""
    qc = F.round(F.col("l_quantity") * 100, 0).cast("long")
    big = (
        li.groupBy(F.col("l_orderkey").alias("lk"))
        .agg(F.sum(qc).alias("sum_qc"))
        .filter(F.col("sum_qc") > 250 * 100)
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("lk"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
            (F.col("sum_qc") / 100.0).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey"))
        .limit(100)
    )


@query("ext_tpch_q19")
def ext_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, OR-of-ANDs): the disjunctive predicate
    spanning both join sides — Catalyst extracts the common l_partkey=
    p_partkey equi-condition so this stays a broadcast HASH join with the
    OR as a post-join residual, not a nested-loop. Single-row revenue."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg((F.sum(_disc_cents()) / 100.0).alias("revenue"))
    )


@query("ext_tpch_q21")
def ext_tpch_q21(spark, sf_dir):
    return tpch_q21(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


def tpch_q21(li, o, s):
    """TPC-H Q21 (suppliers who kept orders waiting): the EXISTS/NOT-EXISTS
    pair over the same fact decorrelated into per-order aggregates joined
    back to the late (order, supplier) pairs. The classic form re-scans
    lineitem twice through correlated subqueries; the rewrite computes
    both quantifiers relationally (the DuckDB oracle keeps the textbook
    EXISTS form, so the rewrite is verified against the original
    semantics). "Late" = shipped > 365 days after order (receipt>commit
    proxy; module note). Takes its relations, like :func:`tpch_q18`.

    Aggregation is TWO-STAGE by design: dedup to (orderkey, suppkey,
    max(late)) first, then plain count/sum per order. The single-pass
    double-countDistinct form pays Catalyst's Expand (one input row per
    distinct aggregate — 2x the shuffle rows), and its join-back side
    re-shuffles the RAW late rows; staging lets both quantifiers AND the
    join-back reuse the pair-grain relation. Measured at x100 facts
    (60M lineitem, by the TPC-H replication probe of commit 100813f):
    29.4 s -> 15.8 s, and the x100/x1 time ratio drops ~32x -> ~15x — this
    was the shuffle-volume audit's only super-linear entry (13.2x shuffle
    bytes at 10x data). ``python bench.py --ladder`` now measures its
    scaling exponent on this code (SCALE.md)."""
    o = o.filter(F.col("o_orderstatus") == "F")
    rows = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 365 DAYS")
        ).alias("is_late"),
    )
    per_pair = rows.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("is_late").cast("int")).alias("late")
    )
    # the waiting predicate is per-order only — filter BEFORE the join so
    # the equi-join's build side is the small waiting-order set, not every
    # (order, supplier) pair (as a join predicate it rode the non-equi
    # condition and left both sides fact-grain — at x100 facts AQE then
    # runtime-broadcast a ~40 MB fact-derived relation, the exact
    # driver-OOM shape a 1000x corpus guarantees)
    waiting = per_pair.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count("*").alias("n_supp"), F.sum("late").alias("n_late_supp")
    ).filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    culprit = (
        per_pair.filter(F.col("late") == 1)
        .join(waiting, F.col("l_orderkey") == F.col("ok"))
        .select("l_orderkey", "l_suppkey")
    )
    return (
        culprit.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


@query("ext_tpch_q22")
def ext_tpch_q22(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity): scalar-AVG subquery + NOT EXISTS
    — the average positive balance broadcasts as a 1-row cross join, the
    no-orders test is a LEFT ANTI join, and the above-average predicate is
    cross-multiplied to integers (cents * n > sum_cents). c_nationkey stands
    in for the c_phone country-code prefix of the original."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    o = load_table(spark, sf_dir, "orders")
    bc = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    avg_pos = (
        c.filter(bc > 0)
        .agg(F.sum(bc).alias("sum_bc"), F.count("*").alias("n_pos"))
    )
    return (
        c.withColumn("bc", bc)
        .crossJoin(F.broadcast(avg_pos))
        .filter(F.col("bc") * F.col("n_pos") > F.col("sum_bc"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            (F.sum("bc") / 100.0).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# ---- graph traversal + LM scoring + experimentation ----------------------


@query("ext_bfs_distances")
def ext_bfs_distances(spark, sf_dir):
    """Single-source BFS over the LSH similarity graph: hop distance of
    every near-dup from the minimum-id node, bounded at 4 hops — the third
    iterative algorithm with an exact unrolled-CTE oracle (after connected
    components and integer PageRank). Bounded-frontier semantics: unreached
    nodes are absent, not null."""
    from ..operators.graph import bfs_distances

    d = load_table(spark, sf_dir, "documents")
    # banded is NOT persisted (r11): the self-join's two sides are
    # identical subtrees, so ReuseExchange computes the LSH pipeline once
    # anyway — the cache write bought nothing (measured equal-or-faster
    # without it; the eager edges cut still materializes the result)
    banded = dedup.minhash_bucket_table(d)
    edges = dedup.symmetric_edges_from_buckets(banded)
    return bfs_distances(
        None, max_hops=4, edges=edges
    ).orderBy("node").withColumnRenamed("node", "doc_id")


@query("ext_kcore")
def ext_kcore(spark, sf_dir):
    """Bounded 2-core peeling of the LSH similarity graph: nodes whose
    every-member-matches->=2-others density marks a real duplicate cluster
    rather than an incidental pairwise hit. Three peel rounds (fixpoint on
    shallow similarity graphs), exact oracle by unrolling the rounds."""
    from ..operators.graph import kcore

    d = load_table(spark, sf_dir, "documents")
    # banded is NOT persisted (r11): the self-join's two sides are
    # identical subtrees, so ReuseExchange computes the LSH pipeline once
    # anyway — the cache write bought nothing (measured equal-or-faster
    # without it; the eager edges cut still materializes the result)
    banded = dedup.minhash_bucket_table(d)
    edges = dedup.symmetric_edges_from_buckets(banded)
    return kcore(
        None, k=2, rounds=3, edges=edges
    ).orderBy("node").withColumnRenamed("node", "doc_id")


@query("ext_bigram_surprisal")
def ext_bigram_surprisal(spark, sf_dir):
    """Bigram-LM surprisal (order-1 perplexity filter): avg -ln p(w2|w1)
    with add-one smoothing over corpus transition counts. Catches garbled
    token order that the unigram filter cannot."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.bigram_surprisal(d).orderBy("doc_id")


@query("ext_ab_assignment")
def ext_ab_assignment(spark, sf_dir):
    """Deterministic experiment assignment: arm = md5(user_id) mod 2 —
    stable across runs/engines with no stored assignment table — then the
    per-arm exposure/conversion readout. The md5-bucket trick is the same
    primitive the count-min/Bloom sketches use; conversion rate reported in
    exact basis points (floor), sample-ratio check = per-arm user counts
    side by side (a 50/50 split's SRM test is a chi-square away, ext_chi2)."""
    from ..functions.hashing import md5_long

    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    arm = (F.pmod(md5_long(F.col("user_id").cast("string")), F.lit(2))).alias("arm")
    return (
        users.groupBy(arm)
        .agg(
            F.count("*").alias("n_users"),
            F.sum("converted").alias("n_converted"),
        )
        .select(
            "arm",
            "n_users",
            F.col("n_converted").cast("long").alias("n_converted"),
            F.expr("n_converted * 10000 div n_users").alias("conv_bp"),
        )
        .orderBy("arm")
    )


@query("ext_bpe_merges")
def ext_bpe_merges(spark, sf_dir):
    """BPE vocabulary induction (first 3 merges + their corpus frequencies):
    the tokenizer-trainer artifact, learned distributedly with the textbook
    greedy algorithm. Iterative algorithm five with an exact unrolled-CTE
    oracle — the marker-string merge trick gives identical leftmost-
    non-overlapping replace semantics in both engines."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.bpe_merge_table(d, rounds=3)


@query("ext_bpe_encode")
def ext_bpe_encode(spark, sf_dir):
    """The ENCODE half of the BPE tokenizer: apply the merges
    ``ext_bpe_merges`` learned back to every document and report the
    per-doc whitespace-word and BPE-symbol counts. Merges are applied once
    at vocabulary grain (Zipf-sized word table), then the corpus token
    stream takes ONE join against that word→n_symbols map — the token
    stream is never re-walked per merge round, which is what makes
    encoding affordable at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.bpe_encode_stats(d, rounds=3)


@query("ext_readability")
def ext_readability(spark, sf_dir):
    """Flesch reading-ease per document from three integer counts (words /
    sentence runs / vowel-group syllables); the score itself is computed in
    floored milli-units with pure integer arithmetic, so it is bit-identical
    cross-engine. Row-local — at 100 TB this runs at scan speed inside
    whole-stage codegen."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.readability(d)


@query("ext_encoding_audit")
def ext_encoding_audit(spark, sf_dir):
    """Encoding-damage audit per source: U+FFFD replacement characters,
    UTF-8-as-Latin-1 mojibake sequences (Ã/Â + Latin-1 tail, â€ pairs),
    stray C0 control characters. One scan + a tiny group-by. The clean
    synthetic fixture reports zeros; detection is proven on planted damage
    in tests/test_operators.py (split-leakage-audit pattern)."""
    d = load_table(spark, sf_dir, "documents")
    return textstats.encoding_audit(d)


@query("ext_repeated_spans")
def ext_repeated_spans(spark, sf_dir):
    """Exact-substring repeated spans (suffix-array dedup's k-gram cousin):
    maximal token runs covered by 8-grams occurring in >= 2 distinct docs —
    the span-level complement to document-level near-dedup (cut the span,
    keep the doc). Islands merge per doc; exact md5/int pipeline."""
    return dedup.repeated_spans(
        load_table(spark, sf_dir, "documents"), k=8, min_docs=2
    )


@query("ext_variant_extract")
def ext_variant_extract(spark, sf_dir):
    """Open-schema semi-structured processing via Spark 4's VARIANT type:
    ``parse_json`` ingests ``props`` once into the binary variant encoding
    (no schema declared — the schema-on-read complement to
    ext_json_extract's explicit-schema from_json), then ``variant_get``
    path extraction feeds a typed aggregate. At scale, variant columns
    shred to parquet and path extraction prunes like any struct field;
    this is the engine's ingestion answer for heterogeneous JSON where the
    schema isn't known at write time. Percentile band of k per event type
    with exact integer compares."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )
    return (
        v.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("k") >= 50, 1).otherwise(0)).alias("n_high"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query("ext_sql_pipe")
def ext_sql_pipe(spark, sf_dir):
    """SQL pipe syntax (Spark 4 |> operator chains) through the front door:
    the TPC-H Q1-shaped pricing aggregate written as a linear FROM |> WHERE
    |> AGGREGATE |> ORDER BY pipeline. Same Catalyst plan as the classic
    form — the surface matters for users porting dplyr/Kusto/BigQuery-pipe
    workloads; the oracle is the classic-SQL spelling of the same query."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        "FROM lineitem "
        "|> WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "|> AGGREGATE CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sum_qc, "
        "CAST(COUNT(*) AS BIGINT) AS n GROUP BY l_returnflag, l_linestatus "
        "|> ORDER BY l_returnflag, l_linestatus"
    )


@query("ext_sql_recursive_bfs")
def ext_sql_recursive_bfs(spark, sf_dir):
    """Recursive CTE through the SQL front door (Spark 4.1 WITH RECURSIVE):
    single-source hop-bounded BFS over the LSH similarity graph — the SAME
    recursive SQL text DuckDB runs as the oracle, so the parity check is a
    direct cross-engine recursive-CTE comparison. UNION ALL recursion
    enumerates walks, the hop bound (< 4) caps them, and the outer MIN
    collapses walks to distances — semantically identical to the DataFrame
    ``graph.bfs_distances`` loop (UNION-distinct recursion, which would
    enumerate nodes instead of walks, is not yet supported by Spark's
    recursive CTEs; at scale the DataFrame loop with its per-round distinct
    IS the production form, this is the SQL-surface twin)."""
    d = load_table(spark, sf_dir, "documents")
    dedup.minhash_lsh_candidates(d).createOrReplaceTempView("lsh_pairs")
    return spark.sql(_RECURSIVE_BFS_SQL)


_RECURSIVE_BFS_SQL = """
WITH RECURSIVE reach(node, dist) AS (
  SELECT MIN(doc_a), 0 FROM lsh_pairs
  UNION ALL
  SELECT e.b, reach.dist + 1
  FROM reach
  JOIN (SELECT doc_a AS a, doc_b AS b FROM lsh_pairs
        UNION ALL SELECT doc_b, doc_a FROM lsh_pairs) e
    ON e.a = reach.node
  WHERE reach.dist < 4
)
SELECT node AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
FROM reach GROUP BY node ORDER BY doc_id
"""


_LATERAL_SQL = """
SELECT u.user_id, e.event_id,
       CAST(unix_seconds(e.ts) AS BIGINT) AS ts_epoch
FROM (SELECT DISTINCT user_id FROM events_lat WHERE user_id < 20) u,
LATERAL (SELECT event_id, ts FROM events_lat e
         WHERE e.user_id = u.user_id
         ORDER BY ts DESC, event_id LIMIT 3) e
ORDER BY u.user_id, ts_epoch DESC, e.event_id
"""


@query("ext_sql_lateral")
def ext_sql_lateral(spark, sf_dir):
    """LATERAL correlated subquery through the SQL front door: 3 most
    recent events per user written as a correlated per-row subquery with
    ORDER BY + LIMIT — Catalyst decorrelates it to the same join +
    windowed-rank shape as the DataFrame top_k_per_group, so the SQL
    surface costs nothing at scale. The oracle is near-identical SQL in
    DuckDB (epoch extraction spelled per engine), a direct cross-engine
    LATERAL comparison."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_lat")
    return spark.sql(_LATERAL_SQL)


_SERVE_E2E_NEW_DOCS = [
    (9000001, "spark join adaptive shuffle pruning fresh arrival one"),
    (9000002, "spark broadcast join execution replans fresh arrival two"),
]


@query("ext_serve_loop_e2e")
def ext_serve_loop_e2e(spark, sf_dir):
    """The FULL streaming serve loop (search/serve_loop.py) driven
    end-to-end as a certifiable query — the reference's production
    architecture (``Main/SolrIndexer.java:25-45`` re-index per batch +
    ``SolrRanker.java:66-91`` serve from the live index): bootstrap serving
    state from the documents corpus (segment 1, self-gated), push one delta
    micro-batch through gate -> delta-index -> publish (two genuinely new
    docs index; one near-dup arrival — an exact copy of doc 1's text under
    a new id — is suppressed by the MinHash-LSH gate), then serve BM25
    top-10 for ['spark','join'] from the refreshed ON-DISK segment index.

    The DuckDB oracle replays the same two-stage gate with the proven
    banded-minhash SQL (shared with ext_minhash_candidates) and the same
    BM25 arithmetic (shared with q20) over the resulting corpus — so a
    green row certifies the serve loop's core claim: served results are
    EXACTLY a batch rebuild over the latest-wins corpus."""
    import os
    import shutil
    import tempfile

    from ..search import serve_loop
    from ..search.bm25 import bm25_search

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"jse_serve_e2e_{sf_tag}")
    shutil.rmtree(base, ignore_errors=True)
    prefix = f"jse_sl_e2e_{sf_tag}"

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    serve_loop.serve_batch(spark, docs, base, prefix, postings_buckets=4)

    delta = spark.createDataFrame(
        _SERVE_E2E_NEW_DOCS, "doc_id long, text string"
    ).unionByName(
        docs.filter(F.col("doc_id") == 1).select(
            F.lit(9000003).cast("long").alias("doc_id"), "text"
        )
    )
    serve_loop.serve_batch(spark, delta, base, prefix, postings_buckets=4)

    idx = serve_loop.read_served_index(spark, base)
    return bm25_search(spark, idx, ["spark", "join"], k=10)


# ---- TPC-H partsupp-bound five (Q2/Q9/Q11/Q16/Q20) -------------------------
# The driver fixtures carry no partsupp table, so these queries DERIVE one
# deterministically from the tables that do exist: every part gets 4
# supplier rows via pure integer arithmetic over (p_partkey, j, |supplier|)
# — the same construction TPC-H dbgen itself uses (partkey + j*step mod S).
# Both engines compute the identical rows from the identical inputs, so all
# five classics carry EXACT DuckDB oracles at any sf_dir (the oracle SQL
# builds the same CTE; see oracles._PARTSUPP_CTE). Values are chosen so
# derived columns stay exact cross-engine: ps_supplycost is an integer cent
# count divided by 100.0 (one IEEE division of the same integer on both
# sides), ps_availqty an int, ps_suppkey a long.


def _derived_partsupp(spark, sf_dir):
    """partsupp(ps_partkey, ps_suppkey, ps_availqty, ps_supplycost) derived
    from part x supplier-count. 4 distinct suppliers per part: suppkey =
    (p + j*step) mod S, j in 0..3, with step = S//4+1 — EXCEPT when that
    step collides (j*step offsets coincide mod S iff d*step ≡ 0 mod S for
    some d in 1..3, which for step=S//4+1 happens exactly at S in
    {4, 6, 9, 12}; e.g. S=9: 3*3=9, S=12: 3*4=12), where step falls back
    to 1 (offsets 0..3, distinct for any S >= 4). The collision guard is
    the same CASE arithmetic in the DuckDB oracle CTE, so cross-engine
    parity holds at ANY supplier count — pinned for S in 4..200 by
    test_partsupp_step_distinct_all_counts. Scale shape: the supplier
    COUNT is a 1-row agg broadcast into the part scan — no shuffle beyond
    that single scalar; 4x|part| rows stream out of a projection."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    scnt = load_table(spark, sf_dir, "supplier").agg(
        F.count("*").alias("__cnt")
    )
    step0 = F.floor(F.col("__cnt") / 4).cast("long") + 1
    step = F.when(
        ((2 * step0) % F.col("__cnt") == 0) | ((3 * step0) % F.col("__cnt") == 0),
        F.lit(1).cast("long"),
    ).otherwise(step0)
    return (
        part.crossJoin(F.broadcast(scnt))
        .select(
            "p_partkey",
            "__cnt",
            F.explode(F.array(*[F.lit(j).cast("long") for j in range(4)])).alias(
                "__j"
            ),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") + F.col("__j") * step) % F.col("__cnt")).alias(
                "ps_suppkey"
            ),
            ((F.col("p_partkey") * 11 + F.col("__j") * 17) % 9999 + 1)
            .cast("int")
            .alias("ps_availqty"),
            (
                ((F.col("p_partkey") * 13 + F.col("__j") * 29) % 99900 + 100)
                / 100.0
            ).alias("ps_supplycost"),
        )
    )


@query("ext_tpch_q2")
def ext_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the correlated MIN subquery
    decorrelated the classic way — group the region-filtered (partsupp x
    supplier x nation x region) candidates by part, join the per-part MIN
    back on (partkey, cost) equality. Cost equality on doubles is safe
    HERE because both sides derive the identical IEEE double from the same
    integer (see _derived_partsupp). Dimension chain region->nation
    broadcasts into supplier; the only shuffles are the partsupp-supplier
    join and the min-agg. p_brand stands in for the missing p_mfgr,
    p_type equality for the '%BRASS' suffix (6 discrete types here)."""
    ps = _derived_partsupp(spark, sf_dir)
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    cand = ps.join(s, F.col("ps_suppkey") == F.col("s_suppkey"))
    mc = cand.groupBy(F.col("ps_partkey").alias("__mk")).agg(
        F.min("ps_supplycost").alias("__min")
    )
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "ECONOMY") & F.col("p_size").between(10, 20)
    )
    return (
        cand.join(
            mc,
            (F.col("ps_partkey") == F.col("__mk"))
            & (F.col("ps_supplycost") == F.col("__min")),
        )
        .join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            "ps_supplycost",
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query("ext_tpch_q9")
def ext_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): profit = revenue minus
    supply cost, per nation per order-year, over parts matching a name
    color. The composite-key join lineitem->(l_partkey, l_suppkey)->
    partsupp is THE q9 signature (it forces a two-column shuffle key);
    supplier+nation broadcast; the part-name filter broadcasts as a
    semi-side reducer before the fact shuffle. Profit is cent-quantized
    per row: revenue cents minus cost-cents x integer quantity, summed as
    longs, /100.0 once at the end (cross-engine exact)."""
    ps = _derived_partsupp(spark, sf_dir)
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    sn = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount_cents = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long") - F.round(F.col("ps_supplycost") * 100, 0).cast(
        "long"
    ) * F.round(F.col("l_quantity"), 0).cast("long")
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(F.broadcast(sn), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(amount_cents) / 100.0).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query("ext_tpch_q11")
def ext_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important stock): per-part inventory value within
    one nation, HAVING value > 1/500 of the nation's total — the
    grouped-agg-vs-global-scalar comparison. Both sides stay integer
    cents; the fraction compare is cross-multiplied (value_cents * 500 >
    total_cents) so no floating threshold exists anywhere. The global
    total is a 1-row agg broadcast-crossJoined into the grouped frame
    (no driver collect)."""
    ps = _derived_partsupp(spark, sf_dir)
    sn = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(
            load_table(spark, sf_dir, "nation").filter(
                F.col("n_name") == "NATION_7"
            )
        ),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    vc = F.round(F.col("ps_supplycost") * 100, 0).cast("long") * F.col(
        "ps_availqty"
    ).cast("long")
    base = ps.join(sn, F.col("ps_suppkey") == F.col("s_suppkey")).select(
        "ps_partkey", vc.alias("__vc")
    )
    grouped = base.groupBy("ps_partkey").agg(F.sum("__vc").alias("__gvc"))
    total = base.agg(F.sum("__vc").alias("__tot"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .filter(F.col("__gvc") * 500 > F.col("__tot"))
        .select("ps_partkey", (F.col("__gvc") / 100.0).alias("value"))
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


@query("ext_tpch_q16")
def ext_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (parts/supplier relationship): COUNT(DISTINCT
    supplier) per (brand, type, size) bucket over filtered parts, with a
    NOT-IN supplier exclusion compiled as a LEFT ANTI join (negative
    s_acctbal stands in for the missing s_comment complaint filter).
    The distinct-count shuffles once on the 3-part group key."""
    ps = _derived_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & F.col("p_size").isin(1, 5, 11, 15, 21, 26, 31, 36)
    )
    excl = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    )
    return (
        ps.join(F.broadcast(p), F.col("ps_partkey") == F.col("p_partkey"))
        .join(excl, F.col("ps_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query("ext_tpch_q20")
def ext_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): suppliers in one nation
    whose stock of color-named parts exceeds half of what they shipped in
    a year — the doubly-nested IN with a correlated SUM, decorrelated to
    (partsupp x grouped-lineitem) join + LEFT SEMI into supplier. The
    half-sum compare is cross-multiplied to integers (2*availqty >
    sum_qty). An empty shipped-group excludes its (part, supplier) pair
    exactly like the classic's NULL comparison."""
    ps = _derived_partsupp(spark, sf_dir)
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    liq = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.round(F.col("l_quantity"), 0).cast("long")).alias("__sq"))
    )
    qualified = (
        ps.join(F.broadcast(red), F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            liq,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty").cast("long") * 2 > F.col("__sq"))
        .select("ps_suppkey")
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load_table(spark, sf_dir, "nation").filter(
                    F.col("n_name") == "NATION_3"
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(qualified, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# ---- round-8 additions: training-feed audits ------------------------------


@query("ext_truncation_audit")
def ext_truncation_audit(spark, sf_dir):
    """Context-window truncation audit at max_len=128 tokens, per source:
    how many documents a trainer's sequence cap would cut and what share
    of the token mass it loses — the go/no-go number before choosing a
    packing budget. Integer bps end-to-end (10000*x div y); one scan, one
    #sources-row agg. The per-doc token count is the canonical analyzer's
    (tokenize_normalized), the same count packing/budget ops use."""
    from ..functions.text import tokenize_normalized as _tokn

    max_len = 128
    d = load_table(spark, sf_dir, "documents")
    n = F.size(_tokn("text")).cast("long")
    per = d.select(
        "source",
        n.alias("n"),
        F.greatest(n - max_len, F.lit(0).cast("long")).alias("lost"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n") > max_len).cast("long")).alias("n_truncated"),
            F.sum("n").alias("total_tokens"),
            F.sum("lost").alias("tokens_lost"),
        )
        .select(
            "source",
            "n_docs",
            "n_truncated",
            F.expr("div(10000 * n_truncated, n_docs)").alias("truncated_bps"),
            "total_tokens",
            "tokens_lost",
            F.expr("div(10000 * tokens_lost, total_tokens)").alias("loss_bps"),
        )
        .orderBy("source")
    )


@query("ext_ngram_novelty")
def ext_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty: the share of a document's DISTINCT
    5-grams whose FIRST corpus occurrence (min doc_id) is this document —
    the boilerplate detector dual to cross-doc duplication: low novelty =
    the document is assembled from text seen earlier in the feed. Shuffle
    keys are grams and doc_ids, never documents; integer bps. Emits the
    20 least-novel multi-gram documents (count desc ties on doc_id)."""
    from ..functions.hashing import token_ngrams
    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(token_ngrams(_tokn("text"), 5)).alias("gram")
    ).distinct()
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
        .filter(F.col("n_grams") >= 5)
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.expr("div(10000 * n_novel, n_grams)").alias("novelty_bps"),
        )
        .orderBy("novelty_bps", F.col("n_grams").desc(), "doc_id")
        .limit(20)
    )


@query("ext_vocab_topk_coverage")
def ext_vocab_topk_coverage(spark, sf_dir):
    """Zipf head coverage: what share of the corpus token mass the top-K
    vocabulary types cover, K in {10, 100, 1000} — the tokenizer-sizing
    companion to ext_vocab_growth's Heaps profile. Deliberately NOT a
    global cumulative-sum window (single-partition over the whole
    vocabulary — a scale smell): each K is an orderBy(count desc).limit(K)
    = TakeOrderedAndProject (per-partition heaps) + a K-row agg, unioned.
    Integer bps against the in-plan broadcast total."""
    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    counts = persist(
        d.select(F.explode(_tokn("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    total = counts.agg(F.sum("c").alias("total"))
    out = None
    for k in (10, 100, 1000):
        top = counts.orderBy(F.col("c").desc(), "tok").limit(k)
        row = (
            top.agg(
                F.count("*").alias("n_types"),
                F.sum("c").alias("covered_tokens"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(k).cast("long").alias("k"),
                "n_types",
                "covered_tokens",
                F.expr("div(10000 * covered_tokens, total)").alias(
                    "coverage_bps"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


@query("ext_hapax_rate")
def ext_hapax_rate(spark, sf_dir):
    """Per-source hapax legomena rate: share of each source's vocabulary
    occurring exactly once — high hapax = noisy/ID-heavy text, low = tight
    boilerplate; pairs with ext_vocab_topk_coverage (head mass) as the
    tail-mass lens. One explode + one (source, tok) agg + one #sources-row
    rollup, integer bps."""
    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(_tokn("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    return (
        counts.groupBy("source")
        .agg(
            F.count("*").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).alias("n_hapax"),
            F.sum("c").alias("n_tokens"),
        )
        .select(
            "source",
            "n_types",
            "n_hapax",
            F.expr("div(10000 * n_hapax, n_types)").alias("hapax_bps"),
            "n_tokens",
        )
        .orderBy("source")
    )


@query("ext_source_vocab_overlap")
def ext_source_vocab_overlap(spark, sf_dir):
    """Domain similarity by head-vocabulary overlap: Jaccard of the
    top-100 token types between every source pair — the cheap "are these
    two feeds the same kind of text" matrix a mixture designer reads
    before setting shares. Per-source top-k is a source-partitioned
    row_number window (bounded by per-source vocabulary, never global);
    the pair join keys on token and only ever joins 100-row head lists.
    Top-20 most-overlapping pairs, integer bps. The Jaccard denominator
    uses each side's ACTUAL head size (|A| + |B| - overlap) — a source
    with under 100 distinct types must not have its union padded to 100
    (the pre-r9 hardcoded ``200 - overlap`` understated such pairs)."""
    from pyspark.sql import Window

    from ..functions.text import tokenize_normalized as _tokn

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(_tokn("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), "tok")
    head = persist(
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 100)
        .select("source", "tok")
    )
    a, b = head.alias("a"), head.alias("b")
    pairs = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("overlap_n"))
    )
    sizes = head.groupBy("source").agg(F.count("*").alias("hn"))
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("hn").alias("hn_a"))), "src_a")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("hn").alias("hn_b"))), "src_b")
        .select(
            "src_a",
            "src_b",
            "overlap_n",
            F.expr("div(10000 * overlap_n, hn_a + hn_b - overlap_n)").alias(
                "jaccard_bps"
            ),
        )
        .orderBy(F.col("jaccard_bps").desc(), "src_a", "src_b")
        .limit(20)
    )


@query("ext_sentence_stats")
def ext_sentence_stats(spark, sf_dir):
    """Per-source sentence segmentation stats (regex [.!?] splitter, empty
    segments trimmed away): sentences per doc (x100) and characters per
    sentence — the readability-adjacent shape features a curation pass
    bands on. Row-local split + one #sources-row agg; integer division
    end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    sentences = F.filter(
        F.transform(F.split("text", r"[.!?]"), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )
    per = d.select(
        "source",
        F.size(sentences).cast("long").alias("n_sentences"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_sentences").alias("total_sentences"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "total_sentences",
            F.expr("div(100 * total_sentences, n_docs)").alias(
                "sentences_per_doc_x100"
            ),
            F.expr("div(total_chars, total_sentences)").alias(
                "chars_per_sentence"
            ),
        )
        .orderBy("source")
    )


@query("ext_dup_sample_estimate")
def ext_dup_sample_estimate(spark, sf_dir):
    """Sampled duplicate-rate estimator vs ground truth: at 100 TB you
    audit dedup health from a sample, not a full pass — but sampling DOCS
    breaks duplicate groups across the boundary and biases the estimate
    down. Sampling by HASH OF CONTENT (md5(text) bucket) keeps every
    duplicate group wholly in or out, so the group-level sample is
    unbiased. One row: exact dup rate, 1/8-sample estimate, and their
    gap — all integer bps from one scan + one content-hash agg."""
    from ..functions.hashing import md5_long

    d = load_table(spark, sf_dir, "documents")
    h = md5_long(F.col("text"))
    groups = (
        d.select(h.alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n"))
        .withColumn("in_sample", (F.pmod(F.col("h"), F.lit(8)) == 0).cast("long"))
    )
    return groups.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.col("n") - 1).alias("n_dup_docs"),
        F.sum(F.col("n") * F.col("in_sample")).alias("n_sample_docs"),
        F.sum((F.col("n") - 1) * F.col("in_sample")).alias("n_sample_dups"),
    ).select(
        "n_docs",
        "n_dup_docs",
        F.expr("div(10000 * n_dup_docs, n_docs)").alias("exact_dup_bps"),
        "n_sample_docs",
        "n_sample_dups",
        F.expr(
            "CASE WHEN n_sample_docs > 0 "
            "THEN div(10000 * n_sample_dups, n_sample_docs) ELSE 0 END"
        ).alias("est_dup_bps"),
        F.expr(
            "abs(div(10000 * n_dup_docs, n_docs) - "
            "CASE WHEN n_sample_docs > 0 "
            "THEN div(10000 * n_sample_dups, n_sample_docs) ELSE 0 END)"
        ).alias("err_bps"),
    )
