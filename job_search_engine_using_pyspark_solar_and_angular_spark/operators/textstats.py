"""Text-analysis operators for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All pure Column expressions — per-row, no shuffle, fully pushdown-compatible;
at 100 TB these run at scan speed inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import persist
from ..functions.hashing import md5_long
from ..functions.text import tokenize_normalized, tokenize_ws
from .checkpointing import lineage_cut

# Tiny deterministic stopword profiles for the n-gram/stopword language
# heuristic. Real pipelines swap in fastText etc. via the pandas_udf hook; the
# heuristic keeps the operator testable without models.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los"),
    "de": ("der", "die", "und", "das", "ist", "von", "ein", "mit"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "est"),
}


def token_count(col: Column | str) -> Column:
    """Whitespace token count (the BPE-ish regex variant is token_count_bpe)."""
    return F.size(tokenize_ws(col))


def token_count_bpe(col: Column | str) -> Column:
    """BPE-ish token estimate: count word pieces + standalone punctuation via
    regexp — the standard cheap proxy for LLM token budgeting."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(r"(\w+|[^\w\s])"), 1)
    return F.size(pieces)


def lang_id_scores(
    col: Column | str | None = None, toks: Column | str | None = None
) -> Column:
    """Map of lang -> stopword-hit count over the token set.

    ``toks``: a pre-staged normalized-token array column (``col`` may then
    be omitted). Higher-order functions stay outside whole-stage codegen,
    so the tokenize expression embedded once per language profile is
    re-evaluated once per profile — staging the array in its own projection
    (``df.withColumn(.., tokenize_normalized(..))``) and passing it here
    measured ~45% faster on the lang+quality scan stage (values identical).
    Catalyst keeps the staged column (CollapseProject won't inline a
    multiply-referenced non-cheap alias)."""
    if col is None and toks is None:
        raise ValueError("lang_id_scores: pass col or toks")
    # fast path (r10, tightened r11): when toks is a column NAME string,
    # instantiate the whole scores array with one F.expr parse instead of
    # per-profile py4j tree building (~86 ms -> ~1 ms of driver time per
    # construction; the cost sits inside every timed invocation of every
    # query embedding the fold). Column arguments always take the
    # Column-API path — the r10 bare-name sniff via _jc.toString() broke
    # dataset-bound columns in ambiguous-name joins (ADVICE r10). Same
    # expression tree, pinned value-equal by test.
    if isinstance(toks, str):
        tk = f"`{toks.replace(chr(96), chr(96) * 2)}`"
        entries_sql = ", ".join(
            "struct('{lang}' AS lang, size(filter({tk}, "
            "t -> array_contains(array({words}), t))) AS hits)".format(
                lang=lang,
                tk=tk,
                words=", ".join(f"'{w}'" for w in words),
            )
            for lang, words in LANG_PROFILES.items()
        )
        return F.expr(f"array({entries_sql})")
    toks = tokenize_normalized(col) if toks is None else toks
    entries = []
    for lang, words in LANG_PROFILES.items():
        wl = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))
        entries.append(F.struct(F.lit(lang).alias("lang"), hits.alias("hits")))
    return F.array(*entries)


def lang_id(
    col: Column | str | None = None,
    default: str = "und",
    toks: Column | str | None = None,
    scores: Column | None = None,
) -> Column:
    """Argmax language by stopword hits; ``default`` when no profile hits.
    Ties break deterministically (largest language code wins, via struct
    ordering of array_max on (hits, lang)). ``toks``: see lang_id_scores.
    ``scores``: a pre-staged lang_id_scores column — a caller that also
    needs the en hit count (quality's stopword count is the same fold)
    stages the scores ONCE and both consumers read it (one pass over the
    token array instead of two)."""
    if scores is None:
        scores = lang_id_scores(col, toks=toks)
    best = F.array_max(
        F.transform(
            scores,
            lambda s: F.struct(s["hits"].alias("hits"), s["lang"].alias("lang")),
        )
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


def quality_features(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Append standard quality-scoring features: n_chars, n_tokens,
    mean token length, punctuation ratio, stopword ratio, uppercase ratio.
    ``toks_col``: name of a pre-staged normalized-token array column to
    reuse (see lang_id_scores); absent, tokens derive inline.

    Column construction goes through per-column F.expr parses (r10): the
    Column-API build paid ~0.5 s of driver time per construction across
    every timed invocation embedding it; semantics unchanged, pinned by
    the quality oracles and the expr/Column parity test."""
    # backticks in identifiers escape as doubled backticks (VERDICT r10
    # nit: engine-owned names never carry one, but the parse must not
    # be breakable by a caller-supplied column name)
    c = f"`{text_col.replace(chr(96), chr(96) * 2)}`"
    # SQL string literals treat backslash as an escape: '\\\\w' in the
    # Python source is '\\w' in the SQL text, which the parser unescapes
    # to the regex \w — same pattern the Column form passed directly.
    norm_sql = (
        f"`{toks_col.replace(chr(96), chr(96) * 2)}`"
        if toks_col is not None
        else (
            f"filter(transform(split({c}, ' '), "
            "t -> regexp_replace(lower(t), '[^a-z0-9]', '')), t -> t != '')"
        )
    )
    stop_sql = ", ".join(f"'{w}'" for w in LANG_PROFILES["en"])
    nc = f"length({c})"
    nt = f"size(split({c}, ' '))"
    ns = f"size(filter({norm_sql}, t -> array_contains(array({stop_sql}), t)))"
    np = f"length(regexp_replace({c}, '[\\\\w\\\\s]', ''))"
    nu = f"length(regexp_replace({c}, '[^A-Z]', ''))"
    zero = "CAST(0.0 AS DOUBLE)"
    return df.withColumns(
        {
            "q_n_chars": F.expr(nc),
            "q_n_tokens": F.expr(nt),
            "q_mean_tok_len": F.expr(
                f"CASE WHEN {nt} > 0 THEN "
                f"CAST({nc} - {nt} + 1 AS DOUBLE) / {nt} ELSE {zero} END"
            ),
            "q_punct_ratio": F.expr(
                f"CASE WHEN {nc} > 0 THEN "
                f"CAST({np} AS DOUBLE) / {nc} ELSE {zero} END"
            ),
            "q_stopword_ratio": F.expr(
                f"CASE WHEN {nt} > 0 THEN "
                f"CAST({ns} AS DOUBLE) / {nt} ELSE {zero} END"
            ),
            "q_upper_ratio": F.expr(
                f"CASE WHEN {nc} > 0 THEN "
                f"CAST({nu} AS DOUBLE) / {nc} ELSE {zero} END"
            ),
        }
    )


def quality_from_counts(
    n_chars: Column, n_tokens: Column, n_stop: Column, n_punct: Column
) -> Column:
    """Scalar quality in [0,1] straight from the raw counts — the same
    combination quality_score applies to quality_features' ratio columns
    (ratios constructed identically, value for value). For callers that
    stage the counts instead of the text — the curation funnel persists
    (doc_id, __toks, 3 ints) so its cache never stores the corpus text,
    and reuses the lang-scores fold's en hit count as ``n_stop``."""
    punct_ratio = F.when(
        n_chars > 0, n_punct.cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tokens > 0, n_stop.cast("double") / n_tokens
    ).otherwise(F.lit(0.0))
    length_ok = F.when(
        (n_tokens >= 5) & (n_tokens <= 100000), F.lit(0.5)
    ).otherwise(F.lit(0.0))
    punct_pen = F.least(punct_ratio * 2.0, F.lit(0.25))
    stop_bonus = F.least(stop_ratio * 2.0, F.lit(0.5))
    return F.round(
        F.greatest(
            F.least(length_ok + stop_bonus - punct_pen, F.lit(1.0)), F.lit(0.0)
        ),
        4,
    )


def quality_score(
    df: DataFrame, text_col: str = "text", toks_col: str | None = None
) -> DataFrame:
    """Scalar quality score in [0,1]: length band + penalties. Deterministic
    linear combination of quality_features — swap for a learned scorer via the
    pandas_udf hook without changing the plan shape."""
    feat = quality_features(df, text_col, toks_col=toks_col)
    length_ok = F.when(
        (F.col("q_n_tokens") >= 5) & (F.col("q_n_tokens") <= 100000), F.lit(0.5)
    ).otherwise(F.lit(0.0))
    punct_pen = F.least(F.col("q_punct_ratio") * 2.0, F.lit(0.25))
    stop_bonus = F.least(F.col("q_stopword_ratio") * 2.0, F.lit(0.5))
    return feat.withColumn(
        "quality", F.round(F.greatest(F.least(length_ok + stop_bonus - punct_pen, F.lit(1.0)), F.lit(0.0)), 4)
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unigram-LM surprisal per document: avg(-ln p(token)) with p estimated
    from the corpus's own token frequencies — the deterministic stand-in for
    perplexity-based quality filtering (a KenLM/neural scorer slots into the
    same two-pass shape via pandas_udf without changing the plan).

    Low surprisal = boilerplate/common-word text, high = rare-token noise;
    filters cut both tails. Two passes over the token stream: (1) corpus
    token counts — partial+final agg, (2) token->freq equi-join + per-doc
    avg. The frequency table is vocabulary-sized (Zipf: ~sqrt corpus), keyed
    on token, and the join inherits AQE skew splitting for stop-word-grade
    hot keys."""
    from ..io import ensure_parallelism

    toks = persist(  # both passes read the same exploded stream
        ensure_parallelism(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokenize_normalized(text_col)).alias("token"),
        )
    )
    freqs = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = freqs.agg(F.sum("c").alias("total"))
    scored = (
        toks.join(freqs, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c") / F.col("total"))), 4
            ).alias("avg_surprisal"),
        )
    )
    return scored


def lemmatize(
    df: DataFrame,
    lemma_map: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dictionary-driven lemmatization (reference N5: the AntBNC Lemmatizer
    annotator of ``Spark/Word_cloud_evaluation.ipynb`` cell 9) as a broadcast
    map-join: explode normalized tokens with position, left-join the lemma
    dictionary, keep the lemma when present.

    Returns (doc_id, pos, lemma) — one row per token, order recoverable from
    pos. The dictionary is broadcast (lemma dictionaries are ~100k entries —
    always the small side); the explode is map-side, so the whole operator
    adds zero wide shuffles.
    """
    from ..io import ensure_parallelism

    spark = df.sparkSession
    dict_df = spark.createDataFrame(
        list(lemma_map.items()), "token string, lemma string"
    )
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
    )
    exploded = toks.select(
        "doc_id", F.posexplode("tk").alias("pos", "token")
    )
    return exploded.join(F.broadcast(dict_df), "token", "left").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.coalesce("lemma", "token").alias("lemma"),
    )


def pos_tag(
    df: DataFrame,
    tag_map: dict[str, str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic dictionary POS tagger (reference N7's relational tail:
    ``Spark/Word_cloud_evaluation.ipynb`` cell 14 joins token-level POS tags
    and filters on tag sets with ``isin``; the pretrained model itself is
    descoped per SURVEY §2.8 — this reproduces the *relational* contract with
    a dictionary + suffix-rule fallback, the same way N5 lemmatization uses a
    dictionary in place of AntBNC).

    Tags: dictionary hit wins; else all-digits → NUM, -ly → ADV, -ing/-ed →
    VERB, else NOUN. Returns (doc_id, pos, token, tag), one row per token.
    Plan shape = lemmatize: map-side posexplode + broadcast dictionary join,
    zero wide shuffles.
    """
    from ..io import ensure_parallelism

    spark = df.sparkSession
    dict_df = spark.createDataFrame(
        list(tag_map.items()), "token string, dtag string"
    )
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
    )
    exploded = toks.select("doc_id", F.posexplode("tk").alias("pos", "token"))
    rule = (
        F.when(F.col("token").rlike("^[0-9]+$"), F.lit("NUM"))
        .when(F.col("token").endswith("ly"), F.lit("ADV"))
        .when(
            F.col("token").endswith("ing") | F.col("token").endswith("ed"),
            F.lit("VERB"),
        )
        .otherwise(F.lit("NOUN"))
    )
    return exploded.join(F.broadcast(dict_df), "token", "left").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "token",
        F.coalesce("dtag", rule).alias("tag"),
    )


def spell_correct(
    df: DataFrame,
    dictionary: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic dictionary spell correction (reference N6: the
    ContextSpellCheckerModel stage of ``Spark/Word_cloud_evaluation.ipynb``
    cell 9; the pretrained DL model is descoped per SURVEY §2.8 — this
    reproduces the token-in/corrected-token-out contract with a SymSpell-style
    symmetric-delete dictionary, public algorithm).

    Candidate generation is an EQUI-join on delete-keys, never a cross join:
    dictionary delete-neighborhood (distance <= 1) is precomputed driver-side
    (dictionaries are config-sized); token delete-keys are generated in-plan.
    Correction happens at VOCABULARY grain — distinct tokens, ~sqrt of corpus
    by Heaps' law — then maps back onto token positions via a broadcast join,
    so levenshtein runs once per distinct token, not once per occurrence.
    Best candidate = min (edit_distance, word) — deterministic tie-break; an
    exact dictionary hit has distance 0 and always wins. Unknown tokens pass
    through unchanged (identity fallback, like the reference pipeline's
    untouched tokens).

    Returns (doc_id, pos, token, corrected), one row per token.
    """
    from ..io import ensure_parallelism

    spark = df.sparkSession
    pairs = set()
    for w in dictionary:
        pairs.add((w, w))
        for i in range(len(w)):
            pairs.add((w[:i] + w[i + 1 :], w))
    dict_df = spark.createDataFrame(sorted(pairs), "dkey string, word string")

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
    )
    exploded = toks.select("doc_id", F.posexplode("tk").alias("pos", "token"))
    vocab = exploded.select("token").distinct()
    keys = vocab.select(
        "token",
        F.explode(
            F.array_union(
                F.expr(
                    "transform(sequence(1, length(token)), "
                    "i -> concat(substring(token, 1, i-1), substring(token, i+1)))"
                ),
                F.array(F.col("token")),
            )
        ).alias("dkey"),
    )
    cands = (
        keys.join(F.broadcast(dict_df), "dkey")
        .select("token", "word")
        .distinct()
        .withColumn("dist", F.levenshtein("token", "word"))
        .filter(F.col("dist") <= 1)
    )
    best = cands.groupBy("token").agg(
        F.min_by("word", F.struct("dist", "word")).alias("corrected")
    )
    return exploded.join(F.broadcast(best), "token", "left").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "token",
        F.coalesce("corrected", "token").alias("corrected"),
    )


def fingerprint(col: Column | str) -> Column:
    """64-bit-ish document fingerprint: md5-prefix int64 of the normalized
    token stream (whitespace-insensitive, case-insensitive, punct-insensitive).
    Two docs differing only in formatting collide — by design."""
    return md5_long(F.concat_ws(" ", tokenize_normalized(col)))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every k-char gram of the
    normalized text, keep the min hash in each SLIDING window of ``window``
    consecutive grams (the true MOSS scheme — round 1 shipped a tumbling-
    block approximation; this is the real sliding-window min, still pure
    higher-order functions). Documents shorter than one window yield one
    fingerprint (min of all grams), per the winnowing guarantee. Returns
    (doc_id, fp), one row per selected fingerprint, distinct.

    Scale shape: per-row array math (no explode before the dedup), one
    distinct shuffle on (doc_id, fp) — fingerprints per doc ≈ n/w expected
    density, so output rows ≈ grams/window, not grams."""
    from ..functions.hashing import char_shingles
    from ..functions.text import clean_text
    from ..io import ensure_parallelism

    # two-step projection: bind the cleaned text, then the hash array, to
    # columns — inlined, the regex clean chain / md5 transform re-evaluate
    # inside every per-position lambda (O(n^2) work per document).
    from pyspark.sql import Window

    # Formulation note (both hot-path traps measured at sf0.1):
    # - array shingling per position re-evaluates its loop-invariant inputs
    #   inside the HOF lambda after projection collapse (O(n²) regex/split/
    #   substring per doc, 50-60x slower);
    # - UTF-8 ``substring(c, i, k)`` is O(i) per call — quadratic again.
    # So: explode the char stream ONCE, build each gram from ``lead`` offsets
    # over a (doc_id, pos) window, hash per row, and take the winnow min over
    # the SAME window spec — Catalyst reuses one sort for both, the only wide
    # edges are the doc_id shuffle and the output distinct. At 100 TB the
    # char explosion is the textbook trade: n rows of 1 char, all narrow.
    cleaned = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), clean_text(text_col).alias("ct")
    )
    chars = cleaned.select(
        "doc_id",
        F.length("ct").alias("n"),
        F.posexplode(F.split("ct", "")).alias("pos", "ch"),
    ).filter(F.col("pos") < F.col("n"))  # split('') emits a trailing ""
    w_order = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat(
        F.col("ch"), *[F.lead("ch", i).over(w_order) for i in range(1, k)]
    )
    # concat(null) => null past the doc end; grams exist only for docs with
    # n >= k (docs shorter than one gram yield no fingerprints, matching the
    # array formulation's empty shingle set)
    grams = chars.select(
        "doc_id", "n", "pos", md5_long(gram).alias("h")
    ).filter(F.col("pos") <= F.col("n") - k)
    w_min = w_order.rowsBetween(0, window - 1)
    n_grams = F.col("n") - F.lit(k - 1)  # >= 1 on every surviving row
    full_window = F.col("pos") <= n_grams - window  # 0-based start pos
    short_doc = (n_grams < window) & (F.col("pos") == 0)
    return (
        grams.withColumn("fp", F.min("h").over(w_min))
        .filter(full_window | short_doc)
        .select("doc_id", "fp")
        .distinct()
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) over adjacent token pairs, with a
    ``min_count`` support floor so rare coincidences don't dominate.

    The corpus-level association analysis next to the word-cloud counts
    (q17/q18): unigram and bigram totals come from the same token stream
    (two aggs over one explode), the probability join is against a
    broadcast 1-row totals table, and the final cut is a
    TakeOrderedAndProject top-k. Deterministic: ties break on the pair."""
    from ..io import ensure_parallelism

    toks = persist(ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
    ))
    from ..functions.hashing import token_ngrams

    uni = persist(
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cw"))
    )
    bi = (
        toks.select(F.explode(token_ngrams(F.col("tk"), 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cab"))
        .filter(F.col("cab") >= min_count)
        .withColumn("a", F.split("pair", " ")[0])
        .withColumn("b", F.split("pair", " ")[1])
    )
    totals = uni.agg(
        F.sum("cw").alias("nw")
    ).crossJoin(
        bi.agg(F.sum("cab").alias("nb"))
    )
    ua = uni.select(F.col("w").alias("a"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("w").alias("b"), F.col("cw").alias("cb"))
    scored = (
        bi.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(totals))
        .select(
            "a",
            "b",
            F.col("cab").cast("long").alias("cab"),
            F.round(
                F.log(
                    (F.col("cab") / F.col("nb"))
                    / ((F.col("ca") / F.col("nw")) * (F.col("cb") / F.col("nw")))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "a", "b").limit(k)


def hll_sketch_rollup(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Per-group mergeable distinct-count sketches: (group, sketch: binary,
    exact-free estimate). The sketch column survives a parquet round-trip,
    so a daily job writes one sketch row per partition ONCE and any later
    range query answers approx-distinct by ``hll_union_agg`` over the
    sketch rows — no raw-data re-scan, the incremental-rollup pattern HLL
    exists for. Rows-only correctness (sketch bytes are engine-specific);
    accuracy and the persist-merge path are pinned in tests."""
    return df.groupBy(group_col).agg(
        F.hll_sketch_agg(value_col).alias("sketch"),
        F.hll_sketch_estimate(F.hll_sketch_agg(value_col)).cast("long").alias(
            "est_distinct"
        ),
    )


def hll_merge(sketches: DataFrame, sketch_col: str = "sketch") -> DataFrame:
    """Merge persisted per-partition sketches into one distinct estimate —
    a tiny agg over #partitions rows."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).cast("long").alias(
            "est_distinct"
        )
    )


def ngram_udtf_class(n: int = 2):
    """Python UDTF (Spark 3.5+/4.x) emitting (pos, ngram) rows per input
    text — the TABLE-function extension hook beside the scalar pandas_udf
    hooks (S10/N6/N7): plug imperative row→rows logic (a real tokenizer, a
    sentence splitter, a layout parser) in as a SQL-callable table function.

    NOT used by any registered query: row-at-a-time Python is the slow path
    by design (SURVEY §4/§2.10) — the native explode/transform form is the
    hot-path equivalent, and the test suite pins that both produce identical
    rows, so swapping a model-backed UDTF in changes plumbing, not plans."""

    class NgramUDTF:
        def eval(self, text: str):  # noqa: D102 — contract defined by Spark
            toks = [
                t
                for t in (
                    "".join(ch for ch in w.lower() if ch.isalnum())
                    for w in (text or "").split(" ")
                )
                if t
            ]
            for i in range(len(toks) - n + 1):
                yield i, " ".join(toks[i : i + n])

    return NgramUDTF


def geomean_grouped_agg_udf():
    """Grouped-AGGREGATE Pandas UDF (Arrow series → scalar) — the fourth
    and last cell of the §2.10 extension matrix (scalar pandas_udf hooks:
    S10/N6/N7; table function: ngram_udtf_class; grouped-map
    applyInPandas: Theil–Sen). Returns a geometric-mean aggregate usable
    in ``groupBy(...).agg(...)`` and over unbounded windows.

    NOT used by any registered query: the native column form
    ``exp(avg(ln(x)))`` is the hot path (whole-stage codegen, partial+final
    agg); the test suite pins both forms equal to 6 decimals, so swapping
    in a genuinely-not-expressible aggregate (a model scorer, an exotic
    sketch) changes plumbing, not plans. Grouped-agg UDFs ship the whole
    group to one worker as an Arrow batch — no partial aggregation — so
    at 100 TB they are for small-group grains only."""

    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v[v > 0]).mean()))

    return geomean


def remove_stopwords_by_lang(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Language-AWARE stopword removal: each document strips the stopword
    set of its OWN predicted language (lang-ID drives a per-row dictionary
    choice via a chained-when array expression — order-preserving
    array_except-free filter so duplicates survive). Multilingual corpora
    need this; a fixed English list silently under-cleans every other
    language. Row-local; 'und' rows pass through unfiltered.

    Plan note (r6 registry-sweep find): the per-token filter lambda must
    reference STAGED columns, not the raw expressions — embedding the
    stopset chained-when (which itself embeds lang_id over the full text)
    inside the element lambda re-evaluated language ID once PER TOKEN:
    32 s for 4k docs at sf0.01. Staging lang_pred, the tokens, and the
    per-row stopword array in projections first makes the per-element
    work one array_contains against a materialized column: same rows
    (oracle unchanged), ~50x faster."""
    from ..functions.text import tokenize_normalized

    # two staging projections: tokens first, then lang_pred DERIVED FROM
    # the staged tokens (lang_id re-tokenizing inline would double the
    # regex work per row — the toks= reuse hook lang_id_scores documents)
    staged = df.select(
        F.col(id_col),
        F.col(text_col),
        tokenize_normalized(text_col).alias("__toks"),
    ).select(
        F.col(id_col),
        lang_id(text_col, toks="__toks").alias("lang_pred"),
        "__toks",
    )
    stopset = F.array().cast("array<string>")  # 'und' strips nothing
    for lang, words in LANG_PROFILES.items():
        stopset = F.when(
            F.col("lang_pred") == lang, F.array(*[F.lit(w) for w in words])
        ).otherwise(stopset)
    staged = staged.select(
        F.col(id_col), "lang_pred", "__toks", stopset.alias("__stop")
    )
    kept = F.filter(
        F.col("__toks"), lambda t: ~F.array_contains(F.col("__stop"), t)
    )
    return staged.select(
        F.col(id_col), "lang_pred", kept.alias("content_tokens")
    )


def bigram_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-LM surprisal per document: avg(-ln p(w2|w1)) with add-one
    smoothing, p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V) — the order-1 step
    up from ``unigram_logprob`` toward the KenLM-style perplexity filter
    (repetitive boilerplate scores LOW because its transitions are corpus-
    frequent; shuffled/garbled text scores HIGH even when its unigrams are
    common — exactly the failure mode a unigram filter misses).

    Shape: positional explode, bigrams by self-join on (doc_id, pos+1) —
    co-partitioned, so the join shuffles the token stream once — then corpus
    bigram counts, context counts, and the vocab-size scalar broadcast back.
    Docs with < 2 tokens have no bigrams and are absent (frontier semantics,
    same as the unigram pass which drops empty docs).
    """
    from ..io import ensure_parallelism

    toks = persist(
        ensure_parallelism(df).select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tokenize_normalized(text_col)).alias("pos", "w"),
        )
    )
    nxt = toks.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2")
    )
    bigrams = persist(toks.join(nxt, ["doc_id", "pos"]).select(
        "doc_id", F.col("w").alias("w1"), "w2"
    ))
    big_c = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx_c = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = toks.select("w").distinct().agg(F.count("*").alias("v"))
    return (
        bigrams.join(big_c, ["w1", "w2"])
        .join(ctx_c, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(
                F.avg(
                    -F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")))
                ),
                4,
            ).alias("avg_surprisal"),
        )
    )


def bpe_merge_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Byte-pair-encoding vocabulary induction: learn the first ``rounds``
    BPE merges from the corpus's word-frequency table and return the merge
    table (round, pair, merged, freq) — the artifact a tokenizer trainer
    ships. Runs the exact textbook algorithm (count adjacent symbol pairs
    weighted by word frequency, merge the most frequent pair corpus-wide,
    repeat), distributed and deterministically.

    Exactness: ties on pair count break lexicographically; every count is an
    integer; and the merge-application step uses the marker-string trick —
    each word is the string ``_c1 _c2 ...`` (every symbol prefixed by ``_``,
    which never occurs inside a [a-z0-9]+ token), so plain string
    ``replace`` applies the merge with the exact leftmost-non-overlapping
    semantics BPE specifies ("_a _a _a" merges to "_aa _a", not "_aa _aa"),
    identically in Spark and any SQL engine — which makes the whole
    iterative algorithm unrollable to chained CTEs for the oracle.
    The replace is done on the space-TERMINATED form (``sym || ' '`` with
    pattern ``pair || ' '`` and replacement ``merged || ' '``): without the
    terminator, a pattern whose last symbol is a proper prefix of the
    actual next symbol matches across the boundary (``replace('_ab _ab',
    '_ab _a', ...)`` would fire and orphan the trailing ``b``). The leading
    ``_`` pins match starts to symbol boundaries; the trailing space pins
    match ends.

    Scale shape per round: pair-explode of the VOCABULARY table (Zipf:
    ~sqrt of corpus tokens, not the token stream), one partial+final agg,
    a 1-row argmax broadcast back — the corpus is touched once ever, in
    the initial word count. ``localCheckpoint`` per round keeps round k's
    plan from embedding rounds 1..k-1.
    """
    merges, _ = _bpe_learn(df, text_col, rounds)
    return merges.orderBy("round")


def _bpe_learn(df: DataFrame, text_col: str, rounds: int):
    """Shared BPE trainer: returns ``(merges, vocab)`` where ``merges`` is
    the (round, pair, merged, freq) table and ``vocab`` is the word-grain
    encoding table (word, sym, wc) AFTER all learned merges were applied —
    i.e. the tokenizer's word→symbols map. Applying at vocabulary grain is
    the 100 TB shape: the corpus token stream is never re-walked per round;
    encoding a corpus is then one join against this Zipf-sized table.

    Per-round cost (r11): the round's ONLY job is the 1-row argmax
    (``orderBy … limit 1``, a bounded top-k collect — same class as the
    serving collects). The winning pair rides back into the vocab update
    as string LITERALS, so ``words`` stays one LAZY chain of row-local
    ``replace`` projections over the single checkpointed vocab table —
    the pre-r11 form paid two extra eager ``localCheckpoint`` jobs plus a
    broadcast crossJoin per round (driver planning + materialization of a
    vocab copy per round) for values the literals produce identically.
    Each later round re-applies the earlier replaces over the cached
    vocab — scan-speed string work on a Zipf-sized (~sqrt corpus) table,
    strictly cheaper at 100 TB than materializing three vocab copies."""
    from pyspark.sql import types as T

    from ..io import ensure_parallelism

    # lazy cut: round 1's argmax job materializes the vocab blocks in the
    # same job instead of paying a separate fill job first (measured ~0.1 s
    # off the train path at sf0.1; rounds 2+ read the cached blocks either
    # way)
    words = lineage_cut(
        ensure_parallelism(df)
        .select(F.explode(tokenize_normalized(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .select(
            "word",
            F.concat(
                F.lit("_"),
                F.array_join(
                    F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
                    " _",
                ),
            ).alias("sym"),
            "wc",
        ),
        eager=False,
    )
    merge_rows: list[tuple] = []
    for r in range(1, rounds + 1):
        arr = F.split("sym", " ")
        pairs = (
            words.select(arr.alias("l"), "wc")
            # single-symbol words have no pairs; also guards Spark's
            # sequence(1, 0), which is DESCENDING ([1, 0]), not empty
            .filter(F.expr("size(l) >= 2"))
            .select(
                F.explode(F.expr("sequence(1, size(l) - 1)")).alias("i"),
                "l",
                "wc",
            )
            .select(
                F.concat(
                    F.element_at("l", F.col("i")),
                    F.lit(" "),
                    F.element_at("l", F.col("i") + 1),
                ).alias("pair"),
                "wc",
            )
            .groupBy("pair")
            .agg(F.sum("wc").alias("freq"))
        )
        best_rows = (
            pairs.orderBy(F.col("freq").desc(), F.col("pair"))
            .limit(1)
            .select(
                "pair",
                F.replace("pair", F.lit(" _"), F.lit("")).alias("merged"),
                F.col("freq").cast("long").alias("freq"),
            )
            .collect()
        )
        # out of pairs: stop — the replace below would be a no-op but the
        # textbook algorithm has no further merges to learn
        if not best_rows:
            break
        b = best_rows[0]
        merge_rows.append((r, b["pair"], b["merged"], b["freq"]))
        words = words.select(
            "word",
            F.rtrim(
                F.replace(
                    F.concat("sym", F.lit(" ")),
                    F.lit(b["pair"] + " "),
                    F.lit(b["merged"] + " "),
                )
            ).alias("sym"),
            "wc",
        )
    merges = df.sparkSession.createDataFrame(
        merge_rows,
        T.StructType(
            [
                T.StructField("round", T.LongType()),
                T.StructField("pair", T.StringType()),
                T.StructField("merged", T.StringType()),
                T.StructField("freq", T.LongType()),
            ]
        ),
    )
    return merges, words


def bpe_encode_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rounds: int = 3,
) -> DataFrame:
    """Apply the learned BPE merges back to the corpus — the tokenizer's
    ENCODE half beside ``bpe_merge_table``'s train half. Per document:
    whitespace-word count and the BPE symbol count after ``rounds`` merges
    (chars-per-word minus one per merge fired inside each word's tokens).

    Scale shape: merges are applied once at VOCABULARY grain (inside
    ``_bpe_learn`` — the word table, Zipf ~sqrt of token mass), then the
    corpus token stream joins that word→n_symbols map; AQE broadcasts the
    vocab side when it fits, so encoding 100 TB is one map-side join plus
    the per-doc agg — the token stream is never re-walked per merge round.
    """
    from ..io import ensure_parallelism

    _, vocab = _bpe_learn(df, text_col, rounds)
    vocab_n = vocab.select(
        "word", F.size(F.split("sym", " ")).alias("n_sym")
    )
    # spread the RAW docs before the tokenize projection (the train half
    # in _bpe_learn already does) — on a single-row-group input this
    # second corpus pass otherwise tokenizes in the scan's one task
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_normalized(text_col)).alias("word"),
    )
    return (
        toks.join(vocab_n, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def readability(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease per document, from three integer counts so the
    score is engine-exact: words (normalized tokens), sentences (runs of
    [.!?], floored at 1), syllables (vowel groups ``[aeiouy]+`` — the
    standard heuristic). Score in floored MILLI-units via pure integer
    arithmetic: 206835 - (1015*w) div s - (84600*sy) div w; every division
    operand is positive, so Spark's truncating ``div`` == DuckDB's
    flooring ``//``. Row-local (no shuffle); docs with zero words are
    dropped (frontier semantics, same as the token passes). The
    readability band completes the quality family
    (length/punct/stopword/repetition/entropy)."""
    c = F.col(text_col)
    w = F.size(tokenize_normalized(text_col))
    # regexp_count, not size(regexp_extract_all(...)): same value, but no
    # per-row match-array materialization on the hot scan path
    s = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    sy = F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+"))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            w.cast("long").alias("n_words"),
            s.cast("long").alias("n_sentences"),
            sy.cast("long").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            (
                F.lit(206835)
                - F.expr("1015 * n_words div n_sentences")
                - F.expr("84600 * n_syllables div n_words")
            ).cast("long").alias("flesch_milli"),
        )
        .orderBy("doc_id")
    )


# UTF-8-decoded-as-Latin-1 damage: 'Ã'/'Â' + a Latin-1 tail byte (é → Ã©),
# or the 'â€' lead pair of smart-quote/dash mojibake (’ → â€™). Java regex
# spelling; the DuckDB oracle states the RE2 \\x{..} spelling of the same set.
MOJIBAKE_RE = "Ã[\u0080-\u00ff]|Â[\u0080-\u00ff]|â€"
# C0 control characters except NUL/tab/newline/CR (NUL is excluded so the
# same pattern is statable as a SQL string literal).
CTRL_RE = "[\u0001-\u0008\u000b\u000c\u000e-\u001f]"


def encoding_audit(
    df: DataFrame, text_col: str = "text", by: str = "source"
) -> DataFrame:
    """Encoding-damage audit per corpus slice: replacement characters
    (U+FFFD — a decoder already gave up), UTF-8-as-Latin-1 mojibake
    sequences, and stray C0 control characters. One scan, one tiny
    group-by — the ingest-health panel beside the quality/dq audits.
    Clean synthetic fixtures report zeros; detection is proven on planted
    damage in tests (same pattern as the split-leakage audit)."""
    c = F.col(text_col)
    n_repl = F.regexp_count(c, F.lit("�"))
    n_moji = F.regexp_count(c, F.lit(MOJIBAKE_RE))
    n_ctrl = F.regexp_count(c, F.lit(CTRL_RE))
    damaged = (n_repl + n_moji + n_ctrl) > 0
    return (
        df.groupBy(F.col(by).alias(by))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(damaged.cast("long")).cast("long").alias("n_damaged"),
            F.sum(n_repl).cast("long").alias("n_repl_chars"),
            F.sum(n_moji).cast("long").alias("n_mojibake"),
            F.sum(n_ctrl).cast("long").alias("n_ctrl_chars"),
        )
        .orderBy(by)
    )
