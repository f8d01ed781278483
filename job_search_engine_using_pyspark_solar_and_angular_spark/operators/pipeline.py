"""Training-data pipeline operators: decontamination, PII redaction,
repetition-quality signals, deterministic corpus shuffling, and sequence
packing.

These extend the LLM-pipeline charter beyond dedup/similarity (operators/
dedup.py, operators/similarity.py): the steps a corpus goes through between
"deduplicated documents" and "token stream on a trainer". None exist in the
reference (its corpus is served, not trained on); all follow the engine's
oracle-exact discipline — md5-prefix hashes (functions/hashing.py) and
integer/window math reproducible in ANSI SQL.

Scale notes (see SCALE.md for the full argument):
- decontaminate: the benchmark side is distilled to DISTINCT shingle hashes
  before the join — a benchmark suite is MBs, so it broadcasts; the corpus
  side streams through map-side. Both aggs are keyed on doc_id.
- repetition_stats: ZERO shuffles — every signal is a row-local fold over
  the staged token array (longest-equal-run of the sorted (bi)gram arrays
  == most-frequent-gram count; plan test pins no Exchange/Generate/
  Aggregate/Join). The original union-of-gram-streams formulation pushed
  every unigram AND bigram of the corpus through two exchanges for the
  same values.
- corpus_shuffle / pack_sequences: partitioned by the hash-derived shard, so
  the window sort is per-shard (shards ~ O(cluster parallelism)), never a
  global single-task order. Position/packing math is integer-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist
from ..functions.hashing import md5_long, token_ngrams
from ..functions.text import tokenize_normalized

# PII patterns chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backrefs. \b and \d are common to both.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int,
    toks: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h): distinct md5-prefix hashes of token n-gram shingles.

    Two-step projection (bind the token array before the n-gram transform) —
    inlined, the tokenizer tree is re-evaluated per shingle (see
    dedup.minhash_signatures for the measurement).

    ``toks``: optional precomputed (doc_id, tk) token relation — pass a
    persisted one when the caller ALSO needs the token arrays for other
    stages (quality/lang/repetition profiles), so the corpus is tokenized
    once instead of once per consumer. ``df``/``text_col`` are ignored
    when given."""
    from ..io import ensure_parallelism

    if toks is None:
        toks = ensure_parallelism(df).select(
            F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
        )
    return (
        toks.select(
            "doc_id", F.explode(token_ngrams(F.col("tk"), n)).alias("sh")
        )
        .select("doc_id", md5_long(F.col("sh")).alias("h"))
        .distinct()
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    broadcast_limit_rows: int = 10_000_000,
    doc_shingles: DataFrame | None = None,
    bench_shingles: DataFrame | None = None,
    assume_small_benchmark: bool = False,
) -> DataFrame:
    """Benchmark decontamination report: for every corpus document sharing at
    least one token ``shingle_n``-gram with the benchmark set, return
    (doc_id, n_hit, n_grams, contamination) where contamination =
    n_hit / n_grams over the document's DISTINCT shingles.

    The benchmark side is reduced to a distinct shingle-hash set and
    broadcast — eval suites are small relative to a training corpus, so the
    100 TB corpus never shuffles for the membership test; the only wide edge
    is the per-document rollup keyed on doc_id. Filtering (rather than
    reporting) is `.join(..., "left_anti")` on the same hit set.

    Guardrail: a benchmark above ``broadcast_limit_rows`` distinct shingles
    (an int64 each — the default caps the build side near 100 MB) would OOM
    the broadcast, so the hint is dropped and the membership test becomes a
    plain hash-key shuffle join. The one count() spent deciding is a tiny
    agg over the (small by contract) benchmark side, never the corpus.
    """
    doc_sh = (
        doc_shingles
        if doc_shingles is not None
        else _shingle_hashes(df, id_col, text_col, shingle_n)
    )
    bench_sh = (
        bench_shingles
        if bench_shingles is not None
        else _shingle_hashes(benchmark, id_col, text_col, shingle_n)
    ).select("h").distinct()
    if assume_small_benchmark:
        # caller vouches the benchmark side is broadcast-sized (r11): skip
        # the guardrail count() action (and the persist it materialized —
        # the broadcast build reads the relation exactly once anyway)
        bench_sh = F.broadcast(bench_sh)
    else:
        bench_sh = persist(bench_sh)  # the guardrail count() materializes
        # the cache the join reuses
        if bench_sh.count() <= broadcast_limit_rows:
            bench_sh = F.broadcast(bench_sh)
    per_doc = doc_sh.join(
        bench_sh.withColumn("__hit", F.lit(1)), "h", "left"
    ).groupBy("doc_id").agg(
        F.sum("__hit").alias("n_hit"),
        F.count("*").alias("n_grams"),
    )
    return per_doc.filter(F.col("n_hit").isNotNull()).select(
        "doc_id",
        F.col("n_hit").cast("long").alias("n_hit"),
        "n_grams",
        F.round(F.col("n_hit") / F.col("n_grams"), 4).alias("contamination"),
    )


def redact_pii(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / NANP-style phone numbers / IPv4 addresses and count
    each: (doc_id, redacted, n_emails, n_phones, n_ips).

    Row-local regexp_replace/regexp_count chain — no shuffle, fully
    codegen'd, pushdown-transparent. Counts are taken on the ORIGINAL text
    (order-independent); replacements run email -> phone -> ip (the
    placeholder tokens contain no digits, so later patterns cannot match
    inside an earlier redaction)."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        redacted.alias("redacted"),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
    )


def _max_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent values in a SORTED array<string> — i.e.
    the count of the array's most frequent element — one row-local O(n)
    fold. Empty array -> 0. Elements must be non-empty strings (the fold's
    initial ``prev`` sentinel is "")."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + F.lit(1)).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


# SQL-text twin of the repetition_signals Column tree, instantiated with
# ONE F.expr call. The Column API builds this ~200-node tree through a
# py4j round trip per node (~170 ms of DRIVER time per construction, paid
# on every invocation of every query embedding the fold — it sits inside
# the bench's timed trials); the SQL parser builds it JVM-side in one
# call (~0.3 ms). Semantics are the Column path's, expression for
# expression; test_properties pins the two paths value-equal on real
# documents, and the ext_repetition/curation oracles pin the SQL path.
_MAX_RUN_SQL = (
    "aggregate({arr}, "
    "struct('' AS prev, CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS best), "
    "(acc, x) -> struct("
    "x AS prev, "
    "CASE WHEN x = acc.prev THEN acc.run + CAST(1 AS BIGINT) "
    "ELSE CAST(1 AS BIGINT) END AS run, "
    "greatest(acc.best, CASE WHEN x = acc.prev THEN acc.run + CAST(1 AS BIGINT) "
    "ELSE CAST(1 AS BIGINT) END) AS best), "
    "acc -> acc.best)"
)
_BIGRAMS_SQL = (
    "CASE WHEN size({tk}) - 1 <= 0 THEN array() "
    "ELSE transform(sequence(1, greatest(size({tk}) - 1, 0)), "
    "i -> concat_ws(' ', slice({tk}, i, 2))) END"
)
_REP_SIGNALS_SQL = (
    "struct("
    "CAST(size({tk}) AS BIGINT) AS n_tokens, "
    "CAST(size(array_distinct({tk})) AS BIGINT) AS n_distinct, "
    "CASE WHEN CAST(size({tk}) AS BIGINT) > 0 THEN "
    "round({top_cnt} / CAST(size({tk}) AS BIGINT), 4) END AS top_token_frac, "
    "CASE WHEN CAST(greatest(CAST(size({tk}) AS BIGINT) - 1, CAST(0 AS BIGINT)) AS BIGINT) > 0 THEN "
    "round({top_bg_cnt} / CAST(greatest(CAST(size({tk}) AS BIGINT) - 1, CAST(0 AS BIGINT)) AS BIGINT), 4) "
    "ELSE CAST(0.0 AS DOUBLE) END AS top_bigram_frac)"
)


def repetition_signals(tk: Column | str) -> Column:
    """Row-local Gopher repetition signals over a normalized-token array:
    struct(n_tokens, n_distinct, top_token_frac, top_bigram_frac). The
    top-unigram / top-bigram counts are longest-equal-runs of the SORTED
    (bi)gram arrays — identical, value for value, to an
    explode -> groupBy(gram).count -> max(count) formulation, with ZERO
    shuffles: at 100 TB this replaces a token-grain exchange (every unigram
    AND bigram of the corpus through two shuffles) with a scan-speed
    projection. A zero-token array yields top_token_frac NULL (no signal),
    matching the grouped formulation which produced no row at all.

    ``tk`` may be a column NAME string: the expression tree is then built
    JVM-side with one F.expr parse instead of ~200 py4j calls (see
    _REP_SIGNALS_SQL). Column arguments always take the Column-API path —
    same tree, slower construction. (The r10 version sniffed bare-name
    Columns via ``_jc.toString()``; a dataset-bound ``df['__tk']`` in a
    both-sides-carry-the-name join then lost its expr-id binding and
    failed analysis as ambiguous — ADVICE r10. Callers on the hot path
    pass the name.)"""
    name = tk if isinstance(tk, str) else None
    if name is not None:
        col = f"`{name.replace(chr(96), chr(96) * 2)}`"
        return F.expr(
            _REP_SIGNALS_SQL.format(
                tk=col,
                top_cnt=_MAX_RUN_SQL.format(arr=f"array_sort({col})"),
                top_bg_cnt=_MAX_RUN_SQL.format(
                    arr=f"array_sort({_BIGRAMS_SQL.format(tk=col)})"
                ),
            )
        )
    n_tokens = F.size(tk).cast("long")
    n_bigrams = F.greatest(n_tokens - 1, F.lit(0)).cast("long")
    top_cnt = _max_run(F.array_sort(tk))
    top_bg_cnt = _max_run(F.array_sort(token_ngrams(tk, 2)))
    return F.struct(
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(tk)).cast("long").alias("n_distinct"),
        F.when(n_tokens > 0, F.round(top_cnt / n_tokens, 4)).alias(
            "top_token_frac"
        ),
        F.when(n_bigrams > 0, F.round(top_bg_cnt / n_bigrams, 4))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


# Gopher-style repetition keep/drop thresholds — module-level so every
# call site (repetition_stats' defaults AND the fused curation-funnel
# projection in queries/extensions.py) reads ONE definition; a default
# change can no longer silently diverge the fused verdict from the
# standalone stats (and the DuckDB oracles embed the same literals via
# these names at module import).
TOP_TOKEN_MAX = 0.20
TOP_BIGRAM_MAX = 0.18


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_token_max: float = TOP_TOKEN_MAX,
    top_bigram_max: float = TOP_BIGRAM_MAX,
) -> DataFrame:
    """Gopher-style repetition signals per document: token count, distinct
    count, the fraction of tokens taken by the most frequent token and by the
    most frequent bigram, and a keep/drop ``repetitive`` flag.

    Plan: ZERO shuffles — every signal is a row-local fold over the
    normalized-token array (:func:`repetition_signals`; the previous
    formulation exploded unigram+bigram streams through two corpus-wide
    exchanges for the same values — the unchanged DuckDB oracle pins the
    equivalence). Documents with zero tokens produce no row (they have no
    repetition signal; quality_score already flags empties). A caller that
    already staged a normalized-token column composes
    :func:`repetition_signals` directly, as the curation funnel does."""
    from ..io import ensure_parallelism

    # stage the token ARRAY as a real column first: repetition_signals
    # references its input several times, and a multiply-referenced
    # tokenize/HOF EXPRESSION would re-evaluate per reference (Catalyst
    # only keeps multiply-referenced non-cheap ALIASES staged)
    tk = tokenize_normalized(text_col)
    sig = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("doc_id"), tk.alias("__tk"))
        .select("doc_id", repetition_signals("__tk").alias("s"))
        .filter(F.col("s")["n_tokens"] > 0)
    )
    top_token_frac = F.col("s")["top_token_frac"]
    top_bigram_frac = F.col("s")["top_bigram_frac"]
    return sig.select(
        "doc_id",
        F.col("s")["n_tokens"].alias("n_tokens"),
        F.col("s")["n_distinct"].alias("n_distinct"),
        top_token_frac.alias("top_token_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        (
            (top_token_frac > top_token_max) | (top_bigram_frac > top_bigram_max)
        ).alias("repetitive"),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Inter-document line-level dedup (the CCNet/RefinedWeb boilerplate
    step): drop every line that occurs in more than ``max_doc_freq``
    documents (nav menus, copyright footers, cookie banners), keep the rest
    in original order. Returns (doc_id, cleaned, n_lines, n_dropped).
    Boundary convention (shared with the SQL oracle and pinned by the
    triangulation test): lines come from ``split(text, sep)``, so an
    EMPTY text counts as one empty line — split cannot distinguish ""
    from a single blank line.

    Plan: posexplode lines -> line doc-frequency on md5(line) (16-byte
    shuffle keys, never line bodies) -> broadcast-join the SMALL dropped-line
    set back -> ordered reassembly via array_sort(collect_list(struct(pos,
    line))) — deterministic, no window. The frequent-line set is tiny by
    construction (only lines shared by > max_doc_freq docs), so at 100 TB
    the corpus-sized edges are one explode shuffle and one doc_id rollup;
    the df computation never materializes per-line rows to the driver."""
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("h", F.md5(F.col("line")))
    freq = (
        lines.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("h")
    )
    marked = lines.join(
        F.broadcast(freq).withColumn("__drop", F.lit(1)), "h", "left"
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__drop").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
            ).alias("cleaned"),
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.coalesce(F.col("__drop"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping fixed-token chunks (RAG/embedding
    prep): (doc_id, chunk_id, chunk_text, n_chunk_tokens). Chunk k starts at
    token k*(chunk_tokens-overlap); the last chunk may be short. Documents
    with zero tokens produce no chunks.

    Entirely row-local higher-order functions (sequence -> slice ->
    posexplode) — no shuffle at all; the 1->k fan-out happens inside the
    scan stage, so at 100 TB chunking is free to pipeline into the
    embedding/indexing step that follows it."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
    ).filter(F.size("tk") > 0)
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("tk") - F.lit(overlap), F.lit(1)), F.lit(step)
    )
    chunks = F.transform(starts, lambda s: F.slice(F.col("tk"), s, chunk_tokens))
    return (
        toks.select("doc_id", F.posexplode(chunks).alias("chunk_id", "ck"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.col("ck")).alias("chunk_text"),
            F.size("ck").cast("long").alias("n_chunk_tokens"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """CDC between two keyed snapshots: one row per differing key with
    ``change`` in {'added', 'removed', 'changed'} — the incremental-refresh
    primitive (re-embed / re-index only what moved, instead of the full
    corpus).

    Rows are compared via an md5 fingerprint of the compared columns (with a
    null sentinel so (x, NULL) never collides with (NULL, x)), so the full
    outer join carries a fixed-width digest per side instead of every column
    — at 100 TB the shuffle moves keys + 32-byte hashes, not documents. One
    shuffle per side keyed on the join keys; on snapshots written with
    ``catalog.write_bucketed`` on the same keys the join is shuffle-free.
    Unchanged keys drop out in the post-join filter.
    """
    compare = compare_cols or [c for c in new.columns if c not in key_cols]
    sentinel = "\x00null"
    fingerprint = F.md5(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit(sentinel)) for c in compare],
        )
    )
    o = old.select(*key_cols, fingerprint.alias("__fp_old"))
    n = new.select(*key_cols, fingerprint.alias("__fp_new"))
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") != F.col("__fp_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )


def _shard_hash(id_col: str, salt: str) -> Column:
    return md5_long(F.concat(F.col(id_col).cast("string"), F.lit(salt)))


def corpus_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    shards: int = 16,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle for training: (doc_id, shard, pos).

    The md5-prefix hash of (id, salt) is effectively a random permutation,
    but stable across runs, partition layouts, and engines — re-running the
    job yields byte-identical epoch order (``df.sample``/``orderBy(rand())``
    do not). Each shard is sorted independently (row_number partitioned by
    shard), so the sort is shard-parallel: at 100 TB pick shards ~ O(10^3-4)
    so one shard fits an executor's spill budget; there is NO global
    single-task order anywhere. A different ``salt`` is a fresh epoch."""
    h = _shard_hash(id_col, salt)
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(F.col(id_col), h.alias("h"))
        .withColumn("shard", (F.col("h") % F.lit(shards)).cast("long"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def ring_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 2,
    shards: int = 4,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each anchor
    gets ``k`` negatives at fixed ring offsets within its shard of the
    deterministic epoch shuffle — (anchor, neg_rank, negative).

    Because the shuffle order is an md5 permutation, ring neighbors are an
    unbiased pseudo-random draw, yet fully reproducible (rerun, any layout,
    any engine) and collision-free by construction: offset i*floor(n/(k+1))
    never wraps onto the anchor while n > k. No cross join anywhere — one
    shuffle for positions, a tiny per-shard size broadcast, and a self-join
    on (shard, position): the same cost profile at 100 TB as one extra
    epoch-shuffle pass. A new salt draws a fresh negative set."""
    pos = corpus_shuffle(df, id_col, shards, salt)
    sizes = pos.groupBy("shard").agg(F.max("pos").alias("__n"))
    stride = F.greatest(F.expr(f"__n div {k + 1}"), F.lit(1))
    cand = (
        pos.join(F.broadcast(sizes), "shard")
        .select(
            F.col(id_col).alias("anchor"),
            "shard",
            "pos",
            F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_rank"),
            "__n",
        )
        .withColumn(
            "neg_pos",
            (F.col("pos") - 1 + F.col("neg_rank") * stride) % F.col("__n") + 1,
        )
        .filter(F.col("neg_pos") != F.col("pos"))
    )
    other = pos.select(
        "shard", F.col("pos").alias("neg_pos"), F.col(id_col).alias("negative")
    )
    return cand.join(other, ["shard", "neg_pos"]).select(
        "anchor", F.col("neg_rank").cast("long").alias("neg_rank"), "negative"
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shards: int = 16,
    salt: str = "pack",
    cost_col: str | None = None,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: lay documents end-to-end in
    deterministic shuffled order (per shard) and cut the token stream every
    ``budget`` tokens. Returns (doc_id, shard, seq_id, tok_start, n_tokens,
    n_seqs): the document starts in context window ``seq_id`` at offset
    ``tok_start`` and spans ``n_seqs`` windows.

    This is the standard LLM packing semantics (no padding, documents may
    straddle window boundaries). All math is integer/window arithmetic over a
    per-shard running sum — one shuffle on shard, exact in any engine.
    Zero-token documents are excluded (nothing to pack).

    ``cost_col`` generalizes the per-document token cost beyond the text
    tokenizer — a multimodal trainer packs by text tokens PLUS per-image/
    per-audio patch budgets (the VLM interleaved-packing shape); pass the
    precomputed integer cost column and the window math is unchanged."""
    h = _shard_hash(id_col, salt)
    n_tok = (
        F.col(cost_col).cast("long")
        if cost_col is not None
        else F.size(tokenize_normalized(text_col))
    )
    base = (
        df.select(F.col(id_col), h.alias("h"), n_tok.alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        .withColumn("shard", (F.col("h") % F.lit(shards)).cast("long"))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    out = base.withColumn("cum", cum).withColumn("start", F.col("cum") - F.col("n_tokens"))
    seq_id = F.floor(F.col("start") / F.lit(budget)).cast("long")
    last_seq = F.floor((F.col("cum") - 1) / F.lit(budget)).cast("long")
    return out.select(
        id_col,
        "shard",
        seq_id.alias("seq_id"),
        (F.col("start") % F.lit(budget)).cast("long").alias("tok_start"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (last_seq - seq_id + F.lit(1)).cast("long").alias("n_seqs"),
    )


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Packing-efficiency audit over :func:`pack_sequences` output — the
    number a trainer checks before paying for a run: per shard, how many
    context windows the layout produces and what fraction of their
    capacity is real tokens. Concatenate-and-chunk wastes ONLY the tail of
    each shard's final window (documents straddle boundaries mid-stream),
    so waste == n_windows*budget - n_tokens and efficiency approaches
    10000 bps as shards grow — exactly what this audit certifies, per
    shard, in int64 floor-division arithmetic (hash-exact cross-engine).

    Scale shape: one #shards-row agg over the (already tiny relative to
    the corpus) packing table; no second corpus scan."""
    return (
        packed.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "shard",
            "n_docs",
            "n_tokens",
            F.expr(f"div(n_tokens + {int(budget) - 1}, {int(budget)})").alias(
                "n_windows"
            ),
        )
        .select(
            "*",
            (F.col("n_windows") * budget - F.col("n_tokens")).alias("waste_tokens"),
            F.expr(f"div(10000 * n_tokens, n_windows * {int(budget)})").alias(
                "efficiency_bps"
            ),
        )
    )


def partial_agg_states(
    df: DataFrame,
    ts_col: str = "ts",
    key: str = "event_type",
    value: str = "value",
    grain: str = "day",
) -> DataFrame:
    """Mergeable ALGEBRAIC aggregate states at a fine time grain — the exact
    analog of the HLL sketch rollup (textstats.hll_sketch_rollup) for plain
    stats: persist per-(grain, key) states once, answer any coarser range by
    MERGING states instead of re-scanning raw rows.

    State = (n, sum, min, max, sum_sq); all of count/sum/min/max/avg/stddev
    over any union of grains reconstruct exactly from these — the classic
    partial-aggregation identity Spark itself uses map-side, lifted to the
    storage layer. At 100 TB this is the difference between a dashboard
    query scanning 4 KB of states and re-scanning a month of raw events."""
    return df.groupBy(
        F.date_trunc(grain, F.col(ts_col)).alias("bucket"),
        F.col(key),
    ).agg(
        F.count("*").alias("n"),
        F.sum(value).alias("sum_v"),
        F.min(value).alias("min_v"),
        F.max(value).alias("max_v"),
        F.sum(F.col(value) * F.col(value)).alias("sum_sq"),
    )


def merge_agg_states(
    states: DataFrame,
    grain: str = "month",
) -> DataFrame:
    """Merge fine-grain states (from :func:`partial_agg_states`) up to a
    coarser grain without touching raw data: counts and sums add, min/max
    take min/max, and avg derives from the merged sums — associativity is
    the whole contract. Input order never matters, so states written by
    different days/jobs/regions merge identically."""
    return (
        states.groupBy(
            F.date_trunc(grain, F.col("bucket")).alias("bucket"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            F.sum("sum_sq").alias("sum_sq"),
        )
        .select(
            "bucket",
            "event_type",
            "n",
            F.round("sum_v", 2).alias("sum_v"),
            F.round("min_v", 2).alias("min_v"),
            F.round("max_v", 2).alias("max_v"),
            F.round((F.col("sum_v") / F.col("n")), 4).alias("avg_v"),
        )
    )


def apply_cdc(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Apply a CDC delta to a snapshot: reconstruct ``new`` from ``old`` plus
    only the rows :func:`snapshot_diff` flagged — the write side of
    incremental refresh (the diff tells you WHAT moved; this is the merge
    that moves it).

    added/changed keys take their payload from ``new`` (a semi join against
    the delta — only delta-sized data flows); removed and changed keys drop
    out of ``old`` (one anti join); the union is exactly ``new`` — an
    identity pinned in tests and by the oracle. All joins are keyed on the
    snapshot keys, so on bucketed snapshots the whole apply is
    shuffle-free, and the delta side is typically tiny → broadcast."""
    delta = snapshot_diff(old, new, key_cols)
    touched = delta.select(*key_cols)
    upserts = new.join(touched, key_cols, "left_semi")
    kept = old.join(touched, key_cols, "left_anti")
    return kept.unionByName(upserts)


def robust_trend(
    df: DataFrame,
    key: str = "event_type",
    ts_col: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise slopes
    (Δcents/Δseconds) — outlier-resistant where OLS is not (up to ~29%
    contamination), the estimator a metrics pipeline wants on noisy
    telemetry.

    This is the engine's grouped-map ``applyInPandas`` exemplar: the O(n²)
    pairwise enumeration is genuinely imperative (no relational form avoids
    materializing the pair set), so each group's rows arrive as ONE Arrow
    batch and numpy does the dense work. Deterministic: inputs quantized to
    integer cents/seconds, the slope MULTISET is order-free, and np.median
    sorts before interpolating — reruns and repartitions agree exactly
    (and a DuckDB pairwise-join oracle reproduces it).

    Scale bound: O(n²) per group — cap group size upstream (sample or
    time-bound) the way any Theil-Sen deployment does; the pair set never
    crosses the shuffle, only (key, slope) leaves the worker."""
    import pandas as pd  # noqa: F401 (documented dependency of the UDF)

    out_schema = f"{key} string, n_points long, slope_cents_per_s double"

    def fn(pdf):
        import numpy as np
        import pandas as pd

        t = (pdf[ts_col].astype("int64") // 1_000_000_000).to_numpy()
        v = (pdf[value] * 100).round().astype("int64").to_numpy()
        dt = t[None, :] - t[:, None]
        dv = v[None, :] - v[:, None]
        iu = np.triu_indices(len(t), k=1)
        dt_u, dv_u = dt[iu], dv[iu]
        ok = dt_u != 0
        slopes = dv_u[ok] / dt_u[ok].astype("float64")
        med = float(np.median(slopes)) if slopes.size else 0.0
        return pd.DataFrame(
            {
                key: [pdf[key].iloc[0]],
                "n_points": [len(t)],
                "slope_cents_per_s": [round(med, 6)],
            }
        )

    return df.select(key, ts_col, value).groupBy(key).applyInPandas(fn, out_schema)


def incremental_agg_refresh(
    old_states: DataFrame,
    old_events: DataFrame,
    new_events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    grain: str = "day",
) -> DataFrame:
    """Incremental VIEW maintenance for the aggregate-state table: given a
    new snapshot of the fact table, rebuild ONLY the time buckets the CDC
    delta touched and keep every other persisted state row as-is — the
    refresh cost scales with the delta, not the table.

    touched buckets = grain(ts) of every added/removed/changed row, taken
    from BOTH snapshots (a removed row invalidates its old bucket, an added
    row its new one). Result is provably identical to rebuilding all states
    from the new snapshot (associativity again — pinned in tests and by the
    oracle). At 100 TB: the delta join is keyed on the snapshot keys
    (shuffle-free on bucketed snapshots), the bucket rebuild scans only the
    touched partitions of a date-partitioned fact table (partition
    pruning), and untouched states are read straight from the state store."""
    delta = snapshot_diff(old_events, new_events, key_cols)
    keys = delta.select(*key_cols)
    bucket = F.date_trunc(grain, F.col(ts_col)).alias("bucket")
    touched = (
        old_events.join(keys, key_cols, "left_semi").select(bucket)
        .unionByName(new_events.join(keys, key_cols, "left_semi").select(bucket))
        .distinct()
    )
    rebuilt = partial_agg_states(
        new_events.join(F.broadcast(touched), F.date_trunc(grain, F.col(ts_col)) == touched.bucket, "left_semi"),
        ts_col=ts_col,
        grain=grain,
    )
    kept = old_states.join(
        F.broadcast(touched), old_states.bucket == touched.bucket, "left_anti"
    )
    return kept.unionByName(rebuilt)


def pseudonymize(
    df: DataFrame, cols: list[str], salt: str = "pseud"
) -> DataFrame:
    """Deterministic keyed pseudonymization: replace each listed identifier
    column with a salted md5-prefix int64 token. The governance op beside
    text-level ``redact_pii``: same raw id → same token EVERYWHERE (across
    tables, runs, and layouts), so joins and grouping survive
    pseudonymization — referential integrity is the whole point; rotating
    ``salt`` severs linkability to earlier releases. Row-local, no
    shuffle, scan-speed; exactly reproducible in SQL via the shared md5
    scheme."""
    from ..functions.hashing import md5_long

    out = df
    for c in cols:
        out = out.withColumn(
            c, md5_long(F.concat(F.col(c).cast("string"), F.lit(salt)))
        )
    return out

def shard_assign(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic shard assignment for the trainer handoff: shard =
    md5(id + salt) mod n_shards. Stable under reruns, repartitions, and
    corpus appends (an existing doc never moves shards when new docs
    arrive), which is what makes incremental re-export and resumable
    training-data delivery possible. Row-local, no shuffle."""
    h = md5_long(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return df.withColumn("shard", (h % F.lit(n_shards)).cast("int"))


def shard_manifest(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "shard",
) -> DataFrame:
    """The export manifest a training run checks its inputs against:
    per-shard (shard, n_docs, n_tokens, min_id, max_id, content_digest).

    ``content_digest`` is an ORDER-INDEPENDENT exact digest — the sum of
    per-row md5-prefix hashes of (id ':' text) as decimal(38,0) — so any
    dropped, duplicated, or altered row changes the digest regardless of
    file order, and the receiving side can recompute it from the delivered
    parquet without coordination. Every column is integer/hash arithmetic:
    the whole manifest is SQL-oracle-checkable.

    Scale shape: one scan, row-local hashing, one (shard) agg — n_shards
    result rows. Pairs with :func:`write_shards` (writes the data) and
    verifies with ``shard_manifest(read_back)`` equality."""
    sharded = shard_assign(df, n_shards, id_col, salt)
    row_digest = md5_long(
        F.concat(F.col(id_col).cast("string"), F.lit(":"), F.col(text_col))
    )
    # single-space split (not \s+): byte-identical semantics in Spark and
    # DuckDB string_split, matching the corpus tokenization convention
    n_toks = F.size(F.split(F.col(text_col), " "))
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_toks.cast("long")).alias("n_tokens"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
            F.sum(row_digest.cast("decimal(38,0)")).alias("content_digest"),
        )
        .orderBy("shard")
    )


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shard",
) -> None:
    """Materialize the sharded export: hash-partitioned parquet under
    ``path/shard=<k>/``. ``repartition('shard')`` first, so each shard
    directory is written by the tasks owning that shard (no
    files-per-task x shards explosion — the partitionBy write pitfall).
    Verify delivery with ``shard_manifest`` equality on the read-back."""
    shard_assign(df, n_shards, id_col, salt).repartition(
        n_shards, F.col("shard")
    ).write.mode("overwrite").partitionBy("shard").parquet(path)

