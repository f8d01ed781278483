"""Dedup / upsert operators — the reference's signature semantics
(SURVEY.md §2.6) plus the LLM-pipeline dedup family (exact, MinHash-LSH,
SimHash, n-gram Jaccard).

Reference parity:
- latest_wins replaces ``sort().dropDuplicates()`` at
  ``Spark/Tweets_preprocessing.py:156-157,249-251,464-466`` with a
  deterministic row_number window (Spark gives no ordering guarantee to
  sort+dropDuplicates — SURVEY.md §4.3).
- merge_latest replaces the Java HashMap upsert at
  ``Ranking Model/src/main/java/Main/SolrIndexer.java:25-45``.

Scale notes:
- latest_wins is one shuffle on the key; with AQE skew-join splitting a hot
  key is handled at runtime. For known-skewed keys use ``salt`` first.
- minhash_lsh: the O(n^2) candidate explosion is bounded by banding — pairs
  are only generated within (band, bucket) groups. Bucket sizes are data-
  dependent; the band-hash groupBy is the only wide shuffle.
- exact_dup_groups groups on md5(text), not text — 16-byte shuffle keys instead of
  multi-KB documents at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE_61, md5_long, token_ngrams
from ..functions.text import tokenize_normalized
from ..cache import persist
from .checkpointing import lineage_cut, symmetric_edge_cut

# Deterministic universal-hash parameters for MinHash permutations (small odd
# constants; see functions.hashing.minhash_value for the exactness argument).
_MINHASH_PARAMS = [(2 * i + 3, 104729 * (i + 1) % 999983) for i in range(16)]


def latest_wins(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak_cols: list[str] | None = None
) -> DataFrame:
    """Keep the most recent row per key: row_number() over
    (partitionBy key, orderBy order desc, tiebreaks desc) == 1 (D1)."""
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_wins_agg(
    df: DataFrame, key_cols: list[str], order_col: str, tiebreak_cols: list[str] | None = None
) -> DataFrame:
    """Skew-proof latest-wins: ``groupBy(key).agg(max_by(row, (order,
    tiebreaks)))`` — identical rows to :func:`latest_wins` (same NULL
    ordering: a NULL order value loses to any non-NULL, struct comparison is
    field-wise; deterministic whenever (order_col, *tiebreaks) is unique
    within a key, which callers guarantee exactly as they do for the window).

    Why it exists: the row_number window funnels EVERY row of a key into one
    task — AQE skew handling splits skewed *joins*, never windows — so a
    celebrity key holding 10% of a 100 TB corpus serializes 10 TB through one
    executor. max_by is an aggregate with partial (map-side) merge: each map
    task reduces the hot key to ONE row before the shuffle, so skew costs
    nothing. Use the window form only when more than the top-1 row per key is
    needed (rank/top-k); use this for dedup-to-one-row.

    Physical shape: struct-typed aggregation buffers aren't hash-aggregable,
    so this compiles to partial+final SortAggregate — the map side sorts its
    partition by key (same order the window pays AFTER its full shuffle) and
    ships ONE row per (mapper, key). Net vs the window at scale: shuffle
    volume drops from every-row to per-mapper-winners, and no task ever owns
    a whole hot key; locally on tiny data the struct buffer costs a small
    constant (~15-30% on a 6k-row corpus), accepted deliberately.
    Pinned: partial_max_by visible pre-shuffle (tests/test_plans.py) and a
    10%-hot-key bench entry (``preprocess_skewed`` in bench.py)."""
    order = F.struct(F.col(order_col), *[F.col(c) for c in (tiebreak_cols or [])])
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(*key_cols)
        .agg(F.max_by(row, order).alias("__row"))
        .select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])
    )


def merge_latest(
    existing: DataFrame, incoming: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Latest-wins MERGE of an incoming batch into an existing table (D2):
    union the two sides then latest_wins. Identical semantics to the
    reference's compare-OffsetDateTime-keep-later upsert, but distributed.
    Idempotent: re-merging the same batch is a no-op."""
    return latest_wins(existing.unionByName(incoming), key_cols, order_col)


def split_tag_union(
    df: DataFrame, branches: list[tuple[Column, str]], tag_col: str = "tag"
) -> DataFrame:
    """Disjoint multi-way split + tag + union (D4): the reference's
    quoted/retweet/original three-way branch merge
    (``Tweets_preprocessing.py:137-447``) as one pass. ``branches`` is a list
    of (predicate, tag_value); rows matching an earlier predicate are excluded
    from later branches (mutual exclusivity by construction)."""
    parts = []
    seen: Column | None = None
    for pred, tag in branches:
        eff = pred if seen is None else (pred & ~seen)
        parts.append(df.filter(eff).withColumn(tag_col, F.lit(tag)))
        seen = pred if seen is None else (seen | pred)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level exact-dup stats: (n_rows, n_distinct) — X1a."""
    return df.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct(F.md5(F.col(text_col))).alias("n_distinct"),
    )


def exact_dup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates: one row per duplicated text with the
    minimum id and the group size (X1b). Shuffles 16-byte md5 keys only."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias("min_doc_id"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .select("min_doc_id", "cnt")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures over token n-gram shingles.

    (doc_id, sig: array<long>[num_perm]). Shingle hash = md5-prefix int64
    (oracle-reproducible); permutation i = (a_i * h + b_i) mod 2^61-1.
    Computed per-row with higher-order functions after one explode+agg to
    collect distinct shingle hashes — a single shuffle on doc_id.

    ``shingle_hashes``: optionally pass a precomputed DISTINCT (doc_id, h)
    table (operators.pipeline._shingle_hashes) — a pipeline that also runs
    decontamination shares ONE corpus tokenize+md5 pass instead of two
    (values are identical; same oracle either way).
    """
    # two-step projection: bind the token array to a column BEFORE the n-gram
    # transform. Inlined, the regex-tokenize tree sits inside the per-position
    # lambda of token_ngrams and is re-evaluated for every shingle — O(n^2)
    # regex work per document (measured 13x slower at sf0.1).
    from ..io import ensure_parallelism

    if shingle_hashes is not None:
        shingles = shingle_hashes
    else:
        toks = ensure_parallelism(df).select(
            F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
        )
        shingles = toks.select(
            "doc_id", F.explode(token_ngrams(F.col("tk"), shingle_n)).alias("sh")
        ).select("doc_id", md5_long(F.col("sh")).alias("h")).distinct()

    # per-column F.expr (r10): one SQL parse per permutation instead of
    # ~8 py4j round trips each (~0.5 s of driver time per construction).
    # Literal types match the Column form: a/b parse as INT, the Mersenne
    # modulus as BIGINT — identical coercions, identical values (pinned by
    # the exact-oracle suite).
    mins = [
        F.expr(
            f"min((({a}) * (h % 2147483647) + {b}) % {MERSENNE_61})"
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(_MINHASH_PARAMS[:num_perm])
    ]
    sig = shingles.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(num_perm)]).alias("sig"))


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of their MinHash signature.

    Returns (doc_a, doc_b) with doc_a < doc_b, distinct. The band bucket join
    is a self-join *within* (band, band_key) groups only — never a full cross
    join. At scale, band_key cardinality grows with corpus size so bucket
    groups stay small; skewed buckets (boilerplate docs) are exactly the docs
    you want flagged anyway.
    """
    # ONE band-key derivation owned by minhash_bucket_table — the in-session
    # path and the persisted-index path cannot drift. banded is NOT
    # persisted (r11): the self-join's two sides are identical subtrees,
    # so ReuseExchange computes the shingle->minhash pipeline once per
    # action anyway — the old persist was a cache write with no reuse,
    # and it was never unpersisted (leaked blocks for the session).
    # NOTE (ADVICE r11): that single-computation guarantee materializes at
    # RUNTIME via AQE's exchange reuse (the static plan shows two Exchange
    # subtrees, no ReusedExchange node) — disabling AQE/exchange reuse
    # silently doubles the pipeline cost. Pinned by
    # tests/test_operators.py::test_lsh_self_join_reuses_exchange_at_runtime.
    banded = minhash_bucket_table(
        df, id_col, text_col, shingle_n, num_perm, bands,
        shingle_hashes=shingle_hashes,
    )
    return candidates_from_buckets(banded)


def candidates_from_buckets(banded: DataFrame) -> DataFrame:
    """Candidate pairs from a persisted LSH bucket table (doc_id, band,
    band_key): self-join within (band, band_key) only, doc_a < doc_b,
    distinct. Split out so a MAINTAINED bucket table (refresh_lsh_buckets)
    serves candidate queries without re-sketching the corpus."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_bucket_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """The persistable LSH similarity index: (doc_id, band, band_key) bucket
    rows — the ONE owner of the signature->band-key derivation
    (``minhash_lsh_candidates`` calls this, so the in-session and
    persisted-index paths are the same code). Write it once, answer
    candidate queries from it, and maintain it incrementally with
    ``refresh_lsh_buckets``. ``shingle_hashes``: see
    :func:`minhash_signatures`."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(
        df, id_col, text_col, shingle_n, num_perm, shingle_hashes=shingle_hashes
    )
    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                F.transform(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band", "band_key"))


def incremental_dedup_check(
    new_docs: DataFrame,
    old_buckets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Ingest-time dedup gate: LSH candidates between a NEW batch and the
    existing corpus, served from the maintained bucket table — the batch
    is sketched, the corpus is NOT re-read. Returns (new_id, old_id)
    candidate pairs (asymmetric: new × old only; pairs within the new
    batch are the caller's ordinary self-join if wanted). Identical to
    restricting the full-corpus candidate set to new-vs-old — pinned in
    tests. At 100 TB this is what admits a daily batch in minutes: cost
    scales with the batch, not the corpus."""
    nb = minhash_bucket_table(
        new_docs, id_col, text_col, shingle_n, num_perm, bands
    ).select(
        F.col("doc_id").alias("new_id"), "band", "band_key"
    )
    ob = old_buckets.select(
        F.col("doc_id").alias("old_id"), "band", "band_key"
    )
    return (
        nb.join(ob, ["band", "band_key"])
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )


def refresh_lsh_buckets(
    old_buckets: DataFrame,
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """CDC-driven maintenance of the LSH bucket table — the similarity-side
    twin of ``search.index.delta_refresh``: diff the corpus snapshots
    (``pipeline.snapshot_diff``), drop bucket rows of removed/changed docs,
    re-sketch ONLY added/changed docs, pass everything else through
    untouched. Exactness is structural: a doc's signature depends on its
    own text alone, so delta refresh is provably identical to a full
    rebuild on the new snapshot (pinned in tests).

    At 100 TB this turns nightly re-sketching of the whole corpus into a
    job sized by the day's churn: the diff ships (key, digest) pairs, the
    touched-id set broadcasts into an anti-join, and only changed text is
    shingled and hashed."""
    from .pipeline import snapshot_diff

    # lineage_cut (eager localCheckpoint): the delta feeds two downstream
    # branches from one materialization.
    delta = lineage_cut(
        snapshot_diff(
            old_docs.select(id_col, text_col),
            new_docs.select(id_col, text_col),
            [id_col],
        )
    )
    touched = delta.select(F.col(id_col).alias("doc_id"))
    kept = old_buckets.join(F.broadcast(touched), "doc_id", "left_anti")
    to_add = new_docs.join(
        F.broadcast(
            delta.filter(F.col("change") != "removed").select(id_col)
        ),
        id_col,
    )
    added = minhash_bucket_table(
        to_add, id_col, text_col, shingle_n, num_perm, bands
    )
    return kept.unionByName(added)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected candidate-pair graph by
    hash-min label propagation: every node's label converges to the MINIMUM
    node id in its component. Returns (node, cluster_id) for every node that
    appears in at least one pair.

    This is the step between "LSH candidate pairs" and "duplicate groups" in
    a near-dedup pipeline: pairs are not transitive, clusters are. Iterative
    (the one algorithm family Catalyst cannot express in a single plan):
    each round is one join + one min-agg, both keyed on node, with
    ``lineage_cut`` cutting the lineage so round k's plan does not embed
    rounds 1..k-1. Rounds needed = component diameter; near-dup clusters are
    shallow (dup groups share most shingles, so LSH connects them densely),
    so convergence is typically 2-4 rounds. For adversarially long chain
    graphs at 100 TB, swap in the large-star/small-star variant (O(log n)
    rounds, same per-round shape) — the convergence loop is identical.

    Deterministic: min over int64 ids — exactly reproducible, and the whole
    pipeline (LSH pairs -> closure) is oracle-checked against a DuckDB
    recursive CTE (queries/oracles.py ext_dedup_clusters).
    """
    edges = symmetric_edge_cut(pairs, src, dst, checkpoint_dir)
    return _cc_label_loop(edges, checkpoint_dir, max_iter, stats=stats)


def connected_components_from_buckets(
    banded: DataFrame,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components DIRECTLY over a (persisted) LSH bucket table —
    the fused form of ``connected_components(candidates_from_buckets(b))``
    for callers that only need clusters, not the pair list.

    Going through the pair API costs TWO full dedup shuffles before the
    loop even starts: ``candidates_from_buckets`` distincts the oriented
    pairs, then ``connected_components`` distincts the symmetric union of
    that already-distinct set (whose two branches are disjoint by the
    a<b orientation — the second distinct only pays for the first's
    orientation). Building the symmetric edge set straight from the bucket
    self-join (a != b keeps both directions) needs ONE distinct and no
    intermediate pairs persist — measured ~1.0 s -> ~0.35 s on the edge
    cut at sf0.1, and at 100 TB it removes one corpus-pairs-sized shuffle
    entirely. Same transitive closure, same labels: the symmetric closure
    of the oriented pair set equals the within-bucket a != b pair set."""
    edges = symmetric_edges_from_buckets(banded, checkpoint_dir)
    return _cc_label_loop(edges, checkpoint_dir, max_iter, stats=stats)


def symmetric_edges_from_buckets(
    banded: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """Lineage-cut SYMMETRIC distinct edge table (a, b) straight from an
    LSH bucket table — ONE distinct, both directions kept by the a != b
    self-join condition. The shared edge builder for every iterative graph
    operator over the similarity graph (connected components, PageRank,
    BFS, k-core): going through the pair-list API instead pays an oriented
    distinct AND a redundant re-distinct of the disjoint symmetric union
    (see connected_components_from_buckets). Eagerly cut so no loop round
    reaches back into the LSH pipeline."""
    a, b = banded.alias("a"), banded.alias("b")
    return lineage_cut(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .distinct(),
        checkpoint_dir,
    )


def _cc_label_loop(
    edges: DataFrame,
    checkpoint_dir: str | None,
    max_iter: int,
    stats: dict | None = None,
) -> DataFrame:
    """Hash-min label propagation over an already-cut SYMMETRIC distinct
    edge set: each round is one join + one min-agg, lineage cut per round.
    Shared by the pair-list and bucket-table entry points. ``stats``: an
    optional dict that receives {"rounds": <loop rounds run>} — the loop is
    eager (one convergence action per round), so the count is known by
    return time; scale probes assert the round count stays flat as the
    corpus grows (component diameter, not corpus size, drives it)."""
    # per-round cuts are lazy: the convergence-sum action right below each
    # cut materializes it in the same job (one job per round, not two).
    # The init FOLDS round 1 in: node list + first hash-min propagation are
    # the same groupBy (labels0 = min(self, direct neighbors) — identical
    # to identity-init + one loop round), so shallow (diameter-1) dup
    # clusters converge after ONE loop round instead of two. Iteration
    # count is per-round-job overhead at local scale and a full shuffle
    # per round at 100 TB — the free round is worth encoding.
    labels = lineage_cut(
        edges.groupBy("a")
        .agg(F.min("b").alias("_min_nbr"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("_min_nbr"), F.col("a")).alias("cluster_id"),
        ),
        checkpoint_dir,
        eager=False,
    )
    # convergence via label-sum monotonicity: each node's label is
    # non-increasing (min over a set containing itself), so the total is
    # strictly decreasing until the fixpoint — equal sums <=> converged.
    # One tiny agg on checkpointed labels instead of a join per round.
    # (Sum of int64 ids: exact while n_nodes * max_id < 2^63 — beyond that,
    # switch the check to count(label != prev) at one extra join.)

    def one_round(lbl):
        nbr = edges.join(
            lbl, edges["b"] == lbl["node"]
        ).select(F.col("a").alias("node"), "cluster_id")
        return lineage_cut(
            lbl.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("cluster_id").alias("cluster_id")),
            checkpoint_dir,
            eager=False,
        )

    def label_sum(lbl, tag):
        return lbl.agg(F.sum("cluster_id").alias("s")).select(
            F.lit(tag).alias("i"), "s"
        )

    # max_iter is a pure upper bound on LOOP rounds (ADVICE r11): with
    # max_iter <= 0 the fused first round below must not run — return the
    # init labels (identity-init + one propagation, the documented labels0).
    if max_iter <= 0:
        if stats is not None:
            stats["rounds"] = 0
        return labels

    # FIRST pair fused (r11): the init sum and round-1 sum ride in ONE
    # action (both frames are lazily cut, so the single collect
    # materializes init and round 1 together) — shallow dup graphs
    # converge right here, and the loop pays one action fewer in every
    # case. Deeper graphs continue with the standard one-action-per-round
    # check (never an extra speculative round at scale).
    nxt = one_round(labels)
    rows = {
        r["i"]: r["s"]
        for r in label_sum(labels, 0).unionByName(label_sum(nxt, 1)).collect()
    }
    labels, rounds, prev_sum = nxt, 1, rows[1]
    if rows[0] != rows[1]:
        for _ in range(max_iter - 1):
            labels = one_round(labels)
            rounds += 1
            new_sum = labels.agg(F.sum("cluster_id")).first()[0]
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def near_dedup_survivors(
    df: DataFrame,
    pairs: DataFrame | None,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Canonical near-dedup: drop every clustered document except its
    cluster's minimum id. Documents in no candidate pair survive untouched —
    one left_anti join against the non-canonical cluster members.
    ``checkpoint_dir``: reliable lineage cuts for the closure on clusters
    (same contract as connected_components). ``clusters``: optional
    precomputed (node, cluster_id) assignment (e.g. from
    :func:`connected_components_from_buckets`) — skips the pair-path
    closure entirely (``pairs`` is then ignored)."""
    if clusters is None:
        if pairs is None:
            raise ValueError("pass exactly one of pairs= or clusters=")
        clusters = connected_components(pairs, checkpoint_dir=checkpoint_dir)
    removed = clusters.filter(F.col("node") != F.col("cluster_id"))
    return df.join(
        removed.select(F.col("node").alias(id_col)), id_col, "left_anti"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.0,
    keep_counts: bool = False,
    shingle_hashes: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for given candidate (doc_a, doc_b)
    pairs: |A∩B| / |A∪B| over distinct token n-grams. Intersection via an
    explode+join on shingle hash — no arrays cross the shuffle.
    ``keep_counts`` also returns (n_inter, n_a, n_b) so asymmetric measures
    (containment) derive for free from the same pass. ``shingle_hashes``:
    optional precomputed (doc_id, h) distinct-shingle relation (pass the
    PERSISTED pass the LSH candidate build already made, so verify and
    candidates shingle the corpus once, not twice); ``df``/``id_col``/
    ``text_col``/``shingle_n`` are then unused — combining it with a
    non-default ``shingle_n`` raises, because hashes built at a different
    n would yield silently wrong Jaccard values (ADVICE r9)."""
    from ..io import ensure_parallelism

    if shingle_hashes is not None:
        if shingle_n != 3:
            raise ValueError(
                "ngram_jaccard_pairs: shingle_n is ignored when "
                "shingle_hashes is passed — build the hashes at the wanted "
                "n and drop the shingle_n argument"
            )
        sh = shingle_hashes
    else:
        toks = ensure_parallelism(df).select(
            F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
        )
        sh = persist(  # feeds sizes + both join sides: 3 subtrees, 1 computation
            toks.select(
                "doc_id", F.explode(token_ngrams(F.col("tk"), shingle_n)).alias("sh")
            )
            .select("doc_id", md5_long(F.col("sh")).alias("h"))
            .distinct()
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "h")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        pairs.join(sha, "doc_a").join(shb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .select("doc_a", "doc_b", "jaccard", *( ["n_inter", "n_a", "n_b"] if keep_counts else [] ))
    )
    if threshold > 0.0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """SimHash fingerprints (tf-weighted, md5-based, ``bits`` wide; default 32
    so the per-bit weighted sums and the final fingerprint stay exactly
    representable in int64 for the oracle).

    Returns (doc_id, simhash: long). Plan shape: explode tokens -> ONE
    groupBy(doc_id) carrying ``bits`` conditional-sum aggregate columns
    (partial+final hash agg). The per-OCCURRENCE ±1 sums equal the
    tf-weighted ±tf sums over distinct tokens (Σ_occ sign = Σ_tok
    tf·sign), so the earlier intermediate (doc_id, token) tf aggregate
    was a full extra shuffle for zero information — dropping it, the
    map-side partial agg compresses straight to doc grain (33 columns)
    and the ONLY shuffle ships one row per document. (Round 1 was worse
    still: a row per (token, bit) — a ``bits``x blowup.) The trade is
    md5 per occurrence instead of per distinct (doc_id, token) — row-
    local codegen'd CPU, the right currency at 100 TB.
    """
    from ..io import ensure_parallelism

    occ = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_normalized(text_col)).alias("token"),
    ).select("doc_id", md5_long(F.col("token")).alias("h"))
    # per-column F.expr strings (r10): the Column-API loop built ~400
    # expression nodes through one py4j round trip each (~0.9 s of DRIVER
    # time on every construction, inside every timed invocation); the SQL
    # parser builds the same trees JVM-side. Semantics unchanged — the
    # exact-oracle parity suite pins the values.
    per_doc = occ.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
                "THEN 1 ELSE -1 END)"
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    fingerprint = F.expr(
        " + ".join(
            f"CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
            for i in range(bits)
        )
    )
    return per_doc.select("doc_id", fingerprint.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming, using the
    pigeonhole block trick: split the fingerprint into ``blocks`` chunks; any
    pair within distance max_hamming (< blocks) shares at least one exact
    chunk -> self-join per (block, chunk value), then exact Hamming check via
    bit_count(xor). Avoids the all-pairs cross join entirely."""
    width = bits // blocks
    mask = (1 << width) - 1
    # persist: the chunked fingerprints feed both sides of the block self-join
    sh = persist(simhash(df, id_col, text_col, bits))
    chunk_exprs = F.array(
        *[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
            for i in range(blocks)
        ]
    )
    chunked = sh.select(
        "doc_id", "simhash", F.posexplode(chunk_exprs).alias("block", "chunk")
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring repeated-span detection — the k-token-gram form of
    "dedup by long exact substrings" (suffix-array dedup's distributed
    cousin): for every document, the maximal contiguous token runs in
    which EVERY TOKEN is covered by at least one k-gram that also occurs
    in >= ``min_docs`` distinct documents. Returns (doc_id, span_start,
    span_end, span_tokens) in token positions. (Note the semantics are
    token-COVERAGE runs, the cut-these-tokens signal — not "every
    k-window inside the span is repeated": two touching repeated windows
    merge across an intervening non-repeated window start, e.g. windows
    [1,2] and [3,4] fuse into [1,4] even though the window starting at 2
    is unique. Pinned by the coverage/maximality property test.)

    Pipeline: per-doc k-gram hashes built IN-ARRAY (one transform over the
    token array — no token-stream self-join), exploded once; grams kept if
    their distinct-doc count reaches ``min_docs`` (left-semi back onto the
    positions); then covered intervals [pos, pos+k-1] merge into maximal
    spans with the gaps-and-islands running-max — the same rewrite
    ext_interval_merge uses, partitioned per doc so the window never goes
    corpus-wide. Every step is exact integers/md5, so the whole operator
    has a DuckDB oracle.

    At 100 TB: the gram table is the big intermediate (|tokens| rows of
    16-byte hashes); the distinct-doc filter is a partial+final agg on the
    hash key, and nothing wider than (hash, doc, pos) ever shuffles. The
    suffix-array construction of Lee et al. finds spans >= L directly;
    k-gram cover with k = L finds the same spans (any repeated substring of
    length >= L contains a repeated L-gram at every offset) at the cost of
    a k-token resolution floor on span ends.
    """
    from ..functions.text import tokenize_normalized
    from ..io import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc_id"), tokenize_normalized(text_col).alias("tk")
    )
    grams = persist(
        toks.filter(F.size("tk") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {k} + 1), "
                    f"i -> md5(concat_ws(' ', slice(tk, i, {k}))))"
                )
            ).alias("pos0", "h"),
        )
        # posexplode is 0-based; token positions below are 1-based
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    rep = (
        grams.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    covered = grams.join(rep, "h", "left_semi").select(
        "doc_id", "pos", (F.col("pos") + k - 1).alias("end")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = covered.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("pos") > prev_max + 1), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
        .orderBy("doc_id", "span_start")
    )


def connected_components_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_rounds: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    O(log n)-round scale path the hash-min loop's docstring promises for
    adversarially long chain graphs. Same output contract as
    ``connected_components``: (node, cluster_id = component minimum), and
    a test pins the two algorithms label-identical on cliques, chains, and
    the LSH graph.

    Per round (both stars have the same shape): one groupBy(node) min-agg
    over the symmetric edge list + one join back on node — no wider than
    the hash-min round, but each round HALVES star heights instead of
    walking one hop, so a diameter-d chain needs O(log d) rounds, not d.

    - large-star(u): attach every neighbor v > u to m = min(N(u) ∪ {u})
    - small-star(u): attach every neighbor v <= u, and u itself, to m

    Convergence = canonical edge set stable (checked by count + an order-
    independent exact decimal sum of per-edge xxhash64 values: a false
    fixpoint would need two DIFFERENT edge sets with equal count and equal
    hash sums between consecutive rounds of a deterministic contraction;
    treat it as the driver-side fixpoint test it is).
    """
    edges = symmetric_edge_cut(pairs, src, dst, checkpoint_dir)

    def sym(e):
        und = e.filter(F.col("a") != F.col("b")).select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        ).distinct()
        return und.select(
            F.col("lo").alias("a"), F.col("hi").alias("b")
        ).union(und.select(F.col("hi").alias("a"), F.col("lo").alias("b")))

    def mins(e):
        return e.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )

    def sig(e):
        row = (
            e.filter(F.col("a") < F.col("b"))
            .agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
            )
            .first()
        )
        return (row["n"], row["h"])

    prev = sig(edges)
    for _ in range(max_rounds):
        # large-star: v > u -> (v, m)
        ls = (
            edges.join(mins(edges), "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        # lazy round cuts: the sig() convergence action below materializes
        # both star halves in one job (see checkpointing module docstring)
        edges = lineage_cut(sym(ls), checkpoint_dir, eager=False)
        # small-star: v <= u -> (v, m), plus (u, m)
        with_m = edges.join(mins(edges), "a")
        ss = (
            with_m.filter(F.col("b") < F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(with_m.select("a", F.col("m").alias("b")))
        )
        edges = lineage_cut(sym(ss), checkpoint_dir, eager=False)
        cur = sig(edges)
        if cur == prev:
            break
        prev = cur
    return (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.min("b"), F.first("a")).alias("cluster_id"))
    )
