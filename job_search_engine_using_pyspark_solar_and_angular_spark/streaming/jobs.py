"""Streaming jobs: windowed aggregation, trending top-k, latest-wins merge.

Reference capability mapping (SURVEY.md §2.11):

| reference emulation                                   | here                    |
|-------------------------------------------------------|-------------------------|
| per-file driver loop (Tweets_preprocessing.py:605-621)| file-source micro-batch |
| 2 h file rotation (DataCollector.py:41-46)            | tumbling event-time window |
| per-batch trending words (Report.pdf §3.4.1)          | trending_topk           |
| HashMap latest-wins re-index (SolrIndexer.java:25-45) | latest_wins_merge_sink  |
| no late-data story (idempotent by dedup)              | withWatermark + dedup   |

Scale notes:
- windowed aggs carry state bounded by the watermark horizon; at 100 TB/day
  the state store holds only open windows, and the shuffle is keyed on
  (window, group) — the same partial/final hash agg as batch.
- latest_wins_merge_sink is a ``foreachBatch`` MERGE: each micro-batch joins
  against the current target snapshot. On a real deployment the target would
  be a transactional table format; plain-parquet swap semantics are used here
  so the container stays dependency-free. The merge itself is the batch D2
  operator, so replaying a batch is a no-op (idempotent sink = exactly-once
  results over at-least-once delivery).
- streaming_dedup: ``dropDuplicatesWithinWatermark`` bounds the dedup state
  store — keys older than the horizon are evicted (the unbounded-state
  pitfall in SURVEY.md §7.5; plain ``dropDuplicates`` on business keys
  never evicts).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import merge_latest


def stream_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """File-source stream over a parquet directory (explicit schema — required
    by Structured Streaming, and the 100 TB-safe choice anyway).

    TIMESTAMP_NTZ event-time columns are normalized to TIMESTAMP:
    ``withWatermark`` requires TIMESTAMP, and the session runs in UTC so the
    cast preserves wall-clock values (mirrors io.load_table)."""
    df = spark.readStream.schema(schema).parquet(path)
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    value_col: str | None = "value",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation — the streaming form of the
    declared Q23. Works identically on batch DataFrames (watermark skipped),
    which is how the replay-parity test pins the semantics. Pass ``slide``
    for the hopping form (the streaming twin of ext_sliding_window): state
    grows by window/slide overlapping windows per key, all still bounded by
    the watermark."""
    if df.isStreaming and watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = [F.count("*").alias("n")]
    if value_col:
        aggs.append(F.round(F.sum(value_col), 2).alias(f"sum_{value_col}"))
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    keys = [win.alias("w"), *(group_cols or [])]
    out = df.groupBy(*keys).agg(*aggs)
    return out.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w"),
        *(group_cols or []),
        *[c for c in out.columns if c not in ("w", *(group_cols or []))],
    )


def trending_topk(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window word counts (trend analysis / word-cloud analog,
    Report.pdf §3.4.1). Emits (window_start, word, c); the final per-window
    top-k cut happens in the sink (``foreachBatch`` + row_number) or on the
    complete-mode result — a global ordered limit is not expressible inside
    a streaming agg, and shouldn't be: the heavy lifting (explode + count)
    stays distributed here."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    words = df.select(
        F.col(ts_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy(F.window(ts_col, window).alias("w"), "word")
        .agg(F.count("*").alias("c"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("w"), "word", "c")
    )


def topk_per_window(counts: DataFrame, k: int = 10) -> DataFrame:
    """Batch-side per-window top-k over trending counts (applied to the
    complete-mode table or inside foreachBatch)."""
    from pyspark.sql import Window

    w = Window.partitionBy("w").orderBy(F.col("c").desc(), F.col("word"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def session_counts(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows (``F.session_window``): merging event-time
    sessions per key, streaming-capable with watermark state eviction. The
    batch gap-sum formulation lives in operators/joins.py ``sessionize`` —
    the two agree EVERYWHERE, including a gap of exactly g: session_window
    merges when next_start <= prev_end (inclusive bound, verified on this
    build), gap-sum splits only when gap > g. Pinned by
    tests/test_streaming.py::test_session_boundary_gap_exactly_g_agrees."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("s_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("s_end"),
            "n_events",
        )
    )


def streaming_dedup(
    df: DataFrame, key_cols: list[str], ts_col: str = "ts", watermark: str = "2 hours"
) -> DataFrame:
    """Watermark-bounded streaming dedup: first-seen wins within the horizon
    (exact-once event processing).

    Uses ``dropDuplicatesWithinWatermark``: duplicates are collapsed even
    when retries carry jittered event times, and — the part that matters at
    100 TB — per-key state is EVICTED once the key's event time passes the
    watermark. Plain ``dropDuplicates(keys)`` after a watermark only evicts
    state when the event-time column is IN the key subset; with bare
    business keys its state store grows without bound."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    l_ts: str = "l_ts",
    r_ts: str = "r_ts",
    watermark: str = "2 hours",
    bound_seconds: int = 1800,
) -> DataFrame:
    """Watermarked stream-stream inner join: left and right events with the
    same ``key`` whose event times lie within ±``bound_seconds`` of each
    other. Works identically on batch DataFrames (watermarks skipped) —
    which is how the replay-parity test pins the semantics.

    The two-sided time bound is what makes the state store finite: each
    side buffers only rows younger than watermark + bound, so state is
    O(rate × horizon) per key range, not unbounded. Without a time bound
    Spark must keep EVERY past row of both streams — the stream-stream
    analog of the unbounded-dedup pitfall."""
    if left.isStreaming:
        left = left.withWatermark(l_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(r_ts, watermark)
    lk, rk = f"__l_{key}", f"__r_{key}"
    l = left.withColumnRenamed(key, lk)
    r = right.withColumnRenamed(key, rk)
    bound = F.expr(
        f"{r_ts} >= {l_ts} - INTERVAL {bound_seconds} SECONDS AND "
        f"{r_ts} <= {l_ts} + INTERVAL {bound_seconds} SECONDS"
    )
    return (
        l.join(r, (F.col(lk) == F.col(rk)) & bound, "inner")
        .withColumnRenamed(lk, key)
        .drop(rk)
    )


def latest_wins_merge_sink(
    stream_df: DataFrame,
    spark: SparkSession,
    target_path: str,
    key_cols: list[str],
    order_col: str,
    checkpoint: str,
    trigger_once: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Incremental latest-wins index maintenance via foreachBatch (D2).

    Each micro-batch: (optional transform) -> merge_latest against the
    current target snapshot -> versioned commit (state_store.commit_state:
    immutable version dirs + atomic pointer flip). Returns the started query.
    """
    def _merge(batch: DataFrame, batch_id: int) -> None:
        from .state_store import commit_state, read_state

        b = transform(batch) if transform else batch
        existing = read_state(spark, target_path)  # None ONLY if never committed
        if existing is not None:
            merged = merge_latest(existing, b, key_cols, order_col)
        else:
            from ..operators.dedup import latest_wins

            merged = latest_wins(b, key_cols, order_col)
        commit_state(merged, target_path)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def cms_merge_sink(
    stream_df: DataFrame,
    spark: SparkSession,
    target_path: str,
    key_col: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 256,
    trigger_once: bool = True,
):
    """Incremental count-min maintenance via foreachBatch: sketch each
    micro-batch, ADD its counters into the persisted sketch (cms_merge),
    versioned pointer-flip commit (state_store). Because the sketch is mergeable and commutative, the
    maintained state is EXACTLY the sketch of all rows ever seen — replay
    parity with a batch build is pinned in tests — while the state itself
    stays KB-sized (≤ depth×width counters) no matter the stream volume.

    This is the streaming face of the persist-once-merge-many design: the
    same counters a daily batch job would write, kept fresh per micro-batch.
    """
    from ..operators.sketches import cms_build, cms_merge

    def _merge(batch: DataFrame, batch_id: int) -> None:
        from .state_store import commit_state, read_state

        b = cms_build(batch, key_col, depth=depth, width=width)
        existing = read_state(spark, target_path)
        merged = b if existing is None else cms_merge(existing, b)
        commit_state(merged, target_path)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bloom_merge_sink(
    stream_df: DataFrame,
    spark: SparkSession,
    target_path: str,
    key_col: str,
    checkpoint: str,
    m_bits: int = 8192,
    k: int = 3,
    trigger_once: bool = True,
):
    """Incremental Bloom-filter maintenance via foreachBatch: hash each
    micro-batch's keys to bit positions, UNION-distinct into the persisted
    set-bit table, versioned pointer-flip commit (state_store). Bit-set union is commutative and
    idempotent, so the maintained filter is EXACTLY the filter of all keys
    ever seen (replay parity with a batch build pinned in tests) and the
    state stays ≤ m_bits rows forever — the membership-sketch face of the
    persist-once-merge-many design (counters: cms_merge_sink).

    Serving pattern at scale: a fact-scan job reads the latest filter
    (KBs), broadcasts it, and drops non-member rows map-side before any
    shuffle — a continuously-maintained runtime join filter."""
    from ..operators.sketches import bloom_build

    def _merge(batch: DataFrame, batch_id: int) -> None:
        from .state_store import commit_state, read_state

        b = bloom_build(batch, key_col, m_bits=m_bits, k=k)
        existing = read_state(spark, target_path)
        merged = b if existing is None else existing.unionByName(b).distinct()
        commit_state(merged, target_path)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_gate_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_path: str,
    pairs_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> None:
    """One micro-batch of the ingest dedup gate (the foreachBatch body of
    :func:`dedup_gate_sink`, exposed so crash-retry semantics are directly
    testable). Both state merges are union-distinct idempotent, so
    re-running the batch after a crash at ANY point — including between
    the two commit_state flips — converges to the same state as a clean
    run (pinned by the crash-injection test)."""
    from ..cache import persist, scope
    from ..operators.dedup import minhash_bucket_table
    from .state_store import commit_state, read_state

    # a crash between the two commit_state flips is the documented retry
    # window — the scope releases each failed attempt's cached blocks, which
    # Structured Streaming's automatic retries would otherwise leak
    with scope():
        nb = persist(
            minhash_bucket_table(batch, id_col, text_col, shingle_n, num_perm, bands)
        )
        existing = read_state(spark, state_path)
        merged = persist(
            (nb if existing is None else existing.unionByName(nb)).distinct()
        )
        new_sides = nb.select(F.col("doc_id").alias("new_id"), "band", "band_key")
        cand = (
            new_sides.join(
                merged.select(F.col("doc_id").alias("other_id"), "band", "band_key"),
                ["band", "band_key"],
            )
            .filter(F.col("new_id") != F.col("other_id"))
            .select(
                F.least("new_id", "other_id").alias("doc_a"),
                F.greatest("new_id", "other_id").alias("doc_b"),
            )
            .distinct()
        )
        prev_pairs = read_state(spark, pairs_path)
        all_pairs = (
            cand if prev_pairs is None else prev_pairs.unionByName(cand)
        ).distinct()
        commit_state(all_pairs, pairs_path)
        commit_state(merged, state_path)


def dedup_gate_sink(
    stream_df: DataFrame,
    spark: SparkSession,
    state_path: str,
    pairs_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    trigger_once: bool = True,
):
    """Streaming ingest-time near-dedup gate: maintain the MinHash LSH
    bucket table incrementally and emit candidate duplicate pairs as
    documents ARRIVE — the streaming face of the batch dedup ladder
    (operators/dedup.py), for a corpus that grows continuously instead of
    being re-sketched nightly.

    Per micro-batch:
      1. sketch ONLY the batch (``minhash_bucket_table`` — identical
         derivation to the batch path by construction);
      2. join the batch's bucket rows against batch ∪ corpus buckets —
         new×all covers new-new and new-old pairs; old-old pairs were
         emitted when their later member arrived, so the per-batch join
         cost scales with the BATCH, not the corpus;
      3. commit cumulative pairs and the merged bucket table through the
         versioned state store (atomic pointer flips).

    Replay invariant (pinned in tests): after any sequence of batches,
    ``read_state(pairs)`` equals the batch ``minhash_lsh_candidates`` over
    all rows ever seen — streaming arrival order does not change the
    candidate set. The two state tables commit in separate (individually
    atomic) flips; a crash between them re-runs the micro-batch, and both
    merges are union-distinct idempotent, so the retry converges.
    """
    def _gate(batch: DataFrame, batch_id: int) -> None:
        dedup_gate_batch(
            spark, batch, state_path, pairs_path,
            id_col, text_col, shingle_n, num_perm, bands,
        )

    writer = stream_df.writeStream.foreachBatch(_gate).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_jsonl_with_quarantine(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """Streaming twin of sources.read_tweets_with_quarantine: text-stream
    the JSONL, parse each line once with explicit-schema ``from_json``,
    and split on parse failure — (valid, quarantined) streams off ONE
    file source. Parse failure is detected the PERMISSIVE way (a
    ``_corrupt_record`` field inside the struct — ``from_json`` returns an
    all-null struct for malformed input, so a null-struct test cannot
    distinguish bad JSON from legitimately-null fields); quarantined rows
    keep the raw line for replay. A poisoned line costs one row, never a
    batch restart — the at-scale ingest posture for a continuously-
    arriving corpus."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema_c = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    lines = spark.readStream.format("text").load(path)
    parsed = lines.select(
        F.col("value").alias("raw_line"),
        F.from_json(
            "value",
            schema_c,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("rec"),
    )
    bad = F.col("rec").isNull() | F.col("rec._corrupt_record").isNotNull()
    valid = parsed.filter(~bad).select("rec.*").drop("_corrupt_record")
    quarantined = parsed.filter(bad & (F.trim("raw_line") != "")).select(
        "raw_line"
    )
    return valid, quarantined


def hll_merge_sink(
    stream_df: DataFrame,
    spark: SparkSession,
    target_path: str,
    group_col: str,
    value_col: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Incremental per-group distinct-count maintenance via foreachBatch —
    the third sketch sink beside count-min (counter add) and Bloom (bit-set
    union): sketch each micro-batch with ``hll_sketch_agg``, union into the
    persisted per-group sketches with ``hll_union_agg``, versioned
    pointer-flip commit (state_store).
    HLL union is register-max, so union-of-sketches == sketch-of-union and
    the maintained estimate is EXACTLY the one a single batch build over
    all rows ever seen would report (replay parity pinned in tests), while
    state stays (groups × sketch-size) no matter the stream volume."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        from .state_store import commit_state, read_state

        b = batch.groupBy(group_col).agg(
            F.hll_sketch_agg(value_col).alias("sketch")
        )
        existing = read_state(spark, target_path)
        if existing is not None:
            merged = (
                existing.select(group_col, "sketch")
                .unionByName(b)
                .groupBy(group_col)
                .agg(F.hll_union_agg("sketch").alias("sketch"))
            )
        else:
            merged = b
        out = merged.withColumn(
            "est_distinct", F.hll_sketch_estimate("sketch").cast("long")
        )
        commit_state(out, target_path)

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
