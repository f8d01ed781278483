"""The full streaming serve loop — the reference's production architecture
(``Main/SolrIndexer.java:25-45`` stream -> preprocess -> re-index per batch,
``Main/SolrRanker.java:66-91`` serve from the live index) composed from the
engine's verified pieces: ingest dedup gate, incremental index refresh, and
the served BM25/ANN tiers.

Per micro-batch (:func:`serve_batch`):

1. **Gate** — MinHash-LSH sketch ONLY the batch, join against the live
   corpus bucket rows (union of the per-segment bucket files, tombstone-
   filtered): arrivals that share a band bucket with an existing doc
   (different id — same-id is a replace-by-id UPDATE, reference
   ``SolrIndexer.java:36-45``) or with an earlier-id batch doc are
   suppressed. Cost scales with the batch, never the corpus.
2. **Index delta** — survivors' postings are built fresh (churn-sized
   tokenize) and written as a NEW segment: a plain parquet directory, one
   token-sorted file per token hash bucket
   (:func:`~.index.write_token_sorted`); replaced doc_ids get a tombstone
   ``(doc_id, before_seg)``. This is the Lucene segment + delete-bitmap
   model expressed in parquet files that any process can read by path:
   the 100 TB components are append-only, a re-index never rewrites
   history.
3. **Stats** — EVERYTHING doc-grain is segmented the same way: per-doc
   lengths and the batch's LSH bucket rows are written as batch-sized
   segment files (never a rewrite of corpus state — per-batch write volume
   is O(batch), not O(corpus)); the corpus constants (n_docs, avg_dl) are
   per-segment PARTIALS (new counts/sums plus the replaced docs' retracted
   counts/sums, looked up churn-sized at batch time), so the served value
   derives from <= n_segments rows — exact integer arithmetic, identical
   to re-aggregating doc_stats.
4. **Vector delta** — survivors' embeddings append as a bucket-partitioned
   segment under the int8-LSH layout, so served ANN still reads only probed
   bucket partitions (static partition pruning) and the same tombstones
   invalidate replaced vectors.
5. **Publish** — the segment manifest commits LAST (versioned state store,
   atomic pointer flip): a crash anywhere earlier leaves the previous
   manifest live — uncommitted segment directories are invisible because
   every read iterates the manifest's segment list — and every step is
   idempotent on Structured Streaming's retry (all segment writes are
   mode-overwrite to seg-deterministic locations; partials derive from
   COMMITTED state + the batch, never from increments). The foreachBatch
   ``batch_id`` rides in the manifest row itself, so POST-publish
   redelivery (at-least-once) is skipped by a high-water-mark check that
   can never disagree with what is live — re-application after publish
   would re-gate the batch against the post-batch corpus and is NOT
   idempotent (see :func:`serve_batch`). Pinned by the every-failpoint
   crash sweep in tests/test_serve_loop.py.

Served reads union the manifest's segments and drop tombstoned rows (seg <
the doc's latest ``before_seg``) with a literal filter built from the
collected tombstones — churn-sized until :func:`compact_segments` folds
everything back into one base segment. :func:`read_served_index` resolves
a snapshot once: it collects the tombstones and the corpus partials, so a
request only ranks its posting lists or its probed vector buckets.
Compaction deletes nothing; :func:`vacuum_segments` reclaims unreferenced
segments and inert tombstones after the read grace window, so a reader
that resolved the previous manifest mid-query stays consistent.

Exactness: the served index is provably identical to a full rebuild over
the latest-wins corpus — postings are a disjoint union of per-doc segment
rows (a doc's postings depend on its own text alone), and avg_dl is the
same exact integer-sum/count both ways — so served BM25 scores hash-match a
batch rebuild (pinned in tests/test_serve_loop.py).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist, scope
from ..operators.dedup import minhash_bucket_table
from ..streaming.state_store import commit_state, read_state
from .index import SearchIndex, build_index, write_token_sorted

# Every serving-state kind's schema, declared once: every read names it, so
# no read pays a schema-inference job, and a column an older writer did not
# emit (the first manifests had no batch_id) reads as null.
SCHEMAS = {
    "manifest": "seg int, batch_id long",
    "tombstones": "doc_id long, before_seg int",
    "doc_stats": "doc_id long, doc_len long, seg int",
    "lsh": "doc_id long, band int, band_key string, seg int",
    "scalar": "seg int, n_new long, sum_new long, n_rep long, sum_rep long",
    "postings": "token string, doc_id long, doc_len int, tf long, seg int",
    "vectors": "doc_id long, embedding array<double>, seg int, bucket int",
}


def _paths(base: str) -> dict[str, str]:
    return {
        "manifest": f"{base}/manifest",
        "tombstones": f"{base}/tombstones",
        "doc_stats": f"{base}/doc_stats",
        "lsh": f"{base}/lsh_buckets",
        "scalar": f"{base}/corpus_stats",
        "postings": f"{base}/postings",
        "vectors": f"{base}/vectors",
    }


def _seg_path(p: dict, kind: str, seg: int) -> str:
    # postings segments sit beside the other kinds' roots, not under one
    if kind == "postings":
        return f"{p['postings']}_seg{seg}"
    return f"{p[kind]}/seg{seg}"


def _state(spark: SparkSession, p: dict, kind: str, version: int | None = None):
    """The committed manifest or tombstones (None before the first commit)."""
    return read_state(spark, p[kind], version=version, schema=SCHEMAS[kind])


def _manifest(spark: SparkSession, p: dict, version: int | None = None) -> list:
    """The committed manifest rows in seg order ([] before the first publish):
    <= n_segments rows, sorted driver-side."""
    man = _state(spark, p, "manifest", version)
    return [] if man is None else sorted(man.collect(), key=lambda r: r["seg"])


def serve_batch(
    spark: SparkSession,
    batch: DataFrame,
    base: str,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str | None = None,
    shingle_n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    num_planes: int = 4,
    dim: int = 64,
    postings_buckets: int = 16,
    batch_id: int | None = None,
    failpoint=None,
) -> dict:
    """One micro-batch of the serve loop (the foreachBatch body of
    :func:`serve_loop_sink`, exposed so crash-retry semantics are directly
    testable). Returns {"seg", "arrived", "suppressed", "indexed",
    "segments"}, ``segments`` being the committed manifest's length.

    ``batch`` must carry one row per ``id_col`` (upstream latest-wins); a
    row whose id already exists in the corpus is a replace-by-id update.

    ``table_prefix`` names nothing: the segments are plain parquet
    directories under ``base``. It keeps its positional slot so existing
    callers stay valid.

    ``batch_id`` makes redelivery exactly-once: the id is recorded IN the
    manifest row (one atomic commit — there is no window where the segment
    is published but its batch_id is not), and a batch whose id is already
    <= the manifest's high-water mark returns ``{"skipped": True, ...}``
    untouched. This guard is what makes POST-publish redelivery safe:
    re-running an already-published batch would re-gate it against the
    post-batch corpus — e.g. a batch that both replaced doc X and carried a
    near-dup of X's OLD text would admit on re-run the dup it suppressed
    the first time (the old text's bucket rows are tombstoned by then).
    Pre-publish crashes never need the guard (nothing is live until the
    manifest flips); :func:`serve_loop_sink` always passes foreachBatch's
    monotonic batch_id. Manual/bootstrap callers may omit it — then THEY
    own not re-applying a published batch.

    ``failpoint`` (tests only): a callable invoked with a label after each
    durable mutation — raising from it simulates a crash at exactly that
    point. The crash-sweep test retries the batch after a crash at EVERY
    label and pins convergence to the clean run, including the
    post-publish redelivery (skipped via the batch_id guard). A failpoint
    also forces the pre-publish segment writes into their deterministic
    sequential label order; with no failpoint they run concurrently from a
    thread pool (test_parallel_writes_equal_sequential pins path
    equivalence)."""
    p = _paths(base)
    man_rows = _manifest(spark, p)
    if batch_id is not None:
        applied = max(
            (r["batch_id"] for r in man_rows if r["batch_id"] is not None),
            default=None,
        )
        if applied is not None and applied >= batch_id:
            return {"skipped": True, "batch_id": batch_id, "applied": applied,
                    "segments": len(man_rows)}
    prior_segs = [r["seg"] for r in man_rows]
    seg = 1 if not prior_segs else 1 + prior_segs[-1]
    max_committed = prior_segs[-1] if prior_segs else 0
    # tombstones from a PREVIOUS crashed attempt of this very seg are
    # clamped out (before_seg <= max committed seg) so a retry sees exactly
    # the pre-batch live state — the differential partials stay idempotent
    tombs_df = _state(spark, p, "tombstones") if prior_segs else None

    def _fp(label: str) -> None:
        if failpoint is not None:
            failpoint(label)

    # the batch's persists are released on exit, crashed attempts included:
    # Structured Streaming retries a failed batch, and each attempt would
    # otherwise leak its cached blocks
    with scope():
        batch = persist(batch)
        nb = persist(
            minhash_bucket_table(batch, id_col, text_col, shingle_n, num_perm, bands)
        )
        replaced_stats = None
        # ---- 1. gate: vs live corpus buckets, then earlier-id batch docs ---
        sup_parts = []
        if prior_segs:
            cuts = _tombstone_cuts(tombs_df, max_committed)
            corpus_buckets = _alive(_read_segments(spark, p, "lsh", prior_segs), cuts)
            sup_parts.append(
                nb.join(
                    corpus_buckets.select(
                        F.col("doc_id").alias("old_id"), "band", "band_key"
                    ),
                    ["band", "band_key"],
                )
                .filter(F.col("doc_id") != F.col("old_id"))
                .select("doc_id")
            )
        earlier = nb.select(F.col("doc_id").alias("eid"), "band", "band_key")
        sup_parts.append(
            nb.join(earlier, ["band", "band_key"])
            .filter(F.col("eid") < F.col("doc_id"))
            .select("doc_id")
        )
        suppressed = sup_parts[0]
        for s in sup_parts[1:]:
            suppressed = suppressed.unionByName(s)
        suppressed = persist(suppressed.distinct())
        survivors = persist(batch.join(
            suppressed.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
        ))
        surv_ids = survivors.select(F.col(id_col).alias("doc_id"))
        _fp("gated")

        # ---- 2-5. the durable pre-publish segment writes -------------------
        # Every write below lands at a seg-deterministic location and is
        # invisible until the manifest flips, so they are mutually
        # independent: order among them is irrelevant to correctness (a
        # crash leaves orphan files the retry overwrites). With no
        # failpoint they run CONCURRENTLY from a small thread pool (Spark
        # schedules jobs from multiple submitter threads onto idle slots —
        # a delta batch's jobs are tiny, so per-job fixed cost, not
        # compute, dominates the sequential form: measured ~4.6s -> ~3.5s
        # per ~200-doc batch at sf0.1). A failpoint forces the sequential
        # order so the crash sweep pins one deterministic label sequence.

        # persisted: the batch is tokenized ONCE and feeds the segment
        # write, the doc-stats segment, and the scalar partial (unpersisted
        # chains would re-tokenize the batch for each — 3x the dominant
        # per-batch compute at scale). (A tokenize-the-full-batch-
        # concurrent-with-the-gate variant was measured and REJECTED:
        # on a shared local[32] pool the extra tokenize work on suppressed
        # arrivals plus the survivor semi-join cost more than the overlap
        # saved — 3.30 s -> 3.68 s per delta batch at sf0.1.)
        fresh = build_index(survivors, id_col, text_col)
        fresh_post = persist(fresh.postings)

        def _write_postings() -> None:
            write_token_sorted(
                fresh_post.withColumn("seg", F.lit(seg)),
                _seg_path(p, "postings", seg), postings_buckets, "token", "doc_id",
            )

        # doc-grain SEGMENTS: per-batch write volume is O(batch): the new
        # stats rows and the batch's scalar partial are segment files;
        # corpus state is never rewritten (the old design re-committed the
        # full doc_stats and LSH tables every batch — O(corpus) write
        # amplification at scale)
        new_stats = fresh_post.groupBy("doc_id").agg(
            F.sum("tf").alias("doc_len")
        )
        if prior_segs:
            alive_stats = _alive(_read_segments(spark, p, "doc_stats", prior_segs), cuts)
            # churn-sized: the replaced docs' OLD rows (for tombstones and
            # the retraction side of this segment's scalar partial)
            replaced_stats = persist(
                alive_stats.join(surv_ids, "doc_id", "left_semi")
            )

        def _write_doc_stats() -> None:
            new_stats.withColumn("seg", F.lit(seg)).write.mode(
                "overwrite"
            ).parquet(_seg_path(p, "doc_stats", seg))

        def _write_scalar() -> None:
            newagg = new_stats.agg(
                F.count("*").alias("n_new"),
                F.coalesce(F.sum("doc_len"), F.lit(0))
                .cast("long")
                .alias("sum_new"),
            )
            if replaced_stats is not None:
                repagg = replaced_stats.agg(
                    F.count("*").alias("n_rep"),
                    F.coalesce(F.sum("doc_len"), F.lit(0))
                    .cast("long")
                    .alias("sum_rep"),
                )
                partial = newagg.crossJoin(repagg)
            else:
                partial = newagg.select(
                    "n_new",
                    "sum_new",
                    F.lit(0).cast("long").alias("n_rep"),
                    F.lit(0).cast("long").alias("sum_rep"),
                )
            partial.select(
                F.lit(seg).cast("int").alias("seg"),
                F.col("n_new").cast("long").alias("n_new"),
                "sum_new",
                F.col("n_rep").cast("long").alias("n_rep"),
                "sum_rep",
            ).write.mode("overwrite").parquet(_seg_path(p, "scalar", seg))

        def _commit_tombstones() -> None:
            if replaced_stats is not None:
                tomb_new = replaced_stats.select("doc_id").withColumn(
                    "before_seg", F.lit(seg)
                )
                tombs = (
                    tomb_new
                    if tombs_df is None
                    else tombs_df.unionByName(tomb_new)
                ).distinct()
                commit_state(tombs, p["tombstones"])

        def _write_lsh() -> None:
            # LSH bucket segment (survivors' buckets, batch-sized)
            nb.join(surv_ids, "doc_id", "left_semi").withColumn(
                "seg", F.lit(seg)
            ).write.mode("overwrite").parquet(_seg_path(p, "lsh", seg))

        def _write_vectors() -> None:
            if vec_col is None:
                return
            from ..operators.similarity import lsh_bucket_int8, quantize_int8

            vecs = survivors.filter(F.col(vec_col).isNotNull()).select(
                F.col(id_col).alias("doc_id"), F.col(vec_col).alias("embedding")
            )
            q = quantize_int8(vecs, "doc_id", "embedding")
            b = lsh_bucket_int8(q, num_planes=num_planes, dim=dim).select(
                "doc_id", "bucket"
            )
            (
                vecs.join(b, "doc_id")
                .select(
                    "doc_id",
                    "embedding",
                    F.lit(seg).cast("int").alias("seg"),
                    F.col("bucket").cast("int").alias("bucket"),
                )
                .repartition(F.col("bucket"))
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(_seg_path(p, "vectors", seg))
            )

        if failpoint is None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=6) as ex:
                # ONE wave: all six pre-publish writes are mutually
                # independent (each lands at a seg-deterministic location,
                # invisible until the manifest flips), and the shared
                # persisted inputs (fresh_post, replaced_stats) are safe to
                # materialize concurrently — the block manager computes
                # each cached partition once, other submitters block on it.
                # The earlier 2-wave form made doc_stats/scalar/tombstones
                # wait for the postings/vector WRITES to finish, not just
                # the caches — a barrier that added a full write's latency
                # per batch for no correctness gain (the crash sweep pins
                # retry convergence for every completion order). Writers
                # inherit the caller's job group, so their jobs count there.
                writers = (_write_postings, _write_lsh, _write_vectors,
                           _write_doc_stats, _write_scalar, _commit_tombstones)
                inherit = inheritable_thread_target(spark)
                for f in [ex.submit(inherit(w)) for w in writers]:
                    f.result()
        else:
            _write_postings()
            _fp("postings")
            _write_doc_stats()
            _fp("doc_stats")
            _write_scalar()
            _fp("scalar")
            _commit_tombstones()
            _fp("tombstones")
            _write_lsh()
            _fp("lsh")
            _write_vectors()
            _fp("vectors")

        # ---- 6. PUBLISH: manifest commits last ------------------------------
        # batch_id rides in the same atomic commit as the segment pointer:
        # either both are live or neither, so the redelivery guard can never
        # disagree with what is actually published. The new manifest is
        # assembled DRIVER-side from the rows already collected at entry
        # (manifest-sized, the sanctioned envelope class) — the earlier
        # union+distinct formulation put a shuffle job on the publish
        # critical path to dedup rows the driver can dedup in microseconds.
        # Single-writer contract (foreachBatch is sequential) makes the
        # entry-time snapshot authoritative.
        prior = [(r["seg"], r["batch_id"]) for r in man_rows]
        man_new = list(dict.fromkeys(prior + [(seg, batch_id)]))
        man_df = spark.createDataFrame(man_new, SCHEMAS["manifest"])
        _fp("pre_publish")
        commit_state(man_df, p["manifest"])
        _fp("published")

        n_arrived = batch.count()
        n_indexed = survivors.count()
        return {
            "seg": seg,
            "arrived": n_arrived,
            "suppressed": n_arrived - n_indexed,
            "indexed": n_indexed,
            "segments": len(man_new),
        }


def _tombstone_cuts(tombstones: DataFrame | None, max_seg: int) -> dict:
    """doc_id -> cut (its latest ``before_seg``), collected once: the
    tombstones are churn-sized between compactions.

    ``max_seg``: ignore tombstones with before_seg > max_seg. A crashed
    attempt may have committed tombstones for a segment whose manifest
    entry never published; clamping to the max COMMITTED seg makes both the
    retry and every concurrent reader see exactly the pre-batch live
    state."""
    cuts: dict = {}
    if tombstones is not None:
        for r in tombstones.filter(F.col("before_seg") <= max_seg).collect():
            cuts[r["doc_id"]] = max(r["before_seg"], cuts.get(r["doc_id"], 0))
    return cuts


def _alive(rows: DataFrame, cuts: dict) -> DataFrame:
    """Drop tombstoned rows: a row of segment s for doc d is dead iff
    ``s < cuts[d]`` (the re-index segment's own rows survive). One literal
    clause per distinct cut value c (<= n_segments clauses, each tombstoned
    doc named once): NOT (seg < c AND doc_id IN docs cut at c) — a map-side
    filter, no aggregate or broadcast."""
    by_cut: dict[int, list] = {}
    for doc, cut in cuts.items():
        by_cut.setdefault(cut, []).append(doc)
    # sorted: the same tombstones always give the same plan
    for cut, docs in sorted(by_cut.items()):
        rows = rows.filter(
            ~((F.col("seg") < F.lit(cut)) & F.col("doc_id").isin(sorted(docs)))
        )
    return rows


def _read_segments(
    spark: SparkSession, p: dict, kind: str, segs: list[int]
) -> DataFrame | None:
    """One kind's segment directories read with the declared schema, so no
    read pays a schema-inference job: ONE multi-path relation (a single
    file listing, not one per segment). Vector segments are the exception:
    each is its own bucket-partitioned root, and Spark infers partitions
    under one root per relation, so they are unioned per segment. They may
    also be absent — a batch written without ``vec_col`` has none — so
    only the existing ones are read; None when there are none."""
    paths = [_seg_path(p, kind, s) for s in segs]
    if kind != "vectors":
        return spark.read.schema(SCHEMAS[kind]).parquet(*paths)
    reads = [
        spark.read.schema(SCHEMAS[kind]).parquet(x) for x in paths if os.path.isdir(x)
    ]
    return reduce(DataFrame.unionByName, reads) if reads else None


def _resolve(spark: SparkSession, p: dict, rows: list) -> tuple[SearchIndex, dict]:
    """The SearchIndex over a manifest's ``rows``, vectors included, and its
    tombstone cuts."""
    segs = [r["seg"] for r in rows]
    cuts = _tombstone_cuts(_state(spark, p, "tombstones"), segs[-1])
    # the token filter prunes the segments' token-sorted files through their
    # parquet dictionaries and statistics
    alive = _alive(_read_segments(spark, p, "postings", segs), cuts).drop("seg")
    doc_stats = _alive(_read_segments(spark, p, "doc_stats", segs), cuts).drop("seg")
    # exact integer sums of the <= n_segments partial rows, then ONE double
    # division: bit-identical to Spark's long-to-double cast and divide
    parts = _read_segments(spark, p, "scalar", segs).collect()
    n = sum(r["n_new"] for r in parts) - sum(r["n_rep"] for r in parts)
    s = sum(r["sum_new"] for r in parts) - sum(r["sum_rep"] for r in parts)
    avg_dl = float(s) / float(n) if n else None  # an empty corpus has none
    term_stats = alive.groupBy("token").agg(F.count("*").alias("df"))
    vecs = _read_segments(spark, p, "vectors", segs)
    idx = SearchIndex(
        postings=alive,
        doc_stats=doc_stats,
        term_stats=term_stats,
        corpus_values=(n, avg_dl),
        vectors=None if vecs is None else _alive(vecs, cuts),
    )
    return idx, cuts


def read_served_index(
    spark: SparkSession, base: str, manifest_version: int | None = None
) -> SearchIndex:
    """The live SearchIndex, resolved ONCE per snapshot: everything that is
    constant for the manifest is collected here, so a request only ranks.

    - Corpus constants: the <= n_segments scalar PARTIAL rows are collected
      and folded in Python — exact integer sums, one double division,
      bit-identical to an in-plan long-to-double divide. ``corpus_values``
      carries the pair: bm25_search scores with literals and ranks a
      request's posting lists in one task.
    - Tombstones: collected once (clamped to this manifest) and applied as
      literal filters (:func:`_alive`), so the snapshot no longer
      reads the tombstone state after this call returns.
    - Postings: the segments' files read by path as one parquet relation
      with the declared schema; the query-term filter prunes the
      token-sorted files. Any process can resolve a snapshot that another
      process wrote.
    - Vectors: the vector segments, filtered by the same tombstone cuts,
      as ``vectors`` (None when the loop ran without ``vec_col``) — the
      relation ``similarity.ann_lsh_served_vec`` serves with
      ``id_col="doc_id"``.

    doc_stats and term_stats stay lazy (BM25 never touches them — per-term
    df comes from the pruned posting lists). Call again after a publish:
    a resolved snapshot never sees later segments.

    ``manifest_version`` pins a previously committed manifest (state-store
    time travel): valid until :func:`vacuum_segments` reclaims that
    version's segments, it reads the exact point-in-time snapshot — the
    tombstone clamp (``before_seg <= that manifest's max seg``) hides any
    tombstones committed after it, so later replaces don't bleed in."""
    p = _paths(base)
    rows = _manifest(spark, p, manifest_version)
    if not rows:
        raise FileNotFoundError(f"no serving manifest committed under {base}")
    return _resolve(spark, p, rows)[0]


def compact_segments(
    spark: SparkSession,
    base: str,
    table_prefix: str,
    postings_buckets: int = 16,
    vacuum_now: bool = True,
) -> None:
    """Fold all live postings, doc-grain segments, and vectors into fresh
    base segments — Lucene's merge policy. Run off the serving path on a
    cadence sized by churn; between compactions a served snapshot carries
    a literal tombstone filter over the union of its segments.

    Crash-safe ordering: every folded segment is written FIRST, then the
    manifest flips to [new_seg] (folded rows carry seg=new_seg so old
    tombstones, whose before_seg <= old max, cannot kill them) — a crash at
    any point leaves a correct view.

    Compaction itself deletes NOTHING and does not touch the tombstones:
    a reader that resolved the previous manifest mid-query keeps both its
    segment files and the exact tombstone set those segments need. (The
    first design reset tombstones here; an old-manifest reader racing that
    reset would re-read the emptied tombstone state and resurrect replaced
    docs.) Old segments are reclaimed by :func:`vacuum_segments` — run it
    once the longest read SLA has elapsed since the manifest flip, or pass
    ``vacuum_now=True`` (the default, matching single-process use where no
    concurrent reader exists).

    ``table_prefix`` names nothing (segments are parquet directories); it
    keeps its positional slot so existing callers stay valid."""
    p = _paths(base)
    man_rows = _manifest(spark, p)
    if not man_rows:
        raise FileNotFoundError(f"no serving manifest committed under {base}")
    idx, cuts = _resolve(spark, p, man_rows)
    old_segs = [r["seg"] for r in man_rows]
    # the redelivery high-water mark must survive the fold: dropping it
    # would let a redelivered last batch re-apply after compaction
    applied = max(
        (r["batch_id"] for r in man_rows if r["batch_id"] is not None),
        default=None,
    )
    new_seg = old_segs[-1] + 1
    write_token_sorted(
        idx.postings.withColumn("seg", F.lit(new_seg)),
        _seg_path(p, "postings", new_seg), postings_buckets, "token", "doc_id",
    )
    idx.doc_stats.withColumn("seg", F.lit(new_seg).cast("int")).write.mode(
        "overwrite"
    ).parquet(_seg_path(p, "doc_stats", new_seg))
    idx.doc_stats.agg(
        F.count("*").alias("n_new"),
        F.coalesce(F.sum("doc_len"), F.lit(0)).cast("long").alias("sum_new"),
    ).select(
        F.lit(new_seg).cast("int").alias("seg"),
        F.col("n_new").cast("long").alias("n_new"),
        "sum_new",
        F.lit(0).cast("long").alias("n_rep"),
        F.lit(0).cast("long").alias("sum_rep"),
    ).write.mode("overwrite").parquet(_seg_path(p, "scalar", new_seg))
    _alive(_read_segments(spark, p, "lsh", old_segs), cuts).withColumn(
        "seg", F.lit(new_seg).cast("int")
    ).write.mode("overwrite").parquet(_seg_path(p, "lsh", new_seg))
    if idx.vectors is not None:
        (
            idx.vectors.select(
                "doc_id", "embedding", F.lit(new_seg).cast("int").alias("seg"), "bucket"
            )
            .repartition(F.col("bucket"))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(_seg_path(p, "vectors", new_seg))
        )
    commit_state(
        spark.createDataFrame([(new_seg, applied)], SCHEMAS["manifest"]),
        p["manifest"],
    )
    if vacuum_now:
        vacuum_segments(spark, base, table_prefix)


def vacuum_segments(spark: SparkSession, base: str, table_prefix: str) -> None:
    """Reclaim segments no longer referenced by the live manifest, and GC
    tombstones that can no longer kill any live row — Delta's VACUUM beside
    the state store's ``keep`` retention. Run on a cadence >= the longest
    read SLA after :func:`compact_segments`: everything vacuum deletes is
    exactly what an in-flight reader of a PRE-compaction manifest may still
    be touching, so the gap between flip and vacuum IS the read grace
    window.

    No bookkeeping state: reclaimable segments are discovered from disk as
    ``seg < max(live)`` and not in the manifest (a serve batch in flight
    writes only ``seg = max(live)+1``, never below, so it is untouchable by
    construction) — which also sweeps segments leaked by a compaction that
    crashed after its manifest flip. Idempotent and crash-safe: deletion
    order is irrelevant because nothing live is ever in the candidate set,
    and the tombstone GC rewrites state through the versioned commit.

    ``table_prefix`` names nothing; it keeps its positional slot so
    existing callers stay valid."""
    import re
    import shutil

    p = _paths(base)
    live = {r["seg"] for r in _manifest(spark, p)}
    if not live:
        return
    kinds = ("postings", "doc_stats", "lsh", "scalar", "vectors")
    seen: set[int] = set()
    for kind in kinds:
        # each kind's segments are "<prefix><seg>" entries of one directory
        root, prefix = os.path.split(_seg_path(p, kind, 0)[:-1])
        if os.path.isdir(root):
            for name in os.listdir(root):
                m = re.fullmatch(re.escape(prefix) + r"(\d+)", name)
                if m:
                    seen.add(int(m.group(1)))
    for s in sorted(seen - live):
        if s >= max(live):  # in-flight writer territory — never touch
            continue
        for kind in kinds:
            shutil.rmtree(_seg_path(p, kind, s), ignore_errors=True)
    # tombstone GC: (doc_id, before_seg=b) kills rows with seg < b only; once
    # every live row has seg >= b the tombstone is inert and safe to drop.
    tombs = _state(spark, p, "tombstones")
    if tombs is not None:
        inert = F.col("before_seg") <= min(live)
        if not tombs.filter(inert).isEmpty():
            commit_state(tombs.filter(~inert), p["tombstones"])


def serve_loop_sink(
    stream_df: DataFrame,
    spark: SparkSession,
    base: str,
    checkpoint: str,
    table_prefix: str,
    trigger_once: bool = True,
    auto_compact_max_segments: int | None = 8,
    **serve_kwargs,
):
    """The streaming composition: every micro-batch runs the full
    gate -> delta-index -> publish loop. Idempotent per batch (see module
    docstring), so exactly-once serving state over at-least-once delivery.
    ``table_prefix`` names nothing (see :func:`serve_batch`); it keeps its
    positional slot so existing callers stay valid.

    ``auto_compact_max_segments``: Lucene's merge policy for the loop —
    when a batch's publish leaves the manifest holding at least this many
    segments, :func:`compact_segments` runs inline before the next batch,
    so a long-running loop's per-read segment fan-in (manifest collect +
    per-segment unions + tombstone filter) stays bounded instead of
    growing with every batch forever. DEFAULT ON at 8 segments — a
    long-running loop without any operator attention must not degrade
    reads without bound (the r4 default of None did exactly that); pass
    ``None`` to disable and own the cadence externally (DEPLOY.md — e.g.
    a deployment with concurrent out-of-process readers compacting off
    the serving path with a read grace window).

    Crash-safe by ordering alone: compaction runs strictly AFTER the
    batch's manifest publish, and itself flips the manifest only after
    every folded segment is written — a crash mid-compaction leaves the
    multi-segment manifest live and the threshold simply re-triggers
    after the next batch; a redelivery after a post-compaction crash is
    skipped because the fold carries the batch_id high-water mark
    (test_redelivery_guard_survives_compaction). Inline vacuum is the
    single-writer default (compact_segments vacuum_now) — a deployment
    with concurrent out-of-process readers should instead compact off the
    serving path with a read grace window, per DEPLOY.md."""

    def _body(batch: DataFrame, batch_id: int) -> None:
        # batch_id threads into the manifest commit: a redelivered batch
        # (at-least-once foreachBatch) whose publish already succeeded is
        # skipped instead of re-gated against the post-batch corpus
        s = serve_batch(spark, batch, base, table_prefix, batch_id=batch_id, **serve_kwargs)
        cap = auto_compact_max_segments
        if cap is not None and s["segments"] >= cap:
            compact_segments(
                spark,
                base,
                table_prefix,
                postings_buckets=serve_kwargs.get("postings_buckets", 16),
            )

    writer = stream_df.writeStream.foreachBatch(_body).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
