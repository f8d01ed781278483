"""The full streaming serve loop end-to-end (r3 verdict ask #1): ingest a
micro-batch (one new doc + one near-dup) -> the gate suppresses the dup ->
postings AND LSH buckets AND the vector index delta-refresh -> served
keyword/vector search from the refreshed on-disk indexes returns the new
doc — with replay parity (served == batch-rebuilt, score-exact), crash-retry
convergence, compaction invariance, and the Structured Streaming sink."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.operators.similarity import (
    ann_lsh_served_vec,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
from job_search_engine_using_pyspark_solar_and_angular_spark.search import serve_loop
from job_search_engine_using_pyspark_solar_and_angular_spark.search.bm25 import (
    bm25_search,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
    build_index,
)

from .conftest import persisted_rdd_ids

DOCS = [
    (1, "spark shuffles partition data across executors for wide dependencies always"),
    (2, "bm25 ranks documents by term frequency and inverse document frequency weights"),
    (3, "parquet files store columns together enabling predicate pushdown and pruning"),
    (4, "watermarks bound streaming state by evicting windows older than the horizon"),
    (5, "broadcast joins ship the small dimension table to every executor core"),
    (6, "minhash signatures approximate jaccard similarity between shingled documents"),
]


def _emb(doc_id: int) -> list[float]:
    return [math.sin(0.1 * doc_id + 0.3 * d) for d in range(64)]


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, t, _emb(i)) for i, t in rows],
        "doc_id long, text string, embedding array<double>",
    )


def _prefix(tmp_path) -> str:
    return "sl_" + tmp_path.name.replace("-", "_").lower()


def _serve(spark, batch, base, prefix):
    return serve_loop.serve_batch(
        spark, batch, base, prefix, vec_col="embedding", postings_buckets=4
    )


def _ann(spark, base, query_vec, k):
    """Served ANN over the live snapshot's tombstone-filtered vectors."""
    vectors = serve_loop.read_served_index(spark, base).vectors
    return ann_lsh_served_vec(spark, vectors, query_vec, k=k, id_col="doc_id")


def _bm25_rows(spark, idx, terms, k=5):
    return [tuple(r) for r in bm25_search(spark, idx, terms, k=k).collect()]


@pytest.fixture()
def served(spark, tmp_path):
    base = str(tmp_path / "serving")
    prefix = _prefix(tmp_path)
    s1 = _serve(spark, _df(spark, DOCS), base, prefix)
    assert s1 == {"seg": 1, "arrived": 6, "suppressed": 0, "indexed": 6, "segments": 1}
    return base, prefix


def test_batch_with_near_dup_gated_and_served(spark, served, tmp_path):
    base, prefix = served
    new_doc = (100, "adaptive query execution replans stages from runtime statistics")
    dup_doc = (101, DOCS[0][1])  # near-dup arrival of doc 1 (identical text)
    s2 = _serve(spark, _df(spark, [new_doc, dup_doc]), base, prefix)
    assert s2 == {"seg": 2, "arrived": 2, "suppressed": 1, "indexed": 1, "segments": 2}

    idx = serve_loop.read_served_index(spark, base)
    hits = _bm25_rows(spark, idx, ["adaptive", "replans"])
    assert hits[0][0] == 100  # the new doc serves from the refreshed index
    assert 101 not in {h[0] for h in hits}

    # replay parity: served == full rebuild over the latest-wins corpus
    rebuilt = build_index(_df(spark, DOCS + [new_doc]), cache=True)
    for terms in (["adaptive", "replans"], ["documents"], ["spark", "executors"]):
        assert _bm25_rows(spark, idx, terms) == _bm25_rows(spark, rebuilt, terms)
    assert sorted(
        map(tuple, idx.postings.select("token", "doc_id", "doc_len", "tf").collect())
    ) == sorted(map(tuple, rebuilt.postings.collect()))
    assert [idx.corpus_values] == [tuple(r) for r in rebuilt.corpus_stats().collect()]

    # served ANN: the new doc's vector is retrievable, the suppressed one not
    top = _ann(spark, base, _emb(100), k=3).collect()
    assert top[0]["doc_id"] == 100 and top[0]["sim"] == 1.0
    assert 101 not in {r["doc_id"] for r in top}
    # a query of another length than the build dim fails, never null sims
    with pytest.raises(ValueError, match="query dim"):
        _ann(spark, base, _emb(100)[:10], k=3)


def test_replace_by_id_update_tombstones_old_postings(spark, served):
    base, prefix = served
    updated = (1, "kubernetes schedules containers onto nodes respecting resource quotas")
    s = _serve(spark, _df(spark, [updated]), base, prefix)
    assert s["indexed"] == 1 and s["suppressed"] == 0

    idx = serve_loop.read_served_index(spark, base)
    assert _bm25_rows(spark, idx, ["kubernetes"])[0][0] == 1
    # the OLD text's distinctive term no longer matches doc 1
    assert 1 not in {h[0] for h in _bm25_rows(spark, idx, ["shuffles"])}

    rebuilt = build_index(_df(spark, [updated] + DOCS[1:]), cache=True)
    for terms in (["kubernetes"], ["shuffles", "executors"], ["documents"]):
        assert _bm25_rows(spark, idx, terms) == _bm25_rows(spark, rebuilt, terms)
    assert [idx.corpus_values] == [tuple(r) for r in rebuilt.corpus_stats().collect()]

    # vector replace-by-id: doc 1 serves its NEW embedding only
    vec_new = [float((d * 7) % 13 - 6) for d in range(64)]
    s2 = serve_loop.serve_batch(
        spark,
        spark.createDataFrame(
            [(1, "kubernetes schedules containers onto nodes respecting quotas v2", vec_new)],
            "doc_id long, text string, embedding array<double>",
        ),
        base,
        prefix,
        vec_col="embedding",
        postings_buckets=4,
    )
    assert s2["indexed"] == 1
    top = _ann(spark, base, vec_new, k=2).collect()
    assert top[0]["doc_id"] == 1 and top[0]["sim"] == 1.0
    old_hits = _ann(spark, base, _emb(1), k=6).collect()
    assert all(not (r["doc_id"] == 1 and r["sim"] == 1.0) for r in old_hits)


def test_resolved_snapshot_outlives_tombstone_versions(spark, served):
    """read_served_index resolves a snapshot: its tombstones are collected
    when it is called, not re-read per request. Two later batches each
    commit a tombstone version, and commit_state keeps only 2 — so the
    version this snapshot resolved is pruned from disk. The old snapshot
    must still answer, with its own point-in-time results."""
    import os

    base, prefix = served
    _serve(spark, _df(spark, [(1, "kubernetes schedules containers onto nodes")]), base, prefix)
    old = serve_loop.read_served_index(spark, base)
    terms = (["kubernetes"], ["shuffles"], ["bm25", "documents"], ["parquet"])
    want = {tuple(t): _bm25_rows(spark, old, t) for t in terms}
    assert want[("shuffles",)] == []  # doc 1's old text is tombstoned
    assert want[("kubernetes",)][0][0] == 1
    assert want[("bm25", "documents")][0][0] == 2

    _serve(spark, _df(spark, [(2, "zookeeper elects a leader among ensemble nodes")]), base, prefix)
    _serve(spark, _df(spark, [(3, "iceberg snapshots isolate concurrent table readers")]), base, prefix)
    assert not os.path.isdir(f"{base}/tombstones/v=1")  # pruned

    for t in terms:
        assert _bm25_rows(spark, old, list(t)) == want[tuple(t)]
    # the live snapshot moved on: doc 2's old text is gone there
    live = serve_loop.read_served_index(spark, base)
    assert 2 not in {h[0] for h in _bm25_rows(spark, live, ["bm25", "documents"])}


def test_index_files_need_no_catalog(spark, tmp_path):
    """Every index is plain parquet read back by path. Serving two batches
    (one a replace-by-id), compacting, write_index and write_positional
    leave the session catalog as it was, and each index answers as the
    in-memory rebuild does. A manifest committed in the older layout
    (``seg, table``, no ``batch_id``) still resolves and compacts."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.index import (
        build_positional_postings,
        phrase_from_postings,
        read_index,
        write_index,
        write_positional,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        commit_state,
    )

    tables = sorted(t.name for t in spark.catalog.listTables())
    base, prefix = str(tmp_path / "serving"), _prefix(tmp_path)
    updated = (1, "kubernetes schedules containers onto nodes respecting resource quotas")
    _serve(spark, _df(spark, DOCS), base, prefix)
    _serve(spark, _df(spark, [updated]), base, prefix)
    latest = _df(spark, [updated] + DOCS[1:])
    rebuilt = build_index(latest, cache=True)
    terms = (["kubernetes"], ["shuffles"], ["bm25", "documents"], ["spark", "executors"])

    def answers(idx):
        return {tuple(t): _bm25_rows(spark, idx, t) for t in terms}

    want = answers(rebuilt)
    assert want[("shuffles",)] == [] and want[("kubernetes",)][0][0] == 1
    assert answers(serve_loop.read_served_index(spark, base)) == want

    commit_state(
        spark.createDataFrame(
            [(1, f"{prefix}_seg1"), (2, f"{prefix}_seg2")], "seg int, table string"
        ),
        f"{base}/manifest",
    )
    assert answers(serve_loop.read_served_index(spark, base)) == want
    serve_loop.compact_segments(spark, base, prefix, postings_buckets=4)
    assert answers(serve_loop.read_served_index(spark, base)) == want

    write_index(rebuilt, str(tmp_path / "idx"), buckets=4)
    assert answers(read_index(spark, str(tmp_path / "idx"))) == want
    pos = build_positional_postings(latest)
    write_positional(pos, str(tmp_path / "pos"), buckets=4)
    served = spark.read.parquet(str(tmp_path / "pos"))
    for phrase in (["schedules", "containers"], ["term", "frequency"]):
        got = phrase_from_postings(served, phrase).collect()
        assert len(got) == 1 and got == phrase_from_postings(pos, phrase).collect()

    assert sorted(t.name for t in spark.catalog.listTables()) == tables


def test_read_served_index_job_count(spark, served):
    """Deterministic cost counter for resolving a served snapshot (the way
    test_served_keyword_request_job_count pins a request): over two
    segments and a tombstone, read_served_index runs 3 Spark jobs — one
    collect each of the manifest, the tombstones and the corpus partials.
    Every read names its declared schema, so none pays a schema-inference
    job (that form ran 9)."""
    base, prefix = served
    _serve(spark, _df(spark, [(1, "kubernetes schedules containers onto nodes")]), base, prefix)
    serve_loop.read_served_index(spark, base)  # warm: the same jobs
    with profiled("resolve one served snapshot") as led:
        idx = serve_loop.read_served_index(spark, base)
    assert idx.corpus_values[0] == len(DOCS) and idx.vectors is not None
    assert led.jobs == 3


def test_served_rank_equals_in_session_rank(spark, tmp_path):
    """The served rank (the query's pruned posting lists scored in one
    task, df a window count over them) must give the in-session rank's
    rows over the same live docs, for an unpaged request, a ``start`` page
    and an ``after`` page. The snapshot has two segments, a replaced doc
    whose old text holds both query terms (df counting its tombstoned
    postings changes every idf), a term whose postings span both segments
    and two docs that tie on score (the cursor sits between them)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.search.api import (
        rank_keyword,
    )

    seg1 = [
        (1, "kafka stream ingest kafka offsets commit"),
        (2, "kafka offsets commit quickly"),
        (3, "kafka brokers replicate logs"),
        (4, "stream joins need watermarks"),
        (5, "batch jobs read parquet files"),
    ]
    seg2 = [
        (1, "kafka replaced text for the first doc"),
        (6, "kafka stream sinks exactly once"),
    ]
    base, prefix = str(tmp_path / "serving"), _prefix(tmp_path)

    def text_df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    for seg in (seg1, seg2):
        serve_loop.serve_batch(spark, text_df(seg), base, prefix, postings_buckets=4)
    served = serve_loop.read_served_index(spark, base)
    live = dict(seg1)
    live.update(seg2)
    in_session = build_index(text_df(sorted(live.items())), cache=True)

    def rank(idx, **kw):
        return [tuple(r) for r in rank_keyword(spark, idx, "kafka stream", **kw).collect()]

    full = rank(in_session, k=10)
    assert [d for d, _ in full] == [6, 4, 2, 3, 1]
    assert full[2][1] == full[3][1]  # docs 2 and 3 tie
    cursor = (full[2][1], full[2][0])  # (score, doc_id) of doc 2
    for kw in ({"k": 10}, {"k": 3}, {"k": 2, "start": 2}, {"k": 2, "after": cursor}):
        assert rank(served, **kw) == rank(in_session, **kw), kw
    assert rank(served, k=2, after=cursor) == full[3:]


def test_vector_search_served_job_count(spark, served):
    """Deterministic cost counter for one served ANN query over two
    segments and a tombstone: the snapshot resolved the manifest and the
    tombstones once, so the query runs 1 Spark job — the probed buckets'
    top-k. Resolving them per query ran 3."""
    base, prefix = served
    _serve(spark, _df(spark, [(1, "kubernetes schedules containers onto nodes")]), base, prefix)
    vectors = serve_loop.read_served_index(spark, base).vectors
    ann_lsh_served_vec(spark, vectors, _emb(1), k=3, id_col="doc_id").collect()  # warm
    with profiled("one served vector query") as led:
        top = ann_lsh_served_vec(spark, vectors, _emb(1), k=3, id_col="doc_id").collect()
    # doc 1's replaced vector (the same embedding) is tombstoned
    assert [r["doc_id"] for r in top].count(1) == 1 and top[0]["sim"] == 1.0
    assert led.jobs == 1


def test_delta_serve_batch_job_count(spark, served):
    """The ledger of one delta batch (a new doc, a near-dup and a
    replace-by-id) holds every job the batch submits: the six parallel
    segment writers inherit the caller's job group. The total itself is not
    fixed — the writers race to fill the persisted inputs they share, and
    whichever fills one first changes how many jobs the others submit
    (35-38 here) — so the pin is that none escapes: the group's count equals
    the scheduler's job-id delta. Counting only the main thread's jobs left
    19 of them in the group."""
    base, prefix = served
    batch = _df(spark, [
        (100, "adaptive query execution replans stages from runtime statistics"),
        (101, DOCS[0][1]),
        (1, "kubernetes schedules containers onto nodes"),
    ])
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before, first_job = persisted_rdd_ids(spark), scheduler.nextJobId()
    with profiled("one delta serve batch") as led:
        s = _serve(spark, batch, base, prefix)
    assert not persisted_rdd_ids(spark) - before
    assert s == {"seg": 2, "arrived": 3, "suppressed": 1, "indexed": 2, "segments": 2}
    assert led.jobs == scheduler.nextJobId() - first_job
    assert led.jobs > 19


def test_crash_before_manifest_publish_retry_converges(spark, tmp_path):
    """Kill the batch at the LAST commit (everything updated, manifest not
    published), retry it in full: the served state must equal a clean run's
    — the idempotence design (overwrite segments, anti+union state merges,
    re-derived scalars) exercised for real."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming import (
        state_store,
    )

    clean, crashy = str(tmp_path / "clean"), str(tmp_path / "crashy")
    pc, pk = _prefix(tmp_path) + "c", _prefix(tmp_path) + "k"
    b2 = [(100, "adaptive query execution replans stages from runtime statistics"),
          (101, DOCS[0][1])]
    _serve(spark, _df(spark, DOCS), clean, pc)
    _serve(spark, _df(spark, b2), clean, pc)

    _serve(spark, _df(spark, DOCS), crashy, pk)
    real_commit = serve_loop.commit_state
    calls = {"n": 0}

    def crash_on_manifest(df, target_path, keep=2):
        calls["n"] += 1
        if target_path.endswith("/manifest"):
            raise RuntimeError("injected crash before publish")
        return real_commit(df, target_path, keep=keep)

    serve_loop.commit_state = crash_on_manifest
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            _serve(spark, _df(spark, b2), crashy, pk)
    finally:
        serve_loop.commit_state = real_commit
    # Structured Streaming retries the whole batch
    s = _serve(spark, _df(spark, b2), crashy, pk)
    assert s["seg"] == 2 and s["indexed"] == 1

    ic = serve_loop.read_served_index(spark, clean)
    ik = serve_loop.read_served_index(spark, crashy)
    cols = ["token", "doc_id", "doc_len", "tf"]
    assert sorted(map(tuple, ik.postings.select(cols).collect())) == sorted(
        map(tuple, ic.postings.select(cols).collect())
    )
    assert ik.corpus_values == ic.corpus_values
    for terms in (["adaptive"], ["spark", "executors"]):
        assert _bm25_rows(spark, ik, terms) == _bm25_rows(spark, ic, terms)
    assert [tuple(r) for r in _ann(spark, crashy, _emb(100), k=3).collect()] == [
        tuple(r) for r in _ann(spark, clean, _emb(100), k=3).collect()
    ]


def test_compaction_preserves_served_results(spark, served):
    base, prefix = served
    _serve(
        spark,
        _df(spark, [(100, "adaptive query execution replans stages from runtime statistics"),
                    (1, "kubernetes schedules containers onto nodes respecting resource quotas")]),
        base,
        prefix,
    )
    before_kw = {
        t: _bm25_rows(spark, serve_loop.read_served_index(spark, base), [t])
        for t in ("kubernetes", "adaptive", "documents")
    }
    before_vec = [
        tuple(r)
        for r in _ann(spark, base, _emb(100), k=4).collect()
    ]
    serve_loop.compact_segments(spark, base, prefix, postings_buckets=4)

    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        read_state,
    )

    man = read_state(spark, f"{base}/manifest")
    assert man.count() == 1  # folded to one base segment
    assert read_state(spark, f"{base}/tombstones").count() == 0
    idx = serve_loop.read_served_index(spark, base)
    for t, want in before_kw.items():
        assert _bm25_rows(spark, idx, [t]) == want
    assert [
        tuple(r)
        for r in _ann(spark, base, _emb(100), k=4).collect()
    ] == before_vec


def test_serve_loop_sink_streaming(spark, tmp_path):
    """The actual Structured Streaming composition: micro-batches from a file
    source drive the same loop; after the stream drains, served results
    equal the sequential serve_batch runs'."""
    src = str(tmp_path / "src")
    base, prefix = str(tmp_path / "serving"), _prefix(tmp_path) + "s"
    seq_base, seq_prefix = str(tmp_path / "seq"), _prefix(tmp_path) + "q"

    b1 = _df(spark, DOCS)
    b2 = _df(spark, [(100, "adaptive query execution replans stages from runtime statistics"),
                     (101, DOCS[0][1])])
    b1.coalesce(1).write.mode("append").parquet(src)
    _serve(spark, b1, seq_base, seq_prefix)

    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = serve_loop.serve_loop_sink(
        stream,
        spark,
        base,
        str(tmp_path / "ckpt"),
        prefix,
        vec_col="embedding",
        postings_buckets=4,
    )
    q.awaitTermination(120)
    b2.coalesce(1).write.mode("append").parquet(src)
    _serve(spark, b2, seq_base, seq_prefix)
    q2 = serve_loop.serve_loop_sink(
        stream,
        spark,
        base,
        str(tmp_path / "ckpt"),
        prefix,
        vec_col="embedding",
        postings_buckets=4,
    )
    q2.awaitTermination(120)

    i_stream = serve_loop.read_served_index(spark, base)
    i_seq = serve_loop.read_served_index(spark, seq_base)
    cols = ["token", "doc_id", "doc_len", "tf"]
    assert sorted(map(tuple, i_stream.postings.select(cols).collect())) == sorted(
        map(tuple, i_seq.postings.select(cols).collect())
    )
    assert _bm25_rows(spark, i_stream, ["adaptive"])[0][0] == 100
    top = _ann(spark, base, _emb(100), k=2).collect()
    assert top[0]["doc_id"] == 100 and top[0]["sim"] == 1.0


def test_text_only_loop_has_no_vector_tier(spark, tmp_path):
    """vec_col=None (a corpus without embeddings) is a first-class mode:
    keyword serving and compaction work; the ANN tier reports itself absent
    instead of crashing on missing segment dirs."""
    base, prefix = str(tmp_path / "srv"), _prefix(tmp_path) + "t"
    s = serve_loop.serve_batch(
        spark,
        spark.createDataFrame(DOCS, "doc_id long, text string"),
        base, prefix, postings_buckets=4,
    )
    assert s["indexed"] == 6
    idx = serve_loop.read_served_index(spark, base)
    before = _bm25_rows(spark, idx, ["spark"])
    assert before[0][0] == 1
    assert idx.vectors is None
    serve_loop.compact_segments(spark, base, prefix, postings_buckets=4)
    idx2 = serve_loop.read_served_index(spark, base)
    assert _bm25_rows(spark, idx2, ["spark"]) == before


def test_delta_segments_are_batch_sized(spark, served):
    """The O(batch) write-volume claim, pinned on disk: a 2-doc delta batch
    (1 survivor) writes segment files containing ONLY that batch's rows —
    never a rewrite of corpus-sized stats or bucket state."""
    base, prefix = served
    s = _serve(
        spark,
        _df(spark, [(100, "adaptive query execution replans stages from runtime statistics"),
                    (101, DOCS[0][1])]),
        base, prefix,
    )
    assert s == {"seg": 2, "arrived": 2, "suppressed": 1, "indexed": 1, "segments": 2}
    stats2 = spark.read.parquet(f"{base}/doc_stats/seg2")
    assert [r["doc_id"] for r in stats2.collect()] == [100]
    lsh2 = spark.read.parquet(f"{base}/lsh_buckets/seg2")
    assert {r["doc_id"] for r in lsh2.collect()} == {100}
    scal2 = spark.read.parquet(f"{base}/corpus_stats/seg2").collect()
    assert len(scal2) == 1 and scal2[0]["n_new"] == 1 and scal2[0]["n_rep"] == 0
    # seg-1 state untouched by the delta (append-only, no rewrite)
    assert spark.read.parquet(f"{base}/doc_stats/seg1").count() == len(DOCS)


def test_compaction_grace_window_for_inflight_readers(spark, served):
    """The concurrent-reader race compaction must not lose: a reader that
    resolved the manifest BEFORE the compaction flip keeps reading a
    consistent snapshot afterwards. Compaction deletes nothing and leaves
    the tombstones alone (the first design reset them here — an old-manifest
    reader re-reading the emptied tombstone state would resurrect doc 1's
    replaced postings); vacuum_segments, run after the grace window, is
    what reclaims the old segments and the now-inert tombstones."""
    import os

    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        current_version,
        read_state,
    )

    base, prefix = served
    _serve(
        spark,
        _df(spark, [(100, "adaptive query execution replans stages from runtime statistics"),
                    (1, "kubernetes schedules containers onto nodes respecting resource quotas")]),
        base,
        prefix,
    )
    v_pre = current_version(f"{base}/manifest")
    pre = {
        t: _bm25_rows(spark, serve_loop.read_served_index(spark, base), [t])
        for t in ("shuffles", "kubernetes", "adaptive", "documents")
    }
    assert pre["shuffles"] == []  # doc 1's OLD text is tombstoned
    assert pre["kubernetes"][0][0] == 1 and pre["adaptive"][0][0] == 100

    serve_loop.compact_segments(spark, base, prefix, postings_buckets=4, vacuum_now=False)

    # old segments + tombstones intact on disk: the pinned reader is whole
    assert os.path.isdir(f"{base}/doc_stats/seg1")
    assert read_state(spark, f"{base}/tombstones").count() > 0
    idx_old = serve_loop.read_served_index(spark, base, manifest_version=v_pre)
    for t, want in pre.items():
        assert _bm25_rows(spark, idx_old, [t]) == want  # no resurrection
    idx_live = serve_loop.read_served_index(spark, base)
    for t, want in pre.items():
        assert _bm25_rows(spark, idx_live, [t]) == want

    serve_loop.vacuum_segments(spark, base, prefix)
    for s in (1, 2):
        assert not os.path.isdir(f"{base}/doc_stats/seg{s}")
        assert not os.path.isdir(f"{base}/postings_seg{s}")
    assert read_state(spark, f"{base}/tombstones").count() == 0  # all inert
    idx2 = serve_loop.read_served_index(spark, base)
    for t, want in pre.items():
        assert _bm25_rows(spark, idx2, [t]) == want


def test_vacuum_sweeps_leaked_segments_spares_inflight(spark, served):
    """vacuum discovers reclaimable segments from disk (< max live seg and
    unreferenced), so segments leaked by a compaction that crashed after its
    manifest flip are swept too — while a seg ABOVE the live max (an
    in-flight serve batch's half-written segment) is never touched."""
    import os
    import shutil

    base, prefix = served
    _serve(
        spark,
        _df(spark, [(100, "adaptive query execution replans stages from runtime statistics")]),
        base,
        prefix,
    )
    serve_loop.compact_segments(spark, base, prefix, postings_buckets=4, vacuum_now=False)
    # fabricate an in-flight writer: seg 9 dirs exist, manifest doesn't know it
    shutil.copytree(f"{base}/doc_stats/seg1", f"{base}/doc_stats/seg9")
    serve_loop.vacuum_segments(spark, base, prefix)
    assert not os.path.isdir(f"{base}/doc_stats/seg1")
    assert not os.path.isdir(f"{base}/doc_stats/seg2")
    assert os.path.isdir(f"{base}/doc_stats/seg3")  # the folded live segment
    assert os.path.isdir(f"{base}/doc_stats/seg9")  # in-flight: spared
    idx = serve_loop.read_served_index(spark, base)
    assert _bm25_rows(spark, idx, ["adaptive"])[0][0] == 100


# ---------------------------------------------------------------------------
# every-failpoint crash sweep: a crash at EACH durable-mutation boundary,
# then the Structured Streaming retry (same batch, same batch_id), must
# converge to the clean run — including post-publish redelivery, which is
# the case raw re-application does NOT handle (see serve_batch docstring)
# and the batch_id guard exists for.
# ---------------------------------------------------------------------------

B2 = [
    (100, "adaptive query execution replans stages from runtime statistics"),
    (101, DOCS[0][1]),  # near-dup of doc 1's OLD text -> gated out
    (1, "kubernetes schedules containers onto nodes respecting resource quotas"),
]
CRASH_LABELS = [
    "gated", "postings", "doc_stats", "scalar", "tombstones", "lsh",
    "vectors", "pre_publish", "published",
]


def _served_fingerprint(spark, base):
    idx = serve_loop.read_served_index(spark, base)
    return {
        "postings": sorted(
            map(tuple, idx.postings.select("token", "doc_id", "doc_len", "tf").collect())
        ),
        "corpus": idx.corpus_values,
        "bm25": {
            t: _bm25_rows(spark, idx, [t])
            for t in ("adaptive", "kubernetes", "shuffles", "documents")
        },
        "vec": [
            tuple(r)
            for r in _ann(spark, base, _emb(100), k=3).collect()
        ],
    }


@pytest.fixture(scope="module")
def crash_ref(spark, tmp_path_factory):
    """The clean two-batch run's served state, computed once for the sweep."""
    tmp = tmp_path_factory.mktemp("crashref")
    base, prefix = str(tmp / "srv"), "sl_crashref"
    serve_loop.serve_batch(
        spark, _df(spark, DOCS), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=0,
    )
    s = serve_loop.serve_batch(
        spark, _df(spark, B2), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=1,
    )
    assert s == {"seg": 2, "arrived": 3, "suppressed": 1, "indexed": 2, "segments": 2}
    fp = _served_fingerprint(spark, base)
    # doc 1's old text is fully replaced: its signature term matches nothing
    assert fp["bm25"]["shuffles"] == []
    assert fp["bm25"]["kubernetes"][0][0] == 1
    return fp


@pytest.mark.parametrize("label", CRASH_LABELS)
def test_crash_sweep_every_failpoint_converges(spark, tmp_path, crash_ref, label):
    base, prefix = str(tmp_path / "srv"), _prefix(tmp_path)
    serve_loop.serve_batch(
        spark, _df(spark, DOCS), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=0,
    )
    before = persisted_rdd_ids(spark)

    def fp(lbl):
        if lbl == label:
            raise RuntimeError(f"injected crash at {lbl}")

    with pytest.raises(RuntimeError, match=f"injected crash at {label}"):
        serve_loop.serve_batch(
            spark, _df(spark, B2), base, prefix,
            vec_col="embedding", postings_buckets=4, batch_id=1, failpoint=fp,
        )
    s = serve_loop.serve_batch(
        spark, _df(spark, B2), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=1,
    )
    # neither the crashed attempt nor the retry leaves cached blocks behind
    assert not persisted_rdd_ids(spark) - before
    if label == "published":
        # the crash hit AFTER the manifest flip: the batch is live, and the
        # retry must NOT re-apply (re-gating against the post-batch corpus
        # would admit doc 101 — its corpus twin's old text is tombstoned by
        # now); the batch_id high-water mark in the manifest skips it
        assert s == {"skipped": True, "batch_id": 1, "applied": 1, "segments": 2}
    else:
        assert s == {
            "seg": 2, "arrived": 3, "suppressed": 1, "indexed": 2, "segments": 2
        }
    assert _served_fingerprint(spark, base) == crash_ref


def test_redelivery_guard_survives_compaction(spark, tmp_path, crash_ref):
    """The batch_id high-water mark rides the compaction fold: redelivering
    the last batch after compact_segments is still a skip, and the served
    state (including the gated near-dup staying out) is unchanged."""
    base, prefix = str(tmp_path / "srv"), _prefix(tmp_path)
    serve_loop.serve_batch(
        spark, _df(spark, DOCS), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=0,
    )
    serve_loop.serve_batch(
        spark, _df(spark, B2), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=1,
    )
    serve_loop.compact_segments(spark, base, prefix, postings_buckets=4)
    s = serve_loop.serve_batch(
        spark, _df(spark, B2), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=1,
    )
    # the fold left one segment, and the skip reports that manifest
    assert s == {"skipped": True, "batch_id": 1, "applied": 1, "segments": 1}
    assert _served_fingerprint(spark, base) == crash_ref


def test_parallel_writes_equal_sequential(spark, tmp_path, crash_ref):
    """serve_batch runs its independent pre-publish segment writes from a
    thread pool when no failpoint is active; with a failpoint it runs them
    in the pinned sequential label order. Both paths must produce
    hash-identical served state (crash_ref is the clean PARALLEL run;
    here the same two batches run fully sequential via a no-op
    failpoint)."""
    base, prefix = str(tmp_path / "srv"), _prefix(tmp_path)
    noop = lambda lbl: None  # noqa: E731 — forces the sequential branch
    serve_loop.serve_batch(
        spark, _df(spark, DOCS), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=0, failpoint=noop,
    )
    s = serve_loop.serve_batch(
        spark, _df(spark, B2), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=1, failpoint=noop,
    )
    assert s == {"seg": 2, "arrived": 3, "suppressed": 1, "indexed": 2, "segments": 2}
    assert _served_fingerprint(spark, base) == crash_ref


def test_sink_auto_compaction_bounds_segments(spark, tmp_path):
    """auto_compact_max_segments: a 4-batch stream with threshold 2 keeps
    the manifest bounded (compaction folds after every batch once >= 2
    segments exist) while serving state stays hash-identical to the same
    batches through an uncompacted sink — merge policy changes cost, never
    results."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        read_state,
    )

    batches = [
        _df(spark, DOCS),
        _df(spark, [(100, "adaptive query execution replans stages from runtime statistics")]),
        _df(spark, [(1, "kubernetes schedules containers onto nodes respecting resource quotas"),
                    (101, DOCS[0][1])]),  # replace doc 1 + near-dup of its OLD text
        _df(spark, [(102, "columnar shuffles compress sorted runs before network transfer")]),
    ]
    src = str(tmp_path / "src")
    bases = {
        "auto": (str(tmp_path / "auto"), _prefix(tmp_path) + "a", 2),
        "plain": (str(tmp_path / "plain"), _prefix(tmp_path) + "p", None),
    }
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        for name, (base, prefix, thresh) in bases.items():
            q = serve_loop.serve_loop_sink(
                stream, spark, base, str(tmp_path / f"ck_{name}"), prefix,
                vec_col="embedding", postings_buckets=4,
                auto_compact_max_segments=thresh,
            )
            q.awaitTermination(120)

    auto_base = bases["auto"][0]
    plain_base = bases["plain"][0]
    # bounded: the post-batch fold leaves exactly ONE live segment whenever
    # the threshold was reached; never more than thresh
    n_live = read_state(spark, serve_loop._paths(auto_base)["manifest"]).count()
    assert n_live <= 2
    assert read_state(
        spark, serve_loop._paths(plain_base)["manifest"]
    ).count() == 4
    assert _served_fingerprint(spark, auto_base) == _served_fingerprint(
        spark, plain_base
    )


def test_parallel_wave1_write_failure_retry_converges(spark, tmp_path, crash_ref):
    """Crash injection in the PARALLEL path (the branch production actually
    runs — the failpoint sweep above exercises only the sequential branch):
    one wave-1 write (_write_vectors, via its lsh_bucket_int8 call) raises
    while its sibling wave-1 writes run concurrently and keep writing.
    The batch must fail before publish (manifest not flipped), and the
    plain retry must converge to the clean parallel fingerprint — partial
    sibling segment files from the failed attempt are invisible (manifest
    commits last) and overwritten idempotently."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators import (
        similarity,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        read_state,
    )

    base, prefix = str(tmp_path / "srv"), _prefix(tmp_path)
    serve_loop.serve_batch(
        spark, _df(spark, DOCS), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=0,
    )

    real = similarity.lsh_bucket_int8

    def exploding(*args, **kwargs):
        raise RuntimeError("injected wave-1 parallel write failure")

    similarity.lsh_bucket_int8 = exploding
    try:
        with pytest.raises(RuntimeError, match="injected wave-1"):
            serve_loop.serve_batch(
                spark, _df(spark, B2), base, prefix,
                vec_col="embedding", postings_buckets=4, batch_id=1,
            )
    finally:
        similarity.lsh_bucket_int8 = real

    # the failed attempt must NOT have published: manifest still at seg 1
    man = read_state(spark, serve_loop._paths(base)["manifest"])
    assert man.count() == 1

    s = serve_loop.serve_batch(
        spark, _df(spark, B2), base, prefix,
        vec_col="embedding", postings_buckets=4, batch_id=1,
    )
    assert s == {"seg": 2, "arrived": 3, "suppressed": 1, "indexed": 2, "segments": 2}
    assert _served_fingerprint(spark, base) == crash_ref
