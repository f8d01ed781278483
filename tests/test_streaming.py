"""Structured Streaming tests: replay parity with the batch declared queries
(the driver's oracle covers batch; these pin stream==batch), incremental
latest-wins merge, and per-window trending top-k.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
    latest_wins,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
    read_state,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.streaming import (
    latest_wins_merge_sink,
    stream_parquet,
    streaming_dedup,
    trending_topk,
    windowed_counts,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
    topk_per_window,
)

from .conftest import SF_DIR, canon_rows, persisted_rdd_ids


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events fixture re-written as a clean µs-timestamp parquet dir the
    streaming file source can read (two files -> >=2 micro-batches)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(2).write.mode("overwrite").parquet(path)
    return path


def _stream_schema(spark, path):
    return spark.read.parquet(path).schema


def test_windowed_counts_replay_parity(spark, events_dir, tmp_path):
    """Streaming replay of Q23 == batch Q23 (same 1-hour tumbling window)."""
    schema = _stream_schema(spark, events_dir)
    stream = stream_parquet(spark, events_dir, schema)
    agg = windowed_counts(
        stream, ts_col="ts", group_cols=["event_type"], window="1 hour",
        value_col="value",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .option("maxFilesPerTrigger", "1")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("win_counts")

    batch = load_table(spark, SF_DIR, "events")
    want = windowed_counts(
        batch, ts_col="ts", group_cols=["event_type"], window="1 hour",
        value_col="value",
    )
    g = canon_rows(got.columns, [tuple(r) for r in got.collect()])
    w = canon_rows(want.columns, [tuple(r) for r in want.collect()])
    assert g == w


def test_sliding_window_replay_parity(spark, events_dir, tmp_path):
    """Streaming hopping window (1h every 15m) == the batch sliding form
    (ext_sliding_window's semantics): overlap fan-out and watermarked state
    agree with a full replay."""
    schema = _stream_schema(spark, events_dir)
    stream = stream_parquet(spark, events_dir, schema)
    agg = windowed_counts(
        stream, ts_col="ts", group_cols=["event_type"], window="1 hour",
        value_col="value", slide="15 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_slide"))
        .option("maxFilesPerTrigger", "1")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table("slide_counts")

    batch = load_table(spark, SF_DIR, "events")
    want = windowed_counts(
        batch, ts_col="ts", group_cols=["event_type"], window="1 hour",
        value_col="value", slide="15 minutes",
    )
    g = canon_rows(got.columns, [tuple(r) for r in got.collect()])
    w = canon_rows(want.columns, [tuple(r) for r in want.collect()])
    assert g == w


def test_latest_wins_merge_incremental(spark, tmp_path):
    """Two micro-batched stream runs == one batch latest-wins over the union
    (the reference's per-batch re-index upsert, SolrIndexer.java:25-45)."""
    ev = load_table(spark, SF_DIR, "events").cache()
    stream_dir = str(tmp_path / "in")
    target = str(tmp_path / "target")
    ck = str(tmp_path / "ck")
    schema = ev.schema

    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(stream_dir)

    def run_once():
        q = latest_wins_merge_sink(
            stream_parquet(spark, stream_dir, schema),
            spark,
            target,
            key_cols=["user_id"],
            order_col="ts",
            checkpoint=ck,
        )
        q.awaitTermination(120)

    run_once()
    # second batch arrives as new files; same checkpoint -> only new data read
    half2.write.mode("append").parquet(stream_dir)
    run_once()

    got = read_state(spark, target)
    want = latest_wins(ev, ["user_id"], "ts", ["event_id"])
    # compare per-user freshest timestamp (ties on ts are tiebreak-dependent)
    g = sorted(tuple(r) for r in got.select("user_id", "ts").collect())
    w = sorted(tuple(r) for r in want.select("user_id", "ts").collect())
    assert g == w
    ev.unpersist()


def test_merge_sink_idempotent_replay(spark, tmp_path):
    """Replaying the same batch (fresh checkpoint, same data) leaves the
    target unchanged — the exactly-once-results property."""
    ev = load_table(spark, SF_DIR, "events")
    stream_dir = str(tmp_path / "in")
    target = str(tmp_path / "target")
    ev.write.mode("overwrite").parquet(stream_dir)
    schema = ev.schema

    for i, ck in enumerate(("ck1", "ck2")):  # second run = full replay
        q = latest_wins_merge_sink(
            stream_parquet(spark, stream_dir, schema),
            spark,
            target,
            key_cols=["user_id"],
            order_col="ts",
            checkpoint=str(tmp_path / ck),
        )
        q.awaitTermination(120)
        if i == 0:
            first = sorted(tuple(r) for r in read_state(spark, target).select("user_id", "ts").collect())
    second = sorted(tuple(r) for r in read_state(spark, target).select("user_id", "ts").collect())
    assert first == second


def test_trending_topk_stream(spark, tmp_path):
    """Per-window word counts on a synthetic doc stream match the batch
    computation, and topk_per_window cuts each window independently."""
    rows = [
        {"ts": "2024-01-01 10:00:05", "text": "spark spark join"},
        {"ts": "2024-01-01 10:10:00", "text": "spark window"},
        {"ts": "2024-01-01 11:00:01", "text": "join join join shuffle"},
        {"ts": "2024-01-01 11:59:59", "text": "shuffle"},
    ]
    src = str(tmp_path / "docs")
    import os

    os.makedirs(src)
    with open(os.path.join(src, "batch1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    schema = "ts string, text string"
    stream = (
        spark.readStream.schema(schema).json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    counts = trending_topk(stream, text_col="text", ts_col="ts", window="1 hour")
    q = (
        counts.writeStream.format("memory")
        .queryName("trend")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    top = {
        (r["w"], r["word"]): r["c"]
        for r in topk_per_window(spark.table("trend"), k=2).collect()
    }
    assert top == {
        ("2024-01-01 10:00:00", "spark"): 3,
        ("2024-01-01 10:00:00", "join"): 1,
        ("2024-01-01 11:00:00", "join"): 3,
        ("2024-01-01 11:00:00", "shuffle"): 2,
    }


def test_streaming_tweet_preprocess_merge(spark, tmp_path):
    """End-to-end streaming ingest (SURVEY.md §2.11): raw tweet JSON files
    arrive as micro-batches -> flatten (stateless preprocess) inside
    foreachBatch -> latest-wins merge into the serving table. Result must
    equal the batch pipeline over all files at once."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.plans.preprocess import (
        flatten_tweets,
        preprocess,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.tweets import (
        read_tweets,
        read_tweets_stream,
    )

    from .test_preprocess import _fixture_tweets

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    tweets = _fixture_tweets()
    # multiLine arrays are not streamable; one JSON object per line
    with open(raw_dir / "b1.json", "w") as f:
        for t in tweets[:5]:
            f.write(json.dumps(t) + "\n")

    target = str(tmp_path / "serving")
    ck = str(tmp_path / "ck")

    def run():
        q = latest_wins_merge_sink(
            read_tweets_stream(spark, str(raw_dir)),
            spark,
            target,
            key_cols=["org_id"],
            order_col="samp_datetime",
            checkpoint=ck,
            transform=flatten_tweets,
        )
        q.awaitTermination(120)

    run()
    with open(raw_dir / "b2.json", "w") as f:
        for t in tweets[5:]:
            f.write(json.dumps(t) + "\n")
    run()

    got = sorted(
        tuple(r)
        for r in read_state(spark, target)
        .select("org_id", "samp_id", "org_favorite_count")
        .collect()
    )
    batch = preprocess(
        read_tweets(spark, str(tmp_path / "raw"), multiline=False),
        apply_hiring_filter=False,
    )
    want = sorted(
        tuple(r)
        for r in batch.select("org_id", "samp_id", "org_favorite_count").collect()
    )
    assert got == want


def test_session_window_agrees_with_gap_sum(spark):
    """F.session_window sessions == the batch gap-sum sessionize (same key
    counts) when no gap sits exactly on the boundary."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        sessionize,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        session_counts,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),
        (1, "2024-01-01 11:00:00"),   # 3000 s gap -> new session
        (1, "2024-01-01 11:05:00"),
        (2, "2024-01-01 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    native = sorted(
        (r["user_id"], r["n_events"])
        for r in session_counts(df, gap="30 minutes").collect()
    )
    gapsum = sorted(
        (r["user_id"], r["n_events"])
        for r in sessionize(df, gap_seconds=1800).collect()
    )
    assert native == gapsum == [(1, 2), (1, 2), (2, 1)]


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: an event arriving
    after its window's watermark has passed is dropped; windows finalize once
    the watermark crosses their end."""
    src = str(tmp_path / "late")
    import os

    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_batch("b1.json", [
        {"ts": "2024-01-01 10:05:00", "k": "a"},
        {"ts": "2024-01-01 10:20:00", "k": "a"},
    ])

    stream = (
        spark.readStream.schema("ts string, k string").json(src)
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
    )
    agg = (
        stream.groupBy(F.window("ts", "15 minutes").alias("w"), "k")
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", "HH:mm").alias("w"), "k", "n")
    )
    q = (
        agg.writeStream.format("memory").queryName("late_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance the watermark far past the first window, then send a LATE
        # event for it — must be dropped, not re-opened
        write_batch("b2.json", [{"ts": "2024-01-01 11:00:00", "k": "a"}])
        q.processAllAvailable()
        write_batch("b3.json", [{"ts": "2024-01-01 10:01:00", "k": "a"}])  # late
        write_batch("b4.json", [{"ts": "2024-01-01 11:30:00", "k": "a"}])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {(r["w"], r["k"]): r["n"] for r in spark.table("late_agg").collect()}
    # 10:00 window finalized with ONLY the on-time event (late one dropped)
    assert rows.get(("10:00", "a")) == 1
    assert rows.get(("10:15", "a")) == 1


def test_stateful_running_profile(spark, events_dir, tmp_path):
    """applyInPandasWithState: per-user running totals across micro-batches
    must equal the batch aggregation over all data."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.stateful import (
        running_user_profile,
    )

    schema = _stream_schema(spark, events_dir)
    stream = stream_parquet(spark, events_dir, schema)
    prof = running_user_profile(stream)
    q = (
        prof.writeStream.format("memory")
        .queryName("profiles")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode: keep the LAST emitted row per user
    got_df = spark.table("profiles")
    latest = got_df.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
    )
    got = {r["user_id"]: r["n_events"] for r in latest.collect()}

    ev = load_table(spark, SF_DIR, "events")
    want = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate keys within the horizon are
    emitted once even with jittered event times (k=1 arrives at :00 and :30),
    and per-key state is evictable past the watermark."""
    rows = [
        {"ts": "2024-01-01 10:00:00", "k": 1},
        {"ts": "2024-01-01 10:00:30", "k": 1},
        {"ts": "2024-01-01 10:01:00", "k": 2},
    ]
    src = str(tmp_path / "dups")
    import os

    os.makedirs(src)
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    stream = (
        spark.readStream.schema("ts string, k long").json(src)
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = streaming_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ks = sorted(r["k"] for r in spark.table("dedup_out").collect())
    assert ks == [1, 2]


def test_session_boundary_gap_exactly_g_agrees(spark):
    """Boundary semantics: an inter-event gap of EXACTLY g stays ONE session
    under BOTH sessionizers — F.session_window merges when next_start <=
    prev_end (inclusive), the batch gap-sum starts a new session only when
    gap > g. Pinned here so a Spark upgrade that flips session_window to an
    exclusive bound fails loudly instead of silently disagreeing with the
    batch operator."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.joins import (
        sessionize,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        session_counts,
    )

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:30:00"),  # gap == 1800 s exactly
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    native = sorted(
        r["n_events"] for r in session_counts(df, gap="30 minutes").collect()
    )
    gapsum = sorted(
        r["n_events"] for r in sessionize(df, gap_seconds=1800).collect()
    )
    assert native == [2]  # session_window merges at gap == g (inclusive end)
    assert gapsum == [2]  # gap-sum keeps gap == g in-session too


def test_session_counts_streaming_replay_parity(spark, events_dir, tmp_path):
    """Streaming session_counts over a file replay == the same operator run
    in batch over the full table (complete output mode: every session,
    no watermark-finalization asymmetry)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        session_counts,
    )

    schema = _stream_schema(spark, events_dir)
    stream = stream_parquet(spark, events_dir, schema)
    q = (
        session_counts(stream, gap="30 minutes", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_sessions"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    st = spark.table("sessions_stream")
    got = canon_rows(st.columns, [tuple(r) for r in st.collect()])

    batch = session_counts(load_table(spark, SF_DIR, "events"), gap="30 minutes")
    want = canon_rows(batch.columns, [tuple(r) for r in batch.collect()])
    assert got == want


def test_stream_stream_join_replay_parity(spark, tmp_path):
    """Watermarked time-bounded stream-stream join over a replayed file
    source == the identical batch join (same operator, batch inputs)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming import (
        stream_stream_join,
    )

    lrows = [
        {"l_ts": "2024-01-01 10:00:00", "k": 1, "l_id": 100},
        {"l_ts": "2024-01-01 12:00:00", "k": 1, "l_id": 101},
        {"l_ts": "2024-01-01 10:05:00", "k": 2, "l_id": 102},
    ]
    rrows = [
        {"r_ts": "2024-01-01 10:20:00", "k": 1, "r_id": 200},  # joins 100
        {"r_ts": "2024-01-01 11:00:00", "k": 1, "r_id": 201},  # bound miss
        {"r_ts": "2024-01-01 10:05:00", "k": 3, "r_id": 202},  # key miss
        {"r_ts": "2024-01-01 10:35:00", "k": 2, "r_id": 203},  # joins 102
    ]
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    import os

    for d, rows in ((ldir, lrows), (rdir, rrows)):
        os.makedirs(d)
        with open(os.path.join(d, "b.json"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def src(d, ts):
        other = "l_id" if ts == "l_ts" else "r_id"
        return (
            spark.readStream.schema(f"{ts} string, k long, {other} long")
            .json(d)
            .withColumn(ts, F.to_timestamp(ts))
        )

    joined = stream_stream_join(
        src(ldir, "l_ts"), src(rdir, "r_ts"), "k", bound_seconds=1800
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["k"], r["l_id"], r["r_id"]) for r in spark.table("ssj_out").collect()
    )

    lb = spark.createDataFrame(
        [(r["l_ts"], r["k"], r["l_id"]) for r in lrows],
        "l_ts string, k long, l_id long",
    ).withColumn("l_ts", F.to_timestamp("l_ts"))
    rb = spark.createDataFrame(
        [(r["r_ts"], r["k"], r["r_id"]) for r in rrows],
        "r_ts string, k long, r_id long",
    ).withColumn("r_ts", F.to_timestamp("r_ts"))
    want = sorted(
        (r["k"], r["l_id"], r["r_id"])
        for r in stream_stream_join(lb, rb, "k", bound_seconds=1800).collect()
    )
    assert got == want == [(1, 100, 200), (2, 102, 203)]


def test_stream_static_dimension_join_parity(spark, events_dir, tmp_path):
    """Streaming fact enriched by a static (broadcastable) dimension == the
    batch join — the live form of the reference's search-result → user-dim
    composition. No watermark needed: the static side is bounded state."""
    schema = _stream_schema(spark, events_dir)
    dim = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    stream = stream_parquet(spark, events_dir, schema).select("event_id", "user_id")
    joined = stream.join(F.broadcast(dim), "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssdim")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        tuple(r) for r in spark.table("ssdim")
        .select("event_id", "user_total").collect()
    )
    want = sorted(
        tuple(r)
        for r in load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id")
        .join(dim, "user_id")
        .select("event_id", "user_total")
        .collect()
    )
    assert got == want


def test_transform_with_state_v2_accumulates_across_batches(spark, tmp_path):
    """The Spark-4 arbitrary-state API (transformWithStateInPandas): per-key
    totals accumulate across micro-batches and match the batch aggregate —
    the v2 form of the running-profile operator. Skips where the TWS python
    worker's protobuf dependency is unavailable (this container) — the
    operator is import-gated the same way."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming import (
        stateful,
    )

    if not stateful.HAS_TWS:
        pytest.skip("transformWithStateInPandas deps unavailable in this environment")
    running_totals_v2 = stateful.running_totals_v2
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    src = str(tmp_path / "ev")
    import os

    os.makedirs(src)
    b1 = [{"user_id": 1, "value": 10.0}, {"user_id": 1, "value": 5.0},
          {"user_id": 2, "value": 7.0}]
    b2 = [{"user_id": 1, "value": 2.5}, {"user_id": 3, "value": 1.0}]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in b1:
            f.write(json.dumps(r) + "\n")

    stream = spark.readStream.schema("user_id long, value double").json(src)
    q = (
        running_totals_v2(stream)
        .writeStream.format("memory")
        .queryName("tws_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        with open(os.path.join(src, "b2.json"), "w") as f:
            for r in b2:
                f.write(json.dumps(r) + "\n")
        q.processAllAvailable()
    finally:
        q.stop()

    # update mode: last emitted row per key is the running total
    rows = spark.table("tws_out").collect()
    latest = {}
    for i, r in enumerate(rows):
        latest[r.user_id] = (r.n_events, r.total_value)
    assert latest[1] == (3, 17.5)
    assert latest[2] == (1, 7.0)
    assert latest[3] == (1, 1.0)


def test_cms_merge_sink_replay_parity(spark, events_dir, tmp_path):
    """Count-min maintained incrementally (one sketch merge per micro-batch)
    == the sketch of a single batch build over all rows: mergeability is
    what makes the KB-sized streaming state exact."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.sketches import (
        cms_build,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        cms_merge_sink,
    )

    schema = _stream_schema(spark, events_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        events_dir
    )
    target = str(tmp_path / "cms_target")
    q = cms_merge_sink(
        stream, spark, target, key_col="user_id", checkpoint=str(tmp_path / "ck_cms")
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, read_state(spark, target).collect()))
    want = sorted(
        map(tuple, cms_build(spark.read.parquet(events_dir), "user_id").collect())
    )
    assert got == want and len(got) > 0


def test_bloom_merge_sink_replay_parity(spark, events_dir, tmp_path):
    """Bloom filter maintained incrementally (one bit-set union per
    micro-batch) == the filter of a single batch build over all rows:
    union-distinct idempotence is what makes replay exact."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.sketches import (
        bloom_build,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        bloom_merge_sink,
    )

    schema = _stream_schema(spark, events_dir)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(
        events_dir
    )
    target = str(tmp_path / "bloom_target")
    q = bloom_merge_sink(
        stream, spark, target, key_col="user_id", checkpoint=str(tmp_path / "ck_bloom")
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(r["p"] for r in read_state(spark, target).collect())
    want = sorted(
        r["p"] for r in bloom_build(spark.read.parquet(events_dir), "user_id").collect()
    )
    assert got == want and len(got) > 0


def test_stream_jsonl_quarantine_split(spark, tmp_path):
    """Streaming ingest quarantine: valid lines parse, malformed lines land
    in the dead-letter stream with raw text, counts conserved."""
    from pyspark.sql import types as T

    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        stream_jsonl_with_quarantine,
    )

    src = tmp_path / "in"
    src.mkdir()
    good1 = '{"id": 1, "text": "hello spark"}'
    bad = '{"id": 2, "text": "broken'
    good2 = '{"id": 3, "text": "join me"}'
    (src / "a.jsonl").write_text("\n".join([good1, bad, good2]) + "\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("text", T.StringType())]
    )
    valid, quarantined = stream_jsonl_with_quarantine(spark, str(src), schema)
    q1 = (
        valid.writeStream.format("memory")
        .queryName("sq_valid")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    q2 = (
        quarantined.writeStream.format("memory")
        .queryName("sq_bad")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    q1.awaitTermination(60)
    q2.awaitTermination(60)
    v = spark.sql("SELECT * FROM sq_valid").collect()
    b = spark.sql("SELECT * FROM sq_bad").collect()
    assert {r["id"] for r in v} == {1, 3}
    assert len(b) == 1 and b[0]["raw_line"] == bad


def test_python_datasource_stream_tails_jsonl(spark, tmp_path):
    """The custom source's streaming half: micro-batch tailing of a growing
    JSONL directory with path-keyed byte offsets — rows appended between
    triggers arrive exactly once."""
    import json as _json

    from job_search_engine_using_pyspark_solar_and_angular_spark.sources import pyds

    d = tmp_path / "feed"
    d.mkdir()

    def write_batch(name, lo, hi):
        with open(d / name, "w") as fh:
            for i in range(lo, hi):
                fh.write(_json.dumps({"id": i, "text": f"t {i}", "lang": "en",
                                      "created_ts": "2020-01-01 00:00:00"}) + "\n")

    write_batch("b0.jsonl", 0, 5)
    pyds.register(spark)
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    stream = (
        spark.readStream.format("tweets_jsonl").option("path", str(d)).load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got1 = {r.id for r in spark.read.parquet(str(out)).collect()}
    assert got1 == set(range(5))

    # grow the feed; a second availableNow run picks up ONLY the new rows
    write_batch("b1.jsonl", 5, 9)
    q2 = (
        spark.readStream.format("tweets_jsonl").option("path", str(d)).load()
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = spark.read.parquet(str(out)).collect()
    assert {r.id for r in rows} == set(range(9))
    assert len(rows) == 9  # exactly once: no replays of batch 0


def test_hll_merge_sink_replay_parity(spark, events_dir, tmp_path):
    """HLL sketches maintained incrementally (one register-max union per
    micro-batch) == a single batch build over all rows: union-of-sketches
    is sketch-of-union for HLL, so the streaming estimates are exact
    replicas of the batch ones."""
    from pyspark.sql import functions as F

    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        hll_merge_sink,
    )

    schema = _stream_schema(spark, events_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(events_dir)
    target = str(tmp_path / "hll_target")
    q = hll_merge_sink(
        stream, spark, target, group_col="event_type", value_col="user_id",
        checkpoint=str(tmp_path / "ck_hll"),
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        (r["event_type"], r["est_distinct"])
        for r in read_state(spark, target).collect()
    )
    want = sorted(
        (r["event_type"], r["est"])
        for r in spark.read.parquet(events_dir)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("long").alias("est")
        )
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_static_join_replay_parity(spark, events_dir, tmp_path):
    """Stream-STATIC dimension enrichment (the in-stream analog of the
    batch broadcast join): streamed events joined to the static customer
    dim replay to exactly the batch join — the static side is re-read per
    micro-batch by Spark, no watermark needed."""
    from pyspark.sql import functions as F

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table

    schema = _stream_schema(spark, events_dir)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(events_dir)
    dim = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    out = str(tmp_path / "enriched")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck_ss"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            spark.read.parquet(events_dir)
            .join(dim, "user_id")
            .select("event_id", "user_id", "c_mktsegment")
            .collect(),
        )
    )
    assert got == want and len(got) > 0

def test_state_store_commit_and_recovery_semantics(spark, tmp_path):
    """Versioned state store: absence of the pointer means first-batch
    (read_state -> None); a committed state survives a crash that wrote a
    NEWER version dir but died before the pointer flip; pruning keeps the
    live version; corrupt pointer content raises instead of resetting."""
    import os

    import pytest as _pytest

    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        commit_state,
        current_version,
        read_state,
    )

    target = str(tmp_path / "state")
    assert read_state(spark, target) is None  # first batch, explicitly

    df1 = spark.range(3).withColumnRenamed("id", "k")
    assert commit_state(df1, target) == 1
    df2 = spark.range(5).withColumnRenamed("id", "k")
    assert commit_state(df2, target) == 2
    assert read_state(spark, target).count() == 5

    # crash between version write and pointer flip: v=3 exists, pointer
    # still says 2 -> readers keep seeing v=2
    spark.range(9).withColumnRenamed("id", "k").write.parquet(
        os.path.join(target, "v=3")
    )
    assert current_version(target) == 2
    assert read_state(spark, target).count() == 5

    # time travel: explicit versions within the retention window
    assert read_state(spark, target, version=1).count() == 3
    assert read_state(spark, target, version=2).count() == 5
    with _pytest.raises(FileNotFoundError):
        read_state(spark, target, version=99)

    # corrupt pointer is corruption, not first-batch
    with open(os.path.join(target, "_CURRENT"), "w") as fh:
        fh.write("not-a-number")
    with _pytest.raises(ValueError):
        read_state(spark, target)

def test_tweets_jsonl_stream_offsets_path_keyed(tmp_path):
    """Offset unit semantics, driven directly on the reader (no query):
    (1) a late file that sorts lexicographically BEFORE already-consumed
    files is delivered exactly once, with no re-reads of the consumed ones
    (the positional-offset bug: shifted indices re-applied one file's byte
    offset to another); (2) a partially-appended trailing line stays
    unconsumed until its newline arrives, then is delivered once."""
    import json as _json

    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.pyds import (
        TweetsJsonlStreamReader,
        flat_jsonl_schema,
    )

    d = tmp_path / "feed"
    d.mkdir()

    def line(i):
        return _json.dumps(
            {"id": i, "text": f"t {i}", "lang": "en", "created_ts": "x"}
        )

    (d / "m.jsonl").write_text(line(1) + "\n" + line(2) + "\n")
    r = TweetsJsonlStreamReader(flat_jsonl_schema(), {"path": str(d)})
    rows1, off1 = r.read(r.initialOffset())
    assert [t[0] for t in rows1] == [1, 2]

    # a file sorting BEFORE m.jsonl arrives late + m.jsonl grows
    (d / "a.jsonl").write_text(line(10) + "\n")
    with open(d / "m.jsonl", "a") as fh:
        fh.write(line(3) + "\n")
    rows2, off2 = r.read(off1)
    assert sorted(t[0] for t in rows2) == [3, 10]  # no duplicates of 1, 2

    # partial trailing line: invisible until its newline arrives
    with open(d / "m.jsonl", "a") as fh:
        fh.write(line(4)[:10])
    rows3, off3 = r.read(off2)
    assert rows3 == []
    with open(d / "m.jsonl", "a") as fh:
        fh.write(line(4)[10:] + "\n")
    rows4, _ = r.read(off3)
    assert [t[0] for t in rows4] == [4]

def test_dedup_gate_sink_replay_parity(spark, tmp_path):
    """Streaming ingest-dedup gate == batch LSH candidates: after streaming
    the documents corpus in 3 micro-batches, the maintained pair state must
    equal minhash_lsh_candidates over all rows ever seen (arrival order
    must not change the candidate set), and the maintained bucket table
    must equal a batch build."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.operators.dedup import (
        minhash_bucket_table,
        minhash_lsh_candidates,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.jobs import (
        dedup_gate_sink,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    feed = str(tmp_path / "docs_feed")
    docs.repartition(3).write.mode("overwrite").parquet(feed)

    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    state = str(tmp_path / "bucket_state")
    pairs = str(tmp_path / "pair_state")
    q = dedup_gate_sink(
        stream, spark, state, pairs, checkpoint=str(tmp_path / "ck_gate")
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    got_pairs = sorted(
        (r["doc_a"], r["doc_b"]) for r in read_state(spark, pairs).collect()
    )
    want_pairs = sorted(
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_candidates(docs).collect()
    )
    assert got_pairs == want_pairs and len(got_pairs) > 0

    got_buckets = sorted(
        map(tuple, read_state(spark, state).collect())
    )
    want_buckets = sorted(map(tuple, minhash_bucket_table(docs).collect()))
    assert got_buckets == want_buckets

def test_dedup_gate_crash_between_commits_converges(spark, tmp_path):
    """Crash-injection: a batch that dies BETWEEN the pair commit and the
    bucket commit (the documented non-atomic window), then retries, must
    converge to exactly the clean run's states — the union-distinct
    idempotence claim, exercised for real."""
    import pytest as _pytest

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming import (
        jobs as sj,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming import (
        state_store,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    # clean reference run
    cs, cp = str(tmp_path / "cs"), str(tmp_path / "cp")
    sj.dedup_gate_batch(spark, b1, cs, cp)
    sj.dedup_gate_batch(spark, b2, cs, cp)
    want_pairs = sorted(map(tuple, state_store.read_state(spark, cp).collect()))
    want_buckets = sorted(map(tuple, state_store.read_state(spark, cs).collect()))

    # crashy run: batch 2 dies after the FIRST commit (pairs committed,
    # buckets not), then the batch retries in full
    ks, kp = str(tmp_path / "ks"), str(tmp_path / "kp")
    sj.dedup_gate_batch(spark, b1, ks, kp)
    before = persisted_rdd_ids(spark)

    real_commit = state_store.commit_state
    calls = {"n": 0}

    def crashy(df, target_path, keep=2):
        calls["n"] += 1
        if calls["n"] == 2:  # the bucket commit of this batch
            raise RuntimeError("injected crash between commits")
        return real_commit(df, target_path, keep=keep)

    state_store_commit = state_store.commit_state
    state_store.commit_state = crashy
    try:
        with _pytest.raises(RuntimeError, match="injected crash"):
            sj.dedup_gate_batch(spark, b2, ks, kp)
    finally:
        state_store.commit_state = state_store_commit

    # retry the whole micro-batch (what Structured Streaming does)
    sj.dedup_gate_batch(spark, b2, ks, kp)
    # neither the crashed attempt nor the retry leaves cached blocks behind
    assert not persisted_rdd_ids(spark) - before

    got_pairs = sorted(map(tuple, state_store.read_state(spark, kp).collect()))
    got_buckets = sorted(map(tuple, state_store.read_state(spark, ks).collect()))
    assert got_pairs == want_pairs
    assert got_buckets == want_buckets

def test_state_store_random_sequences_match_model(spark, tmp_path):
    """Model-based property: any sequence of commits and reads against the
    store behaves like a plain in-memory list of versions with a live
    pointer — including pruning (only the last `keep` versions readable)
    and time travel."""
    import pytest as _pytest

    from job_search_engine_using_pyspark_solar_and_angular_spark.streaming.state_store import (
        commit_state,
        current_version,
        read_state,
    )

    target = str(tmp_path / "model_state")
    model = {}  # version -> row count
    keep = 3
    # deterministic pseudo-random sequence (no RNG: derived from step index)
    for step in range(1, 9):
        n_rows = (step * 7) % 11 + 1
        v = commit_state(
            spark.range(n_rows).withColumnRenamed("id", "k"), target, keep=keep
        )
        assert v == step
        model[v] = n_rows
        assert current_version(target) == v
        assert read_state(spark, target).count() == n_rows
        # retained window readable, older pruned
        for pv, pn in model.items():
            if pv > v - keep:
                assert read_state(spark, target, version=pv).count() == pn
            else:
                with _pytest.raises(FileNotFoundError):
                    read_state(spark, target, version=pv)
