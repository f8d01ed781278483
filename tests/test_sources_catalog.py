"""Tests for the remaining source operators (S3 epoch ordering, S7 flat CSV
scan) and the catalog/DDL surface (R5), plus skew-salting (two-phase agg)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from job_search_engine_using_pyspark_solar_and_angular_spark import catalog
from job_search_engine_using_pyspark_solar_and_angular_spark.io import load_table
from job_search_engine_using_pyspark_solar_and_angular_spark.operators.topk import (
    salt_key,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.plans.preprocess import (
    preprocess,
    write_outputs,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.sources.synthetic import (
    tweets_from_documents,
)
from job_search_engine_using_pyspark_solar_and_angular_spark.sources.tweets import (
    batches_in_epoch_order,
    read_flat_csv,
)

from .conftest import SF_DIR
from .test_preprocess import _fixture_tweets


def test_flat_csv_roundtrip_typed(spark, tmp_path):
    """S7: the CSV export re-reads with typed arrays and long ids — no
    Python-repr string surgery (reference T20 anti-pattern eliminated)."""
    docs = load_table(spark, SF_DIR, "documents")
    out = preprocess(tweets_from_documents(docs), terms=("spark", "join"))
    pq, csv = str(tmp_path / "pq"), str(tmp_path / "csv")
    write_outputs(out, pq, csv)

    back = read_flat_csv(spark, csv)
    assert dict(back.dtypes)["org_hashtags"] == "array<string>"
    assert dict(back.dtypes)["org_id"] == "bigint"
    assert back.count() == out.count()
    # values survive the round trip
    a = {r["org_id"]: r["org_hashtags"] for r in back.collect()}
    b = {r["org_id"]: r["org_hashtags"] for r in out.collect()}
    assert a == b


def test_epoch_ordered_batches(spark, tmp_path):
    """S3: per-file batch provenance from the epoch-encoded filename."""
    d = tmp_path / "raw"
    d.mkdir()
    tweets = _fixture_tweets()
    (d / "output1650000000.json").write_text(json.dumps(tweets[:5]))
    (d / "output1650007200.json").write_text(json.dumps(tweets[5:]))
    df = batches_in_epoch_order(spark, str(d))
    got = dict(
        (r["__batch_epoch"], r["n"])
        for r in df.groupBy("__batch_epoch").agg(F.count("*").alias("n")).collect()
    )
    assert got == {1650000000: 5, 1650007200: 4}


def test_catalog_register_describe_drop(spark):
    e = load_table(spark, SF_DIR, "events")
    catalog.register_table(spark, "cat_events", e)
    assert spark.sql("SELECT COUNT(*) c FROM cat_events").collect()[0]["c"] == e.count()
    fields = {f["name"]: f["type"] for f in catalog.describe_fields(e)}
    assert fields["event_id"] == "bigint" and fields["ts"] == "timestamp"
    catalog.drop_table(spark, "cat_events")
    assert "cat_events" not in [t.name for t in spark.catalog.listTables()]


def test_schema_evolution_and_align(spark):
    e = load_table(spark, SF_DIR, "events")
    e2 = catalog.add_field(e, "day", F.to_date("ts"))
    e3 = catalog.delete_field(e2, "props")
    diff = catalog.schema_diff(e, e3)
    assert diff == {"added": ["day"], "removed": ["props"], "retyped": []}

    aligned = catalog.align_to_schema(e3, e.schema)
    assert [f.name for f in aligned.schema.fields] == [f.name for f in e.schema.fields]
    assert aligned.filter(F.col("props").isNotNull()).count() == 0  # typed null


def test_salted_two_phase_agg_matches_direct(spark):
    """Skew mitigation: salt -> partial agg on (key, salt) -> final agg on key
    gives identical results to the direct aggregation."""
    e = load_table(spark, SF_DIR, "events")
    salted = salt_key(e, "user_id", buckets=8)
    partial = salted.groupBy("user_id", "__salt").agg(
        F.count("*").alias("c"), F.sum("value").alias("s")
    )
    final = partial.groupBy("user_id").agg(
        F.sum("c").alias("c"), F.round(F.sum("s"), 2).alias("s")
    )
    direct = e.groupBy("user_id").agg(
        F.count("*").alias("c"), F.round(F.sum("value"), 2).alias("s")
    )
    a = sorted(tuple(r) for r in final.collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b


def test_salt_key_layout_stable_and_spreading(spark):
    """salt_key is content-derived (xxhash64 of the row), so (1) the salt a
    row gets is invariant under repartitioning — the r3 F.rand(seed) version
    was per-partition seeded and violated this — and (2) a hot key's rows
    actually spread across multiple buckets (hashing only the key would put
    every hot-key row in ONE bucket, defeating the salt)."""
    e = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    base = {
        r["event_id"]: r["__salt"]
        for r in salt_key(e, "user_id", buckets=8).collect()
    }
    relaid = {
        r["event_id"]: r["__salt"]
        for r in salt_key(
            e.repartition(7, "value"), "user_id", buckets=8
        ).collect()
    }
    assert base == relaid
    hot = e.groupBy("user_id").count().orderBy(F.col("count").desc()).first()
    hot_salts = {
        r["__salt"]
        for r in salt_key(e, "user_id", buckets=8)
        .filter(F.col("user_id") == hot["user_id"])
        .collect()
    }
    assert len(hot_salts) > 1


def test_load_evolving_schema_union(spark, tmp_path):
    """Files written under an evolving schema read as one table: old rows
    null-fill late-added columns; predicates on the new column still prune
    (old files are all-null for it)."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import (
        load_evolving,
    )

    p = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.mode("overwrite").parquet(p)
    spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)], "id long, v string, score double"
    ).write.mode("append").parquet(p)

    df = load_evolving(spark, p)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[4] == 0.9
    assert df.filter(F.col("score") > 0.7).count() == 1
    # pinned-schema re-read (the recurring-read path) sees identical data
    pinned = spark.read.schema(df.schema).parquet(p)
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, df.collect()))


def test_tweet_ingest_tolerates_malformed_lines(spark, tmp_path):
    """PERMISSIVE ingest (Spark's default): malformed JSON lines null-fill
    instead of failing the 100 TB job; well-formed rows are unaffected.
    The explicit-schema contract is what keeps this deterministic."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.tweets import (
        read_tweets,
    )

    p = tmp_path / "raw"
    p.mkdir()
    with open(p / "b.json", "w") as f:
        f.write('{"id": 1, "text": "good tweet"}\n')
        f.write("{this is not json at all\n")
        f.write('{"id": 2, "text": "another good one"}\n')
    df = read_tweets(spark, str(p), multiline=False)
    rows = df.select("id", "text").collect()
    good = {r.id: r.text for r in rows if r.id is not None}
    assert good == {1: "good tweet", 2: "another good one"}
    assert len(rows) == 3  # malformed line surfaces as a null-filled row


def test_compact_parquet_reduces_files_preserves_data(spark, tmp_path):
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        compact_parquet,
    )

    p = str(tmp_path / "frag")
    ev = load_table(spark, SF_DIR, "events")
    ev.repartition(40).write.mode("overwrite").parquet(p)  # 40 tiny files
    want = sorted(r.event_id for r in spark.read.parquet(p).collect())
    before, after = compact_parquet(spark, p, target_mb=128)
    assert before >= 40 and after == 1  # sf0.001 events << 128 MB
    got = sorted(r.event_id for r in spark.read.parquet(p).collect())
    assert got == want


def test_zorder_layout_concentrates_box_queries(spark, tmp_path):
    """A 2-D box predicate over a z-ordered layout finds its rows in FEW
    files; over a random layout the same rows smear across ~all files.
    This locality is exactly what row-group min/max skipping converts into
    less IO at scale."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        write_zordered,
    )

    ev = load_table(spark, SF_DIR, "events")
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    dims = [F.col("user_id") % 256, F.floor(F.col("value")).cast("long") % 256]
    write_zordered(ev, zpath, dims, bits=8, n_files=16)
    ev.repartition(16).write.mode("overwrite").parquet(rpath)  # random layout

    box = (
        (F.col("user_id") % 256 < 32)
        & (F.floor(F.col("value")).cast("long") % 256 < 32)
    )

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .filter(box)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    z_files, r_files = files_touched(zpath), files_touched(rpath)
    # identical rows either way
    assert (
        spark.read.parquet(zpath).filter(box).count()
        == spark.read.parquet(rpath).filter(box).count()
    )
    assert z_files < r_files, (z_files, r_files)
    assert z_files <= r_files // 2, (z_files, r_files)


def test_quarantine_tags_and_splits(spark):
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        quarantine,
    )

    df = spark.createDataFrame(
        [(1, 10.0, "view"), (2, -5.0, "view"), (3, 700.0, "bogus")],
        "id long, value double, t string",
    )
    rules = {
        "nonneg": F.col("value") >= 0,
        "under_500": F.col("value") < 500,
        "known": F.col("t").isin("view", "click"),
    }
    out = {r.id: sorted(r.failed_rules) for r in quarantine(df, rules).collect()}
    assert out == {1: [], 2: ["nonneg"], 3: ["known", "under_500"]}
    tagged = quarantine(df, rules)
    assert tagged.filter(F.size("failed_rules") == 0).count() == 1
    assert tagged.filter(F.size("failed_rules") > 0).count() == 2


def test_audit_single_pass_plan(spark):
    """All rules must land in ONE aggregate over one scan (conditional
    aggregates), not a pass per rule."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import audit

    e = load_table(spark, SF_DIR, "events")
    p = (
        audit(e, {"a": F.col("value") >= 0, "b": F.col("user_id") > 0})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert p.count("Scan parquet") == 1


def test_flatten_struct_recursive_paths(spark):
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        flatten_struct,
    )

    df = spark.createDataFrame(
        [(1, ("bob", ("nyc", "us")), [1, 2])],
        "id long, user struct<name string, loc struct<city string, cc string>>, xs array<int>",
    )
    out = flatten_struct(df)
    assert out.columns == ["id", "user_name", "user_loc_city", "user_loc_cc", "xs"]
    r = out.collect()[0]
    assert (r.user_name, r.user_loc_city, r.user_loc_cc, r.xs) == ("bob", "nyc", "us", [1, 2])


def test_flatten_struct_on_tweet_schema(spark, tmp_path):
    """The generic flattener handles the reference's nested tweet schema:
    every leaf becomes a pathed top-level column, none lost."""
    import json as _json

    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        flatten_struct,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.tweets import (
        read_tweets,
    )

    from .test_preprocess import _fixture_tweets

    p = tmp_path / "raw"
    p.mkdir()
    with open(p / "b.json", "w") as f:
        for t in _fixture_tweets()[:3]:
            f.write(_json.dumps(t) + "\n")
    raw = read_tweets(spark, str(p), multiline=False)
    flat = flatten_struct(raw)
    assert all("." not in c for c in flat.columns)
    assert not any(
        f.dataType.typeName() == "struct" for f in flat.schema.fields
    )
    assert flat.count() == 3


def test_backfill_partition_is_scoped_and_idempotent(spark, tmp_path):
    """Dynamic partition overwrite: re-writing one day's partition must
    leave other partitions byte-identical, and re-running the same
    backfill must be a no-op on the data."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        backfill_partition,
    )

    path = str(tmp_path / "daily")
    full = spark.createDataFrame(
        [("2026-01-01", 1, 10.0), ("2026-01-01", 2, 20.0),
         ("2026-01-02", 3, 30.0), ("2026-01-03", 4, 40.0)],
        ["day", "id", "v"],
    )
    backfill_partition(spark, full, path)

    # re-run day 2 with corrected data
    fixed = spark.createDataFrame([("2026-01-02", 3, 99.0)], ["day", "id", "v"])
    backfill_partition(spark, fixed, path)
    got = {
        (str(r["day"]), r["id"]): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2026-01-01", 1): 10.0,
        ("2026-01-01", 2): 20.0,
        ("2026-01-02", 3): 99.0,
        ("2026-01-03", 4): 40.0,
    }

    # idempotence: same backfill again — same table
    backfill_partition(spark, fixed, path)
    again = {
        (str(r["day"]), r["id"]): r["v"] for r in spark.read.parquet(path).collect()
    }
    assert again == got

    # partition pruning still works on the layout
    pruned = spark.read.parquet(path).filter(F.col("day") == "2026-01-03")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_read_tweets_with_quarantine(spark, tmp_path):
    """Malformed JSONL lines land in the dead-letter frame with their raw
    text; valid lines parse fully; counts are conserved."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.sources.tweets import (
        read_tweets_with_quarantine,
    )

    p = tmp_path / "in.jsonl"
    good1 = '{"id": 1, "text": "hello spark", "lang": "en"}'
    bad = '{"id": 2, "text": "broken'
    good2 = '{"id": 3, "text": "join me", "lang": "en"}'
    p.write_text("\n".join([good1, bad, good2]) + "\n")
    valid, quarantined = read_tweets_with_quarantine(spark, str(p))
    v = valid.select("id", "text").collect()
    q = quarantined.collect()
    assert {r["id"] for r in v} == {1, 3}
    assert len(q) == 1 and q[0]["raw_line"] == bad


def test_observe_metrics_single_pass(spark):
    """Observation metrics materialize during the job's own action — counts
    and conditional sums match a separate aggregation, with no second scan
    issued by the helper itself."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.io import (
        load_table,
        observe_metrics,
    )

    e = load_table(spark, SF_DIR, "events")
    df2, obs = observe_metrics(
        e,
        "ingest",
        rows=F.count(F.lit(1)),
        purchases=F.sum((F.col("event_type") == "purchase").cast("long")),
    )
    df2.write.format("noop").mode("overwrite").save()
    got = obs.get
    want_rows = e.count()
    want_purch = e.filter(F.col("event_type") == "purchase").count()
    assert got["rows"] == want_rows and got["purchases"] == want_purch


def test_parquet_layout_report_measures_clustering(spark, tmp_path):
    """Footer report: counts are exact, and a range-clustered layout shows a
    higher skippable fraction on the cluster column than a random one."""
    from job_search_engine_using_pyspark_solar_and_angular_spark.catalog import (
        parquet_layout_report,
    )

    df = spark.range(0, 10000).withColumn(
        "k", (F.col("id") * 2654435761) % 10000
    )
    rand_path = str(tmp_path / "rand")
    df.repartition(8).write.parquet(rand_path)
    sorted_path = str(tmp_path / "sorted")
    df.repartitionByRange(8, "k").sortWithinPartitions("k").write.parquet(
        sorted_path
    )
    r1 = parquet_layout_report(rand_path, "k")
    r2 = parquet_layout_report(sorted_path, "k")
    assert r1["n_rows"] == r2["n_rows"] == 10000
    assert r1["n_files"] >= 8 and r2["n_files"] >= 8
    assert r2["skippable_fraction"] > r1["skippable_fraction"]
    assert r2["skippable_fraction"] > 0.8  # 8 disjoint ranges ≈ 7/8 skippable


def test_python_datasource_matches_native_json(spark, tmp_path):
    """S-family extension hook: the custom Spark-4 Python DataSource must
    return row-identical frames to the native JSON reader (same schema) —
    and remain lazily partitioned (one partition per file)."""
    import json as _json

    from job_search_engine_using_pyspark_solar_and_angular_spark.sources import pyds

    d = tmp_path / "jsonl"
    d.mkdir()
    rows = [
        {"id": i, "text": f"doc {i}", "lang": "en" if i % 2 else "es",
         "created_ts": f"2020-01-0{1 + i % 9} 00:00:00"}
        for i in range(20)
    ]
    for part in range(2):
        with open(d / f"part-{part}.jsonl", "w") as fh:
            for r in rows[part * 10:(part + 1) * 10]:
                fh.write(_json.dumps(r) + "\n")

    pyds.register(spark)
    custom = (
        spark.read.format("tweets_jsonl").option("path", str(d)).load()
    )
    native = spark.read.schema(pyds.flat_jsonl_schema()).json(str(d))
    assert custom.schema == native.schema
    a = sorted(map(tuple, custom.collect()))
    b = sorted(map(tuple, native.collect()))
    assert a == b and len(a) == 20
    assert custom.rdd.getNumPartitions() == 2


def test_orc_roundtrip_typed(spark, tmp_path):
    """ORC interchange (S-family widening): both fixture shapes —
    scalar-typed documents and array<float> embeddings — survive an ORC
    sink/scan round-trip with schema and values intact. ORC is the one
    columnar interchange format Spark ships besides parquet (Avro needs
    the external spark-avro module, absent here — import-gated out)."""
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    for name, df in (("docs", docs), ("emb", emb)):
        path = str(tmp_path / name)
        df.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        assert back.schema == df.schema
        assert (
            sorted(map(str, df.collect()), key=str)
            == sorted(map(str, back.collect()), key=str)
        )


def test_jsonl_roundtrip_typed(spark, tmp_path):
    """JSON-lines interchange: the third text sink beside CSV (arrays via
    to_json) and parquet — schema-carrying round-trip for scalar and
    array<float> shapes with an explicit read schema (no inference scan)."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    path = str(tmp_path / "emb_jsonl")
    emb.write.mode("overwrite").json(path)
    back = spark.read.schema(emb.schema).json(path)
    assert back.schema == emb.schema
    assert sorted(map(str, emb.collect())) == sorted(map(str, back.collect()))


def test_parquet_codec_zstd_smaller_and_readable(spark, tmp_path):
    """Storage-cost lever at 100 TB: zstd parquet must round-trip exactly
    and beat uncompressed size on the text corpus (codec is a write option,
    not a schema change — readers are oblivious)."""
    import os

    docs = load_table(spark, SF_DIR, "documents").limit(200)
    sizes = {}
    for codec in ("uncompressed", "zstd"):
        p = str(tmp_path / codec)
        docs.coalesce(1).write.mode("overwrite").option(
            "compression", codec
        ).parquet(p)
        sizes[codec] = sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
        back = spark.read.parquet(p)
        assert sorted(map(str, back.collect())) == sorted(
            map(str, docs.collect())
        )
    assert sizes["zstd"] < sizes["uncompressed"]


def test_pinned_schema_sees_part_file_rewritten_in_place(spark, tmp_path):
    """The pinned-schema cache keys on the newest mtime under a path, not
    the directory's alone: a part file rewritten in place with another
    schema, its directory's mtime reset, must read with the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from job_search_engine_using_pyspark_solar_and_angular_spark.io import _pinned_schema

    table_dir = tmp_path / "t"
    table_dir.mkdir()
    part = table_dir / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    dir_stat = os.stat(table_dir)
    assert _pinned_schema(spark, str(table_dir)).fieldNames() == ["a"]

    pq.write_table(pa.table({"b": ["x"]}), part)
    later = os.stat(part).st_mtime_ns + 2_000_000_000
    os.utime(part, ns=(later, later))
    os.utime(table_dir, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert os.stat(table_dir).st_mtime_ns == dir_stat.st_mtime_ns
    assert _pinned_schema(spark, str(table_dir)).fieldNames() == ["b"]
