"""Replicated sf layouts: the one source of scale evidence.

:func:`replicate` writes a complete sf layout at ×N from a source sf
directory, so any registry query runs on it unchanged (``bench.py
--ladder``). The rules:

- **Facts grow, dimensions do not.** Fact tables are copied N times with
  their key offset per replica; the tables of one key family share one
  offset (``l_orderkey``/``o_orderkey``, ``doc_id``/``vec_id``), so every
  lineitem still joins its order. Foreign keys into dimensions
  (customer, supplier, part, nation, region) are untouched and those
  tables are copied at 1×.
- **Offsets come from the source.** A family's offset is its largest
  source key plus one, so replicas cannot overlap whatever the source
  size; :func:`key_offsets` asserts it.
- **Documents.** Replica r ≥ 1 suffixes every whitespace token with
  ``_r{r}``. Replicas share no token, so no 3-gram shingle, and the LSH
  pair graph at ×N is N disjoint graphs, one per replica, each with the
  ×1 corpus's similarity structure (renamed tokens hash differently, so
  the pairs are drawn anew, not copied). Derived columns (``n_chars``)
  are recomputed. The flip side: a term query's posting lists stay at 1×
  while the vocabulary grows ×N.
- **Embeddings.** Replica r ≥ 1 adds a deterministic per-(replica,
  dimension) perturbation of at most 8e-4, so replicas are near- but not
  exact duplicates.

Replica 0 is the source row for row. The module also owns the
bucket-sorted lineitem/orders pair (:func:`ensure_bucketed_pair`). Both
derived layouts carry one marker, ``_LAYOUT_OK``: the source fingerprint
and the build cost. A source that changed under the same path misses the
marker and the layout is rebuilt.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import TABLES, load_table

# fact table -> (key family, key column); one family shares one offset
FACTS = {
    "lineitem": ("order", "l_orderkey"),
    "orders": ("order", "o_orderkey"),
    "documents": ("doc", "doc_id"),
    "embeddings": ("doc", "vec_id"),
    "events": ("event", "event_id"),
}
MARKER = "_LAYOUT_OK"


def _fingerprint(df: DataFrame) -> dict:
    """Row count and a content hash of ``df`` (one aggregation pass): a
    regenerated source with the same row count still changes it."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**31))).alias("h"),
    ).first()
    return {"n": r["n"], "h": r["h"]}


def _cached_build_s(out_dir: str, source: dict):
    """The recorded build cost when ``out_dir``'s marker matches ``source``,
    else None."""
    try:
        with open(os.path.join(out_dir, MARKER), encoding="utf-8") as fh:
            mark = json.load(fh)
    except (OSError, ValueError):
        return None
    return mark.get("build_s") if mark.get("source") == source else None


def _mark(out_dir: str, source: dict, build_s: float) -> None:
    with open(os.path.join(out_dir, MARKER), "w", encoding="utf-8") as fh:
        json.dump({"source": source, "build_s": build_s}, fh)


def key_offsets(spark, sf_dir: str, reps: int = 1) -> dict[str, int]:
    """Per key family: the replica offset, the family's largest source key
    plus one. Asserts that ``reps`` replicas neither overlap nor overflow."""
    maxima: dict[str, int] = {}
    for name, (family, key) in FACTS.items():
        lo, hi = load_table(spark, sf_dir, name).agg(F.min(key), F.max(key)).first()
        if lo is not None and lo < 0:
            raise ValueError(f"{name}.{key} has negative keys: replicas would overlap")
        maxima[family] = max(maxima.get(family, -1), hi if hi is not None else -1)
    offsets = {f: m + 1 for f, m in maxima.items()}
    for family, off in offsets.items():
        if reps * off >= 2**63:
            raise ValueError(f"{family} keys overflow a long at x{reps}")
    return offsets


def replicated_table(
    spark, sf_dir: str, name: str, reps: int, offsets: dict[str, int]
) -> DataFrame:
    """Table ``name`` of ``sf_dir`` at ×``reps`` (see the module rules);
    dimension tables come back as they are."""
    df = load_table(spark, sf_dir, name)
    if name not in FACTS:
        return df
    family, key = FACTS[name]
    rep = F.col("__rep")
    cols = {c: F.col(c) for c in df.columns}
    cols[key] = F.col(key) + rep * offsets[family]
    if name == "documents":
        text = F.when(rep == 0, F.col("text")).otherwise(
            F.expr(
                "array_join(transform(split(text, ' '), "
                "t -> concat(t, '_r', CAST(__rep AS STRING))), ' ')"
            )
        )
        cols["text"] = text
        cols["n_chars"] = F.length(text)
    elif name == "embeddings":
        el = df.schema["embedding"].dataType.elementType.simpleString()
        cols["embedding"] = F.transform(
            "embedding",
            lambda x, i: (
                x + (rep > 0).cast("int") * 1e-4 * (((rep * 31 + i) % 17) - 8)
            ).cast(el),
        )
    # one task, so one file, per replica: ×N data scans N-way parallel
    # however the source was split
    return (
        spark.range(0, reps, 1, reps)
        .select(F.col("id").alias("__rep"))
        .crossJoin(F.broadcast(df))
        .select(*[cols[c].alias(c) for c in df.columns])
    )


def replicate(spark, sf_dir: str, reps: int, root: str) -> str:
    """The sf layout at ×``reps`` under ``root`` (written once, reused while
    the source fingerprint matches). ×1 is ``sf_dir`` itself."""
    if reps == 1:
        return sf_dir
    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(root, f"{tag}_x{reps}")
    source = {t: _fingerprint(load_table(spark, sf_dir, t)) for t in TABLES}
    if _cached_build_s(out, source) is not None:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    offsets = key_offsets(spark, sf_dir, reps)
    for t in TABLES:
        replicated_table(spark, sf_dir, t, reps, offsets).write.parquet(
            os.path.join(out, f"{t}.parquet")
        )
    _mark(out, source, round(time.perf_counter() - t0, 3))
    return out


BUCKETS = 64
# one bucketed table pair serves both Q18 and Q21
LI_COLS = ["l_orderkey", "l_quantity", "l_suppkey", "l_shipdate"]
O_COLS = ["o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus"]


def ensure_bucketed_pair(spark, li_src, o_src, bdir: str, li_name: str, o_name: str):
    """Ensure lineitem bucket-sorted on l_orderkey and orders on o_orderkey
    (same bucket count) exist at ``bdir`` under the given catalog names, and
    return the one-time write cost in seconds (recorded in the marker, so a
    reuse reports it too).

    ``li_src``/``o_src`` are zero-arg callables returning the source
    DataFrames. The catalog is per session, so a reused layout is
    re-attached with DDL whose bucket spec matches ``write_bucketed``'s;
    this is the one copy of that sequence."""
    from ..catalog import write_bucketed

    def ddl(df):
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)

    li_df, o_df = li_src().select(*LI_COLS), o_src().select(*O_COLS)
    source = {"lineitem": _fingerprint(li_df), "orders": _fingerprint(o_df)}
    build_s = _cached_build_s(bdir, source)
    if build_s is not None:
        for name, sub, df, key in (
            (li_name, "lineitem", li_df, "l_orderkey"),
            (o_name, "orders", o_df, "o_orderkey"),
        ):
            if not spark.catalog.tableExists(name):
                spark.sql(
                    f"CREATE TABLE {name} ({ddl(df)}) USING PARQUET "
                    f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                    f"INTO {BUCKETS} BUCKETS LOCATION '{os.path.join(bdir, sub)}'"
                )
        return build_s
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    for n in (li_name, o_name):
        spark.sql(f"DROP TABLE IF EXISTS {n}")
    t0 = time.perf_counter()
    write_bucketed(li_df, li_name, os.path.join(bdir, "lineitem"), ["l_orderkey"], BUCKETS)
    write_bucketed(o_df, o_name, os.path.join(bdir, "orders"), ["o_orderkey"], BUCKETS)
    build_s = round(time.perf_counter() - t0, 3)
    _mark(bdir, source, build_s)
    return build_s
