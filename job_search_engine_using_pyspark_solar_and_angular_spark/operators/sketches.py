"""Count-min sketch: mergeable frequency counters for heavy-hitter queries.

Third member of the sketch family (HLL distinct rollups and Greenwald-Khanna
quantiles are in textstats / ext_approx_quantiles). Unlike those, THIS sketch
is built from md5-derived bucket hashes, so every counter — and therefore
every estimate — is exactly reproducible in ANSI SQL and oracle-checkable,
not just accuracy-tested.

Scale shape: the sketch is depth × width counters (a few KB) no matter how
many rows feed it — build is one explode (depth rows per input row) + one
hash agg; sketches from different days/jobs/regions MERGE by adding counters
(same (row, bucket) keys), which is the whole point: persist daily sketches,
answer "top talkers over any range" without re-scanning raw events.

Guarantee: estimate >= true count always (counters only over-count via
collisions); over-count <= depth-wise min of bucket collision mass, bounded
in expectation by N * depth / width per the standard CMS analysis. Pinned in
tests: no under-count, and small mean relative over-count at the fixture's
N/width ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist
from ..functions.hashing import md5_long


def _bucket(key_str, i: int, width: int):
    """Row i's bucket for a key: md5('i:key') folded into [0, width)."""
    return md5_long(F.concat(F.lit(f"{i}:"), key_str)) % F.lit(width)


def cms_build(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: one (row, bucket, c) line per non-empty counter.
    Persist this (it is tiny) and add counters to merge sketches."""
    key_str = F.col(key_col).cast("string")
    fanned = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _bucket(key_str, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb")
    )
    return fanned.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count("*").alias("c"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketches built with identical (depth, width): counters add."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Frequency estimate for every key row: min over the key's depth
    counters. Keys absent from the sketch estimate as 0 (left join). The
    sketch side is tiny — Spark broadcasts it, so estimation is a map-only
    pass over the keys."""
    key_str = F.col(key_col).cast("string")
    probes = keys.select(
        F.col(key_col),
        *[_bucket(key_str, i, width).alias(f"__b{i}") for i in range(depth)],
    )
    # persist: the sketch feeds ``depth`` broadcast exchanges below; without
    # it each broadcast re-executes the full build scan (measured: 4 extra
    # corpus scans per estimate). The cached table is ≤ depth×width rows.
    sketch = persist(sketch)
    out = probes
    for i in range(depth):
        s_i = sketch.filter(F.col("row") == i).select(
            F.col("bucket").alias(f"__b{i}"), F.col("c").alias(f"__c{i}")
        )
        out = out.join(F.broadcast(s_i), f"__b{i}", "left")
    est = F.least(*[F.coalesce(F.col(f"__c{i}"), F.lit(0)) for i in range(depth)])
    return out.select(F.col(key_col), est.alias("est"))


def cms_join_cardinality(
    sketch_a: DataFrame, sketch_b: DataFrame
) -> DataFrame:
    """Estimate |A ⋈ B| on the sketched key WITHOUT touching either table:
    the count-min inner product. For each of the depth rows,
    Σ_bucket cA·cB over-estimates Σ_key fA(k)·fB(k) (collisions only add);
    the min over rows is the classic CMS join-size estimate — the statistic
    a cost-based planner wants before committing to a join strategy.

    Returns one row: (est). Exact integer arithmetic start to finish, so
    the estimate itself is oracle-checkable. Sketches must share
    (depth, width)."""
    a = sketch_a.select("row", "bucket", F.col("c").alias("ca"))
    b = sketch_b.select("row", "bucket", F.col("c").alias("cb"))
    per_row = (
        a.join(b, ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    return per_row.agg(F.min("ip").alias("est"))


def _bloom_pos(key_str, i: int, m_bits: int):
    """Hash i's bit position for a key: md5('bf{i}:key') folded into [0, m)."""
    return md5_long(F.concat(F.lit(f"bf{i}:"), key_str)) % F.lit(m_bits)


def bloom_build(
    df: DataFrame, key_col: str, m_bits: int = 8192, k: int = 3
) -> DataFrame:
    """Bloom filter over ``df[key_col]`` as its DISTINCT set-bit positions —
    one (p) row per set bit, <= m_bits rows total (KBs however many keys
    feed it). Fourth member of the sketch family (CMS frequency, HLL
    distinct, GK quantiles, Bloom membership).

    The set-of-positions representation (instead of packed words) is what
    makes the filter exactly reproducible in ANSI SQL: positions are
    md5-derived, so the DuckDB oracle rebuilds the identical filter and the
    identical false-positive set. A production variant packs the same
    positions into m/64 longs; the probe semantics — and the FP analysis —
    are unchanged.

    100 TB shape: build is one k-way fan-out + distinct over a bounded
    domain (m counters); the result broadcasts to every probe task, turning
    a shuffle semi-join into a map-side filter (the same trick Spark's AQE
    runtime filters / bloom join uses, here as an explicit, persistable,
    engine-checkable artifact)."""
    key_str = F.col(key_col).cast("string")
    return (
        df.select(
            F.explode(
                F.array(*[_bloom_pos(key_str, i, m_bits) for i in range(k)])
            ).alias("p")
        )
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probe: DataFrame,
    key_col: str,
    m_bits: int = 8192,
    k: int = 3,
) -> DataFrame:
    """Tag every probe row with ``bloom_pass``: all k of the key's bit
    positions set in the filter. No-false-negative guarantee: a key that was
    in the build set always passes; a pass is only *maybe* present (FP rate
    ~ fill_ratio^k).

    The positions table is packed IN-PLAN into the production wire format —
    a dense array of m/64 int64 words (bit_or per word, map_from_entries →
    one dense transform, all computed once in a 1-row frame) — so the
    per-probe test is k O(1) word-index + bit-mask operations, not a scan
    of the position list (measured: the array_contains form cost
    O(set bits) per check — 10 s for 15M probes; the packed form is
    sub-second). The packed row rides as ONE broadcast value: probing is
    map-only, no shuffle, no collect."""
    n_words = (m_bits + 63) // 64
    words = bits.select(
        F.expr("p div 64").alias("wi"),
        F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("b"),
    )
    wmap = words.groupBy("wi").agg(F.expr("bit_or(b)").alias("w"))
    packed = wmap.agg(
        F.map_from_entries(F.collect_list(F.struct("wi", "w"))).alias("__m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__m"), i.cast("long")), F.lit(0).cast("long")
            ),
        ).alias("__words")
    )
    key_str = F.col(key_col).cast("string")
    cond = F.lit(True)
    for i in range(k):
        pos = _bloom_pos(key_str, i, m_bits)
        word = F.element_at(F.col("__words"), (pos / F.lit(64)).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pos % F.lit(64)).cast("int")
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return (
        probe.crossJoin(F.broadcast(packed))
        .withColumn("bloom_pass", cond)
        .drop("__words")
    )


def cms_build_grouped(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Per-group sketches in ONE pass — the shape a daily job actually
    writes: (group..., row, bucket, c). Any consecutive-or-not subset of
    groups merges by summing counters (cms_merge over the selected rows),
    answering range queries from KBs of persisted state."""
    key_str = F.col(key_col).cast("string")
    fanned = df.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _bucket(key_str, i, width).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("rb"),
    )
    return fanned.groupBy(
        *group_cols, F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count("*").alias("c"))
