"""Similarity search over embedding columns (array<float>).

In-plan tiers (registry queries; the query vector is a literal or a
one-row DataFrame):
- brute-force cosine top-k (exact baseline; X2) — per-row HOF math + one
  TakeOrderedAndProject (``cosine_topk``, ``cosine_topk_df``,
  ``cosine_topk_np``).
- IVF (``ivf_topk_df`` over ``ivf_centroids`` / ``ivf_train_kmeans``).
- int8: per-vector quantization + coarse-then-rerank
  (``quantized_rerank_topk``), integer-exact LSH buckets
  (``lsh_bucket_int8``), product quantization with ADC scoring
  (``pq_adc_topk``), leader clustering (``cluster_assign_int8``).
- embedding near-dup pairs (cosine >= threshold) via random-hyperplane LSH
  buckets — deterministic planes derived from md5 of (plane_index,
  dimension), so signatures are reproducible across runs/partitions.

One served tier: ``ann_lsh_served_vec`` reads float64 embeddings written
partitioned by int8-LSH bucket (``write_vector_index_int8``, or a served
snapshot's ``vectors``) and prunes to the query's probed buckets.

No MLlib dependency: MLlib's LSH uses Vector UDTs and private seeds; plain
arrays + md5-derived planes keep everything oracle-testable and
column-pruning-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from ..functions.vectors import cosine, dot
from .checkpointing import lineage_cut


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Returns (vec_id, sim rounded to 4) ordered sim desc, id asc. The query
    vector is a literal array in the plan — broadcast by construction; the
    scan is embarrassingly parallel and the only cross-partition work is the
    k-row merge."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    out = embeddings.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), q), 4).alias("sim"),
    )
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(exclude_ids))
    return out.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def cosine_topk_df(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Batch exact top-k: every query row against the corpus. Queries are
    broadcast (they are the small side by contract); per-query top-k via
    TWO-PHASE partial aggregation (:func:`~.topk.top_k_per_group_partial`)
    rather than a rank window — a window partitioned by query id would put
    each query's ENTIRE corpus scoring in one task; the partial form caps
    any task at ~N/salts rows and merges k-lists. Returns
    (query_id, rank, sim, id) with sim desc, id tie-break."""
    from .topk import top_k_per_group_partial

    joined = embeddings.crossJoin(F.broadcast(queries)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 4).alias("sim"),
    )
    # ascending struct order == sim desc, id asc
    sort_struct = F.struct(
        (-F.col("sim")).alias("negsim"), F.col(id_col).alias(id_col)
    )
    out = top_k_per_group_partial(
        joined, [query_id_col], sort_struct, k, salt_src=F.col(id_col)
    )
    return out.select(
        query_id_col,
        "rank",
        # + 0.0 normalizes IEEE -0.0 (a round() artifact) to 0.0, matching
        # the registry-wide sim-column convention
        (-F.col("negsim") + F.lit(0.0)).alias("sim"),
        id_col,
    )


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1): derived from
    md5 of 'plane:dim' — stable across runs, languages, partitions."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h / float(1 << 60)) * 2.0 - 1.0


def lsh_bucket(
    embeddings: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH: sign bits of <v, plane_j> packed into an int
    bucket id. Cosine-similar vectors collide with high probability."""
    bits = []
    for j in range(num_planes):
        plane = F.array(*[F.lit(_plane_component(j, d)) for d in range(dim)])
        bits.append(F.when(dot(F.col(vec_col), plane) >= 0, 1 << j).otherwise(0))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return embeddings.withColumn(bucket_col, bucket.cast("int"))


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF codebook: the ``n_centroids`` lowest-id vectors act
    as centroids (reproducible across runs; production swaps in k-means —
    the inverted-list plan below is unchanged). Returns (cent_id, centroid).

    Scale shape: ``orderBy(id).limit(n)`` compiles to TakeOrderedAndProject
    (per-partition heaps + an n-row driver merge) — the full corpus never
    funnels through one task. The row_number window that assigns cent_ids
    runs AFTER the limit, over exactly ``n_centroids`` rows."""
    from pyspark.sql import Window

    picked = embeddings.select(id_col, vec_col).orderBy(F.col(id_col)).limit(n_centroids)
    w = Window.orderBy(F.col(id_col))  # over n_centroids rows only
    return picked.withColumn("__rn", F.row_number().over(w)).select(
        (F.col("__rn") - 1).alias("cent_id"),
        F.col(vec_col).alias("centroid"),
    )


def ivf_train_kmeans(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint: bool = True,
) -> DataFrame:
    """Deterministic Lloyd's k-means codebook: init from the ``n_centroids``
    lowest-id vectors (same as :func:`ivf_centroids`), then ``iters`` rounds
    of assign-to-nearest (cosine) + elementwise-mean recompute. The trained
    codebook drops into ``ivf_assign``/``ivf_topk_df`` unchanged.

    Scale shape per iteration: one broadcast crossJoin (centroids are tiny) +
    argmax agg for the assignment, then ONE posexplode (dim-wise rows) + a
    (cent_id, pos) mean agg + array re-pack via ``array_agg`` sorted by pos —
    never a collect_list of whole vectors into one task. Empty clusters keep
    their previous centroid (left-join + coalesce). ``checkpoint`` truncates
    lineage each round with ``lineage_cut`` — without it, iteration N
    re-derives every earlier round under each broadcast (the classic
    iterative-algorithm trap).

    Float caveat: double means depend on partition merge order, so trained
    centroids are run-stable only per layout — the operator is rows-only in
    the correctness harness; tests assert clustering invariants instead.
    """
    cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    if checkpoint:
        cents = lineage_cut(cents)
    for _ in range(iters):
        assigned = ivf_assign(embeddings, cents, id_col, vec_col)
        dimwise = assigned.select(
            "cent_id", F.posexplode(vec_col).alias("pos", "x")
        )
        means = (
            dimwise.groupBy("cent_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cent_id",
                F.col("pm.m").alias("new_centroid"),
            )
        )
        cents = (
            cents.join(means, "cent_id", "left")
            .select(
                "cent_id",
                F.coalesce("new_centroid", "centroid").alias("centroid"),
            )
        )
        if checkpoint:
            cents = lineage_cut(cents)
    return cents


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (cosine argmax) — the
    inverted-list build. The codebook folds into ONE broadcast array row
    and the argmax is a row-local ``transform`` + ``array_max`` over it:
    zero shuffle and no n_centroids× row blow-up (the previous
    crossJoin + groupBy-max_by formulation shuffled every vector
    n_centroids times WITH its embedding payload). Tie-break identical:
    struct(csim, -cent_id) max == highest similarity, then lowest
    cent_id. At 100 TB, write the result partitioned by cent_id so a
    query scans only its probed lists (partition pruning = the inverted
    file)."""
    cents_row = centroids.agg(
        F.collect_list(F.struct("cent_id", "centroid")).alias("__cents")
    )
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                cosine(F.col(vec_col), c.centroid).alias("csim"),
                (-c.cent_id).alias("t"),
                c.cent_id.alias("cent_id"),
            ),
        )
    )
    return embeddings.crossJoin(F.broadcast(cents_row)).select(
        F.col(id_col),
        F.col(vec_col),
        best.getField("cent_id").alias("cent_id"),
    )


def ivf_topk_df(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    exclude_ids: list[int] | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k with the query vector kept IN-PLAN: ``query`` is
    a one-row DataFrame holding the query vector. No driver-side ``.first()``
    mid-plan — probe selection and candidate scoring both consume the vector
    via a broadcast crossJoin, so the whole thing stays one lazy Catalyst plan
    (mirrors x2_cosine_topk)."""
    if centroids is None:
        centroids = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    assigned = ivf_assign(embeddings, centroids, id_col, vec_col)
    probes = (
        centroids.crossJoin(F.broadcast(query))
        .select(
            "cent_id",
            cosine(F.col("centroid"), F.col(query_vec_col)).alias("qsim"),
        )
        .orderBy(F.col("qsim").desc(), F.col("cent_id"))
        .limit(nprobe)
        .select("cent_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cent_id")
        .crossJoin(F.broadcast(query))
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 4).alias("sim"),
        )
    )
    if exclude_ids:
        cand = cand.filter(~F.col(id_col).isin(exclude_ids))
    return cand.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def cosine_topk_np(
    embeddings: DataFrame,
    query_vec: list[float] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: list[int] | None = None,
    query: DataFrame | None = None,
    query_vec_col: str = "qv",
) -> DataFrame:
    """Vectorized exact cosine top-k: numpy dot over Arrow batches via
    mapInPandas — the throughput tier for reranking ANN candidates (the HOF
    tier in ``cosine_topk`` stays the oracle-exact baseline; this one is
    recall-tested against it).

    The query vector comes either as a literal list (``query_vec`` — a served
    query the driver already holds) or IN-PLAN as a one-row DataFrame
    (``query``): the row is broadcast-crossJoined so every Arrow batch carries
    it, and construction stays fully lazy — no driver collect.

    Scale shape: scoring is embarrassingly parallel per Arrow batch (no
    shuffle, no per-row Python); only (id, sim) pairs leave the workers, and
    the final cut is TakeOrderedAndProject. float64 math like the JVM tier."""
    import numpy as np

    if (query_vec is None) == (query is None):
        raise ValueError("pass exactly one of query_vec / query")

    src = embeddings.select(id_col, vec_col)
    if query is not None:
        src = src.crossJoin(F.broadcast(query.select(query_vec_col)))
    lit_q = np.asarray(query_vec, dtype="float64") if query_vec is not None else None

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = (
                lit_q
                if lit_q is not None
                else np.asarray(pdf[query_vec_col].iloc[0], dtype="float64")
            )
            qn = float(np.linalg.norm(q))
            m = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype="float64")))
            dots = m @ q
            norms = np.linalg.norm(m, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(norms > 0, dots / norms, 0.0)
            yield pd.DataFrame({id_col: pdf[id_col], "sim": np.round(sims, 4)})

    out = src.mapInPandas(score, schema=f"{id_col} long, sim double")
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(exclude_ids))
    return out.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def planes_for_corpus(n_rows: int, target_bucket: int = 1024) -> int:
    """Pick num_planes so the EXPECTED bucket size n/2^p ≈ target_bucket.
    With 8 planes = 256 buckets, per-bucket self-joins grow O((n/256)²) — at
    large n the plane count must grow with log2(n) to keep each bucket's
    quadratic term bounded. Clamped to [8, 24]."""
    import math

    p = math.ceil(math.log2(max(n_rows, 1) / max(target_bucket, 1))) if n_rows > target_bucket else 8
    return max(8, min(24, p))


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold), candidates limited
    to same-LSH-bucket pairs. Returns (id_a, id_b, sim).

    Skew bound: expected bucket size is n/2^num_planes, but hyperplane LSH
    buckets are data-dependent — a dense cluster can put a large fraction of
    the corpus in ONE bucket, making that bucket's self-join quadratic. Two
    controls:
    - size ``num_planes`` via :func:`planes_for_corpus` so the EXPECTED
      bucket is small;
    - ``max_bucket_size``: buckets above the cap are refined with extra
      hyperplanes (one more plane per doubling over the cap, up to 8) before
      self-joining, which splits the hot bucket geometrically. Pairs whose
      members land in different refined sub-buckets are missed — the standard
      LSH recall/cost trade, documented here and pinned by the skew test."""
    b = lsh_bucket(embeddings, num_planes, dim, vec_col)
    if max_bucket_size is not None:
        import math

        sizes = b.groupBy("bucket").agg(F.count("*").alias("__bn"))
        b = b.join(F.broadcast(sizes), "bucket")
        # extra planes for oversized buckets: ceil(log2(size/cap)), <= 8
        over = F.col("__bn") > max_bucket_size
        extra_bits = []
        for j in range(8):
            plane = F.array(
                *[F.lit(_plane_component(1000 + j, d)) for d in range(dim)]
            )
            need = F.ceil(F.log2(F.col("__bn") / F.lit(max_bucket_size)))
            use_plane = over & (F.lit(j) < F.least(need, F.lit(8)))
            extra_bits.append(
                F.when(use_plane & (dot(F.col(vec_col), plane) >= 0), 1 << j).otherwise(0)
            )
        refine = extra_bits[0]
        for eb in extra_bits[1:]:
            refine = refine + eb
        b = b.withColumn(
            "bucket",
            (F.col("bucket").cast("long") * F.lit(1 << 8) + refine).cast("long"),
        ).drop("__bn")
    left = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), F.col("bucket")
    )
    right = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), F.col("bucket")
    )
    pairs = left.join(right, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("sim")
        )
        .filter(F.col("sim") >= threshold)
    )


def _rademacher_component(plane: int, dim: int) -> int:
    """Deterministic Rademacher (+1/-1) plane entry from md5 parity of
    'iplane:plane:dim' — stable across runs, languages, partitions. Sign
    random projections with +-1 entries are the classic SimHash-for-cosine
    construction (Charikar 2002) and SIMD-trivial at scale."""
    import hashlib

    h = int(hashlib.md5(f"iplane:{plane}:{dim}".encode()).hexdigest()[:8], 16)
    return 1 if h & 1 else -1


def rademacher_plane(plane: int, dim: int) -> list[int]:
    """The full +-1 plane vector (shared by the Spark plan and the SQL
    oracle generator so both sides hash identical bucket assignments)."""
    return [_rademacher_component(plane, d) for d in range(dim)]


def lsh_bucket_int8(
    quantized: DataFrame,
    num_planes: int = 4,
    dim: int = 64,
    codes_col: str = "codes",
    bucket_col: str = "bucket",
) -> DataFrame:
    """INTEGER-EXACT sign-random-projection LSH over int8 codes: bucket bit
    j is the sign of <codes, r_j> with a Rademacher +-1 plane. Every term is
    small-integer arithmetic — order-independent and bit-identical in any
    engine — so unlike the float-hyperplane tier (:func:`lsh_bucket`, whose
    signs can flip on ulp-level dot-product differences) this bucketing has
    an EXACT SQL oracle. Ties (<codes, r_j> == 0) bucket as bit set,
    mirroring the float tier's ``>= 0`` convention.

    Scale shape: pure per-row column math (zip_with + aggregate HOFs), no
    shuffle, no Python; the int8 codes are the 4x-compressed tier a 100 TB
    vector index keeps hot, so bucketing reads 1/4 the bytes of the float
    path.

    ``dim`` MUST equal the code length: ``zip_with`` against a plane of a
    different length null-pads, the aggregate sum goes NULL, and every
    vector would silently land in bucket 0 (a degenerate one-bucket index
    with no pruning). Guarded: any row whose ``size(codes) != dim`` raises
    at execution time instead of null-poisoning the dot product. The guard
    is an ``assert_true`` on the SIZE alone, added as a NULL-coalesced zero
    — wrapping the whole 4-plane dot product in when/otherwise(raise_error)
    measured 2x slower on the full ANN query (the conditional blocks
    subexpression reuse around the join on bucket)."""
    bits = []
    for j in range(num_planes):
        plane = F.array(
            *[F.lit(_rademacher_component(j, d)) for d in range(dim)]
        )
        d_j = F.aggregate(
            F.zip_with(F.col(codes_col), plane, lambda c, p: (c * p).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d_j >= 0, F.lit(1 << j)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    guard = F.assert_true(
        F.size(F.col(codes_col)) == F.lit(dim),
        F.concat(
            F.lit("lsh_bucket_int8: codes length "),
            F.size(F.col(codes_col)).cast("string"),
            F.lit(f" != plane dim {dim}; pass dim= matching the embedding"),
        ),
    )  # NULL when the size matches, raises otherwise
    return quantized.withColumn(
        bucket_col,
        (bucket + F.coalesce(guard.cast("int"), F.lit(0))).cast("int"),
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-vector scalar int8 quantization: the storage-compression stage of
    a 100 TB vector index (4x smaller than float32, 8x smaller than float64;
    SIMD-friendly codes for the coarse scoring pass).

    codes[i] = floor((x[i] - mn) * 255 / (mx - mn) + 0.5) - 128  in [-128,127]
    with per-vector (mn = min(x), scale = (mx - mn) / 255) stored alongside,
    so dequantize is x̂[i] = mn + (codes[i] + 128) * scale and the max
    per-component reconstruction error is scale/2.

    Every step is exact double arithmetic on exactly-converted float32
    inputs — floor, not banker's/half-away rounding — so codes are
    bit-identical across engines (oracle-checked). Constant vectors
    (mx == mn) quantize to all-zero codes with scale 0.

    Scale shape: pure per-row column math (transform HOF) — no shuffle, no
    Python; column pruning keeps only (id, vec) in the scan. The vector
    min/range are STAGED as columns before the transform (r11): embedded
    in the per-element lambda they re-evaluate array_min/array_max once
    PER ELEMENT after projection collapse — O(d²) per vector for loop-
    invariant values (the same HOF trap minhash_signatures documents;
    measured ~30% off the quantized-ANN query at sf0.1, values identical).

    ``keep_cols``: extra input columns carried through unchanged — a
    caller that needs the full-precision vector next to the codes passes
    it here instead of re-joining the corpus on id (one fewer shuffle)."""
    v = F.col(vec_col)
    keep = list(keep_cols or [])
    staged = embeddings.select(
        *keep,
        F.col(id_col),
        v.alias("__v"),
        F.array_min(v).cast("double").alias("__mn"),
        (F.array_max(v).cast("double") - F.array_min(v).cast("double")).alias(
            "__rng"
        ),
    )
    mn = F.col("__mn")
    rng = F.col("__rng")
    codes = F.transform(
        F.col("__v"),
        lambda x: F.when(rng == 0.0, F.lit(0)).otherwise(
            (F.floor((x.cast("double") - mn) * 255.0 / rng + 0.5) - 128).cast("int")
        ),
    )
    return staged.select(
        *keep,
        F.col(id_col),
        codes.alias("codes"),
        mn.alias("zero_point"),
        (rng / 255.0).alias("scale"),
    )


def dequantize_int8(
    quantized: DataFrame,
    codes_col: str = "codes",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: x̂[i] = zero_point + (code+128)*scale
    as array<double>. Used by the coarse-then-rerank pipeline: score candidates
    on dequantized codes, rerank survivors on the full-precision column."""
    deq = F.transform(
        F.col(codes_col),
        lambda c: F.col("zero_point") + (c.cast("double") + 128.0) * F.col("scale"),
    )
    return quantized.withColumn("approx", deq)


def quantized_rerank_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 5,
    m: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Coarse-then-rerank top-k over the QUANTIZED tier: score every vector
    on its int8-dequantized approximation (the 4×-smaller codes a 100 TB
    index actually keeps hot), keep the top-``m`` candidates, then rerank
    only those on the full-precision column.

    Fully deterministic — coarse scores round to 4 decimals with id
    tie-breaks, and dequantized vectors are exact doubles — so unlike the
    LSH/IVF tiers this ANN path has an EXACT SQL oracle. The query vector
    stays in-plan (broadcast crossJoin; no driver-side collect).

    Scale shape: coarse pass is per-row math + TakeOrderedAndProject(m);
    rerank touches m rows via a broadcast semi-ish join. Only the coarse
    scan reads codes; full-precision vectors load for m rows, not N."""
    q = F.broadcast(query.select(F.col(query_vec_col)))
    approx = dequantize_int8(quantize_int8(embeddings, id_col, vec_col))
    coarse = (
        approx.crossJoin(q)
        .select(
            F.col(id_col),
            (F.round(cosine(F.col("approx"), F.col(query_vec_col)), 4) + F.lit(0.0)).alias(
                "csim"
            ),
        )
        .orderBy(F.col("csim").desc(), F.col(id_col))
        .limit(m)
    )
    return (
        coarse.join(embeddings.select(id_col, vec_col), id_col)
        .crossJoin(q)
        .select(
            F.col(id_col),
            (F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 4) + F.lit(0.0)).alias(
                "sim"
            ),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_int8_corpus(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """CORPUS-quantization: int8 codes in one SHARED space, scaled by
    per-DIMENSION corpus min/max (unlike :func:`quantize_int8`, whose
    per-vector scales make codes of different vectors incomparable).
    Shared-space codes are what cross-vector integer geometry needs:
    cluster assignment, integer L2, bucketing.

    codes[d] = floor((x[d] - mn_d) * 255 / (mx_d - mn_d) + 0.5) - 128
    with (mn_d, mx_d) = corpus min/max of dimension d. Exact double
    arithmetic on exact aggregates — engine-identical, oracle-checkable.
    Constant dimensions quantize to 0.

    Scale shape: one posexplode + (dim) min/max agg — dim-count rows —
    re-packed into two arrays in a 1-ROW frame that broadcast-crossJoins
    back into the corpus; the corpus itself never shuffles and the stats
    stay in-plan (no driver collect)."""
    from ..io import ensure_parallelism

    dims = embeddings.select(F.posexplode(vec_col).alias("pos", "x"))
    stats = dims.groupBy("pos").agg(
        F.min(F.col("x").cast("double")).alias("mn"),
        F.max(F.col("x").cast("double")).alias("mx"),
    )
    arrs = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("s")
    ).select(
        F.transform("s", lambda t: t.mn).alias("__mns"),
        F.transform("s", lambda t: t.mx).alias("__mxs"),
    )
    # the per-row zip_with encode (and every integer-geometry consumer
    # downstream: PQ argmin, cluster assignment, int-L2) is CPU-bound HOF
    # math — spread a narrow scan first (no-op once the input has >= cores
    # splits; measured on the single-row-group sf0.1 embeddings: the PQ
    # tier 2.5 s -> 1.6 s)
    with_stats = ensure_parallelism(embeddings).crossJoin(F.broadcast(arrs))
    paired = F.zip_with(
        F.col(vec_col),
        F.zip_with(
            F.col("__mns"),
            F.col("__mxs"),
            lambda mn, mx: F.struct(mn.alias("mn"), mx.alias("mx")),
        ),
        lambda x, t: F.struct(x.cast("double").alias("x"), t.mn.alias("mn"), t.mx.alias("mx")),
    )
    codes = F.transform(
        paired,
        lambda t: F.when(t.mx == t.mn, F.lit(0)).otherwise(
            (F.floor((t.x - t.mn) * 255.0 / (t.mx - t.mn) + 0.5) - 128).cast("int")
        ),
    )
    return with_stats.select(F.col(id_col), codes.alias("codes"))


# PQ tier defaults — ONE definition shared by pq_adc_topk, the rerank
# funnel's shortlist width, the DuckDB oracles (interpolated at import),
# and the tests.
# r5 recall study (1 query, top-5): ksub 8 -> 16 lifted the rerank funnel
# from 0.6/0.2 to 0.8/0.6 at sf0.01/sf0.1 while widening the shortlist
# alone did nothing; ksub=32 AT m=8 measured worse.
# r6 sweep (4 queries x 3 scales, numpy mirror of the exact pipeline):
# the m=8 subspaces were the bottleneck, not ksub — at m=16 (dsub=4,
# finer sub-quantizers) ksub=32 is strictly better, lifting rerank
# recall@5 to 1.00 / 0.95 / 0.90 mean at sf0.001/0.01/0.1 (query-0 leg,
# the ladder's gate: 1.0 / 1.0 / 0.8) vs 0.75 / 0.75 / 0.65 for the r5
# (m=8, ksub=16) point. Costs (r6, recorded in CHANGES.md):
# encode work x4 (corpus x m x ksub sub-distances), ADC scoring does m=16
# lookups per candidate instead of 8, per-vector code is 16 bytes instead
# of 8 — still 32x smaller than the float64 row. PQ_SHORTLIST stays 100:
# widening to 200/400 bought +0.0-0.10 mean recall at 2-4x rerank cost
# once m=16 fixed the codes.
PQ_M = 16
PQ_KSUB = 32
PQ_SHORTLIST = 100


def _int_l2(a, b):
    """Integer squared L2 between two int arrays (zip_with + fold) — the
    shared distance of every integer-exact vector op here."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_l2_sql(a: str, b: str) -> str:
    """SQL-string twin of :func:`_int_l2`, for call sites that assemble
    many of these per query: every Python-side HOF lambda costs a batch
    of py4j round trips (_create_lambda), and pq_adc_topk's m=16 argmin
    lambdas each embedding one measured ~1.7 s of DRIVER-side plan
    construction PER QUERY (r7). One F.expr parse is a single round trip
    with the identical resulting expression tree."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST((x - y) * (x - y) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _pq_subs_sql(col: str, m: int, dsub: int) -> str:
    """The m sub-slices of a codes array as one array<array<int>>, as a
    SQL string — built ONCE per value (codebook and query: once globally
    in their 1-row frames; corpus: once per row in a staged projection).
    Re-slicing inside the per-entry lambdas instead ran the PQ query 3x
    slower: every (row, codebook-entry, subspace) evaluation allocated
    fresh slices. Shared by the codebook, query and corpus sides of
    :func:`pq_adc_topk` so they can never drift in sub-slice layout."""
    return "array(%s)" % ",".join(
        f"slice({col}, {j * dsub + 1}, {dsub})" for j in range(m)
    )


def _pq_leader_rows(codes: DataFrame, ksub: int, id_col: str) -> DataFrame:
    """The ``ksub`` leader-codebook rows (cid, cc): lowest md5(id), id
    tie-break — hash-selected so the codebook spreads across the corpus
    and stays append-stable. One definition, used by both the in-plan tier
    and the index writer (the tie-break and hash here are what the SQL
    oracles replicate)."""
    return (
        codes.select(
            F.col(id_col).alias("cid"),
            F.col("codes").alias("cc"),
            md5_long(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h", "cid")
        .limit(ksub)
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011) — the memory-compression tier of a 100 TB vector index: a
    vector stores as ``m`` sub-codebook ids (here m=8 bytes against 512
    bytes of float64), and query scoring reads ONLY the codes.

    Integer-EXACT variant, same discipline as :func:`cluster_assign_int8`:
    shared-space int8 codes (:func:`quantize_int8_corpus`), sub-codebooks
    = the ``ksub`` lowest-md5(id) corpus vectors' sub-slices (leader
    codebooks — hash-selected, append-stable; Lloyd-refined float
    codebooks would be partition-order sensitive and drop to rows-only),
    encode = per-subspace integer-L2 argmin with (dist, codebook-id)
    tie-break, ADC = sum over subspaces of integer L2 between the QUERY's
    sub-code and the corpus vector's ASSIGNED sub-centroid. Every step is
    integer/hash arithmetic — full SQL oracle (ext_ann_pq).

    Returns top-``k`` (id, pq_code, adc_dist2) by ascending ADC distance,
    id tie-break; ``pq_code`` is the dash-joined codebook-id string (the
    m-byte compressed representation, human-readable).

    Scale shape: codes materialize ONCE (lineage_cut — the same compressed
    table the int8-LSH tier persists); the codebook folds into ONE
    broadcast row; encode + ADC are row-local HOF math over that broadcast
    (the m per-subspace argmin structs stage in ONE projection — each is
    multiply-referenced, and un-staged expressions re-evaluate per
    reference); the only shuffle is the final TakeOrderedAndProject. At
    serving scale the encode runs once at index time and ADC reads m
    SMALL-int columns per candidate — the bytes/candidate that make PQ the
    RAM-resident tier when even int8 full codes blow the budget."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible into m={m} subspaces")
    dsub = dim // m
    codes = lineage_cut(
        quantize_int8_corpus(embeddings, id_col, vec_col), checkpoint_dir
    )
    corpus = codes.filter(F.col(id_col) != query_id)
    cb_row = (
        _pq_leader_rows(corpus, ksub, id_col)
        .agg(F.collect_list(F.struct("cid", "cc")).alias("__cb0"))
        .select(
            F.expr(
                "transform(__cb0, e -> struct(e.cid AS cid, "
                f"{_pq_subs_sql('e.cc', m, dsub)} AS subs))"
            ).alias("__cb")
        )
    )
    q_row = codes.filter(F.col(id_col) == query_id).select(
        F.expr(_pq_subs_sql("codes", m, dsub)).alias("__qs")
    )
    guard = F.assert_true(
        F.size(F.col("codes")) == F.lit(dim),
        F.concat(
            F.lit("pq_adc_topk: codes length "),
            F.size(F.col("codes")).cast("string"),
            F.lit(f" != dim {dim}; pass dim= matching the embedding"),
        ),
    )
    pre = (
        corpus.crossJoin(F.broadcast(cb_row))
        .crossJoin(F.broadcast(q_row))
        .select(
            F.col(id_col),
            "__cb",
            "__qs",
            F.expr(_pq_subs_sql("codes", m, dsub)).alias("__subs"),
            F.coalesce(guard.cast("long"), F.lit(0)).alias("__g"),
        )
    )

    # per-subspace argmin over the broadcast codebook; the winner carries
    # its OWN sub-codes so ADC needs no positional lookup (collect_list
    # order never matters: argmin is order-independent, ties break on cid).
    # Assembled as SQL strings, not Python HOF lambdas: the m=16 argmin
    # transforms each wrapping a _int_l2 fold measured ~1.7 s of py4j
    # plan-construction latency per query (the dominant cost of
    # ext_ann_pq at sf0.1 — build, not execution); one F.expr parse per
    # column yields the identical expression tree (r7, see _int_l2_sql;
    # equality pinned by the unchanged oracle).
    def _best_sql(jj: int) -> str:
        d = _int_l2_sql(
            f"element_at(__subs, {jj + 1})", f"element_at(e.subs, {jj + 1})"
        )
        return (
            f"array_min(transform(__cb, e -> struct({d} AS d, "
            f"e.cid AS cid, element_at(e.subs, {jj + 1}) AS cc_sub)))"
        )

    staged = pre.select(
        F.col(id_col),
        "__qs",
        F.expr("array(%s)" % ",".join(_best_sql(j) for j in range(m))).alias(
            "__pq"
        ),
        "__g",
    )
    adc_sql = " + ".join(
        _int_l2_sql(
            f"element_at(__qs, {j + 1})", f"element_at(__pq, {j + 1}).cc_sub"
        )
        for j in range(m)
    )
    code_sql = "concat_ws('-', %s)" % ",".join(
        f"CAST(element_at(__pq, {j + 1}).cid AS STRING)" for j in range(m)
    )
    return (
        staged.select(
            F.col(id_col),
            F.expr(code_sql).alias("pq_code"),
            (F.col("__g") + F.expr(adc_sql)).alias("adc_dist2"),
        )
        .orderBy(F.col("adc_dist2").asc(), F.col(id_col))
        .limit(k)
    )


def cluster_assign_int8(
    embeddings: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Integer-EXACT leader clustering: assign every vector to its nearest
    of ``n_centroids`` hash-selected exemplar vectors by squared L2 over
    shared-space int8 codes. Returns (id, centroid_id, dist2).

    Exactness chain: corpus codes are engine-identical
    (:func:`quantize_int8_corpus`); exemplars are the ``n_centroids``
    lowest md5(id) vectors (hash order — spread across the corpus, stable
    under append unlike lowest-id); distance is an integer sum of squared
    int8 differences; argmin tie-breaks on centroid id. Every step is
    integer/hash arithmetic — a full SQL oracle exists, unlike trained
    k-means (float means are partition-order sensitive, rows-only).

    Scale shape: the codes table is materialized ONCE (``lineage_cut`` —
    plan audit showed the quantization subplan otherwise re-executes for
    the exemplar pick: 4 corpus scans instead of 2); it is exactly the
    compressed tier a 100 TB vector index persists anyway, so production
    callers write it and pass it around. Exemplar pick is
    TakeOrderedAndProject(n) over the materialized codes; the exemplars
    then fold into ONE broadcast array row, and the argmin is a row-local
    ``transform`` + ``array_min`` over that array — no n_centroids× row
    blow-up and ZERO shuffle for the assignment itself (a crossJoin +
    groupBy-min formulation measured 5× slower at 200k vectors because it
    materialized and shuffled 32 scored rows per vector). ``array_min``
    on struct(dist2, centroid_id) is the lexicographic min — the same
    id tie-break as the SQL oracle's ROW_NUMBER. ``checkpoint_dir``:
    reliable materialization on a cluster (same contract as the
    iterative algorithms)."""
    codes = lineage_cut(
        quantize_int8_corpus(embeddings, id_col, vec_col), checkpoint_dir
    )
    exemplars = (
        codes.select(
            F.col(id_col).alias("centroid_id"),
            F.col("codes").alias("ccodes"),
            md5_long(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h", "centroid_id")
        .limit(n_centroids)
        .drop("__h")
    )
    ex_row = exemplars.agg(
        F.collect_list(F.struct("centroid_id", "ccodes")).alias("__exs")
    )

    def _d2(ccodes):
        return F.aggregate(
            F.zip_with(
                F.col("codes"),
                ccodes,
                lambda a, b: ((a - b) * (a - b)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.transform(
            F.col("__exs"),
            lambda e: F.struct(
                _d2(e.ccodes).alias("dist2"), e.centroid_id.alias("centroid_id")
            ),
        )
    )
    return codes.crossJoin(F.broadcast(ex_row)).select(
        F.col(id_col),
        best.getField("centroid_id").alias("centroid_id"),
        best.getField("dist2").alias("dist2"),
    )


def diversity_sample(
    embeddings: DataFrame,
    n_centroids: int = 8,
    per_cluster: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster-quota diversity sampling — the semantic-coverage selection
    step of a training-data pipeline (cluster the corpus, cap each
    cluster's contribution) that prevents dominant modes from swamping the
    mixture, in the spirit of SemDeDup/cluster-balanced selection.

    Pipeline: integer-exact leader clustering (:func:`cluster_assign_int8`)
    -> per-cluster rank by md5(id) (a deterministic uniform draw WITHIN the
    cluster, independent of the clustering hash via a salt) -> keep
    ``per_cluster``. Returns (id, centroid_id, rn). Deterministic end to
    end, so the whole selection is SQL-oracle-checked.

    Scale shape: the only window is partitioned BY CLUSTER (never global),
    and its input carries (id, centroid_id, hash) — never text or
    vectors; survivors join back to payloads by id downstream."""
    from pyspark.sql import Window

    assigned = cluster_assign_int8(
        embeddings, n_centroids, id_col, vec_col, checkpoint_dir
    )
    draw = md5_long(F.concat(F.col(id_col).cast("string"), F.lit("divsamp")))
    w = Window.partitionBy("centroid_id").orderBy(draw, F.col(id_col))
    return (
        assigned.select(id_col, "centroid_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= per_cluster)
    )


def write_vector_index_int8(
    embeddings: DataFrame,
    path: str,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Materialize the SERVED ANN tier: full-precision vectors, written
    partitioned by the integer-LSH bucket of their int8 codes (the codes
    themselves are not stored) — the layout where a query reads ONLY its
    bucket's files (partition pruning IS the index).
    ``repartition(bucket)`` first so each bucket directory is written by
    the tasks owning it (no files-per-task × buckets explosion).
    ``dim`` must match the embedding length (enforced per-row by
    :func:`lsh_bucket_int8`'s size guard)."""
    q = quantize_int8(embeddings, id_col, vec_col)
    b = lsh_bucket_int8(q, num_planes=num_planes, dim=dim).select(id_col, "bucket")
    out = embeddings.join(b, id_col)
    out.repartition(F.col("bucket")).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)


def _python_quantize_vec(vec: list[float]) -> list[int]:
    """Per-VECTOR int8 quantization of one query vector, driver-side — the
    exact arithmetic of :func:`quantize_int8` (floor on doubles; Python
    floats ARE IEEE doubles, so codes are bit-identical to the in-plan
    path — pinned by test_python_quantize_vec_matches_spark_property)."""
    import math

    fs = [float(x) for x in vec]
    mn, mx = min(fs), max(fs)
    if mx == mn:
        return [0] * len(fs)
    return [
        int(math.floor((x - mn) * 255.0 / (mx - mn) + 0.5)) - 128 for x in fs
    ]


def _python_bucket_int8(
    codes: list[int], num_planes: int, dim: int, multiprobe: bool
) -> list[int]:
    """Integer-LSH bucket of pre-quantized codes, driver-side — same
    Rademacher planes and >=0 convention as :func:`lsh_bucket_int8`;
    multiprobe adds every Hamming-1 neighbor."""
    if len(codes) != dim:
        raise ValueError(f"query dim {len(codes)} != index dim {dim}")
    bucket = 0
    for j in range(num_planes):
        if (
            sum(c * _rademacher_component(j, d) for d, c in enumerate(codes))
            >= 0
        ):
            bucket |= 1 << j
    probes = [bucket]
    if multiprobe:
        probes += [bucket ^ (1 << j) for j in range(num_planes)]
    return probes


def ann_lsh_served_vec(
    spark,
    index: DataFrame,
    query_vec: list[float],
    k: int = 5,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: bool = True,
    dim: int = 64,
) -> DataFrame:
    """THE int8-LSH read path: serve ANN from a resolved relation over the
    on-disk bucket-partitioned index (``spark.read.parquet`` of a
    :func:`write_vector_index_int8` directory, or a served snapshot's
    ``vectors``, keyed by ``doc_id``). The query arrives as a VECTOR
    and is quantized and bucketed driver-side (pure integer arithmetic,
    zero Spark jobs); the scan reads only the probed ``bucket=`` partitions
    through a static ``isin`` filter (static partition pruning), and
    candidates rank by round-4 cosine, id tie-break. Returns (id, sim).
    Rows equal the in-session registry twins, ``ext_ann_lsh_multiprobe``
    and (``multiprobe=False``) ``ext_ann_lsh_quantized``: same integer
    bucket arithmetic, same ranking (pinned by test).

    ``multiprobe=True`` (the default) probes the query's bucket plus every
    Hamming-1 neighbor (Lv et al., multi-probe LSH): 1+num_planes of the
    2^num_planes partitions. The single-bucket probe measured recall@5 =
    0.0 at sf0.01 and 0.2 at sf0.1; multiprobe 0.4 / 0.6 (commit 678d883).

    Static pruning is the reason for the driver-side bucket (commit
    a31aae7, 1M vectors, 1024 partitions): bucketing the query in-plan
    planned the query subtree five times and pruned through a
    dynamic-partition-pruning subquery, ~2.4 s of per-query fixed cost
    whatever the probes touched.

    ``dim`` must match :func:`write_vector_index_int8`'s build dim (both
    default 64) and is validated against the query's length: the driver-side
    bucket arithmetic has no per-row size guard, so a wrong-dim query would
    otherwise probe arbitrary buckets while cosine's zip_with null-pads —
    silent NULL sims instead of a loud error."""
    import math

    if len(query_vec) != dim:
        raise ValueError(f"query dim {len(query_vec)} != index dim {dim}")
    codes = _python_quantize_vec(query_vec)
    probes = _python_bucket_int8(codes, num_planes, dim, multiprobe)
    # One parsed expression instead of dim F.lit round trips (see
    # _int_l2_sql): Python repr is the shortest round-trip form, and
    # Java's correctly-rounded parse recovers the identical double, so
    # the literal array is bit-equal to the F.lit path.
    # Non-finite components (never produced by the writer) keep the
    # Column-literal path rather than relying on string spellings of
    # NaN/Infinity surviving the SQL parser's cast.
    fs = [float(x) for x in query_vec]
    if all(math.isfinite(x) for x in fs):
        qlit = F.expr(
            "array(%s)" % ",".join(f"cast('{x!r}' as double)" for x in fs)
        )
    else:
        qlit = F.array(*[F.lit(x).cast("double") for x in fs])
    return (
        index.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            (F.round(cosine(F.col(vec_col), qlit), 4) + F.lit(0.0)).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def zscore_dims(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
) -> DataFrame:
    """Per-DIMENSION corpus z-normalization (feature whitening) — the
    standard preprocessing before clustering/ANN when dimensions have
    uneven scales.

    Two corpus passes, NO corpus-sized shuffle: (1) posexplode → per-dim
    (n, Σx, Σx²) — 64 groups, map-side partial agg, the shuffle carries
    dims×partitions rows; (2) the stats pivot into three dim-ordered arrays
    in ONE broadcast row, and each vector normalizes in-place via an
    indexed ``transform`` — never exploding the corpus again and never
    re-assembling arrays through a collect_list shuffle.

    Exactness contract: inputs are micro-quantized (round(x·1e6) — exact
    doubles), the sums are exact decimal(38) integers, and every later op
    is the same IEEE double expression in both engines, so the output is
    bit-identical cross-engine (oracle-checked) despite the cancellation-
    prone n·Σx²−(Σx)² form. Constant dimensions normalize to 0."""
    rows = embeddings.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
    xq = F.round(F.col("x").cast("double") * quant, 0).cast("decimal(38,0)")
    stats = (
        rows.select("dim", xq.alias("xq"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("xq").alias("s"),
            F.sum(F.col("xq") * F.col("xq")).alias("ss"),
        )
    )
    packed = stats.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("dim"),
                    F.col("n").cast("double").alias("n"),
                    F.col("s").cast("double").alias("s"),
                    F.col("ss").cast("double").alias("ss"),
                )
            )
        ).alias("a")
    ).select(
        F.transform("a", lambda t: t["n"]).alias("__n"),
        F.transform("a", lambda t: t["s"]).alias("__s"),
        F.transform("a", lambda t: t["ss"]).alias("__ss"),
    )

    def z(x, i):
        xqd = F.round(x.cast("double") * quant, 0)
        n = F.element_at("__n", i + 1)
        s = F.element_at("__s", i + 1)
        ss = F.element_at("__ss", i + 1)
        b = n * ss - s * s
        return F.when(
            b > 0,
            F.round((xqd * n - s) * F.sqrt((n - 1) / (n * b)), 6),
        ).otherwise(F.lit(0.0))

    return embeddings.crossJoin(F.broadcast(packed)).select(
        F.col(id_col), F.transform(F.col(vec_col), z).alias("norm")
    )
