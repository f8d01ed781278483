"""Link-analysis over document similarity graphs: integer-exact PageRank.

Web-corpus curation uses link centrality as a quality prior (a page many
pages point at is worth keeping; an orphaned near-dup is not). The engine
already derives a graph from content — LSH candidate pairs — so the same
edges that drive dedup clustering can rank documents by connectivity.

Exactness: classic PageRank iterates floating-point mass, which is
summation-order-dependent and so un-oracle-able. This formulation keeps ALL
mass in integer micro-units (scale = 1e12):

    contrib(u->v) = rank(u) div deg(u)
    rank'(v)      = (15 * (scale div n)) div 100  +  (85 * Σ contrib) div 100

Every operation is integer division/addition — bit-identical in any engine,
so a FIXED-iteration run has an exact SQL oracle (the iterations unroll as
chained CTEs; no recursive aggregates needed). The div-floor leaks a few
units of mass per division — at scale=1e12 that is a ~1e-12 relative bias,
irrelevant for ranking and the price of exactness.

Scale shape per iteration: one join edges⋈ranks on the source key + one
sum-shuffle on the destination key — identical to the connected-components
round shape (operators/dedup.py), with ``lineage_cut`` cutting lineage
(localCheckpoint by default; reliable ``checkpoint_dir`` for cluster jobs)
so iteration k's plan does not embed iterations 1..k-1. Dangling nodes
cannot exist here (every node in an LSH pair has degree >= 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist
from .checkpointing import lineage_cut, symmetric_edge_cut

SCALE = 10**12


def triangle_stats(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    assume_distinct: bool = False,
) -> DataFrame:
    """Global triangle census of the undirected graph of ``pairs`` (edges
    pre-oriented ``src < dst``, as LSH candidate pairs are): one row with
    n_nodes, n_edges, n_triangles, n_triplets (open+closed length-2 paths,
    Σ d(d-1)/2 — exact integers), and the global clustering coefficient
    3·T / triplets.

    Plan shape: a triangle (a<b<c) is counted ONCE by joining the oriented
    edge list with itself twice — (a,b)⋈(b,c) on the middle vertex, then a
    hash semi-probe for the closing edge (a,c). Orienting every edge
    low-id→high-id is the standard compact-forward trick: each triangle has
    exactly one orientation, so no /3 correction and, at scale, the join
    fan-out of a hub vertex is bounded by its *higher-id* neighbors only.
    Two shuffles on vertex keys; degrees are one more groupBy on the same
    exploded edge list.

    ``assume_distinct``: skip the defensive dedup when the caller's pairs
    are distinct by construction (``minhash_lsh_candidates`` output is) —
    the re-distinct is a full corpus-pairs shuffle for zero information
    (r11)."""
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not assume_distinct:
        e = e.distinct()
    e = persist(e)
    e1 = e.select(F.col("a"), F.col("b").alias("m"))
    e2 = e.select(F.col("a").alias("m"), F.col("b").alias("c"))
    wedges = e1.join(e2, "m").select("a", "c", F.col("m").alias("b"))
    closed = wedges.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    )
    tri_n = closed.agg(F.count("*").alias("n_triangles"))
    edges_n = e.agg(F.count("*").alias("n_edges"))
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    node_stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("CAST(deg * (deg - 1) div 2 AS BIGINT)")).alias("n_triplets"),
    )
    return (
        node_stats.crossJoin(edges_n)
        .crossJoin(tri_n)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_triplets",
            F.when(
                F.col("n_triplets") > 0,
                F.round(
                    3.0 * F.col("n_triangles").cast("double")
                    / F.col("n_triplets").cast("double"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def _require_exactly_one_edge_source(pairs, edges) -> None:
    """``pairs=`` and ``edges=`` are ALTERNATIVE edge sources — exactly one
    must be given. Silently preferring ``edges`` when both arrive would
    hide a caller bug (ADVICE r9), mirroring near_dedup_survivors' "pass
    exactly one" contract."""
    if (pairs is None) == (edges is None):
        raise ValueError("pass exactly one of pairs= or edges=")


def pagerank_int(
    pairs: DataFrame | None,
    src: str = "doc_a",
    dst: str = "doc_b",
    iters: int = 5,
    scale: int = SCALE,
    checkpoint_dir: str | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Integer PageRank over the undirected graph of ``pairs``. Returns
    (node, rank) for every node in at least one pair, rank in micro-units
    of ``scale``. Deterministic for any partitioning/run.

    ``edges``: optional PRE-CUT symmetric distinct edge table (a, b) —
    pass ``dedup.symmetric_edges_from_buckets(banded)`` when the graph
    comes from an LSH bucket table, skipping the oriented-pairs distinct
    plus the symmetric re-distinct (one dedup shuffle instead of two;
    pass ``None`` for ``pairs`` — supplying both raises).

    Plan shape (r11): with the default local checkpointing the FIXED
    ``iters`` rounds chain as ONE lazy plan — exactly how the oracle
    unrolls them as chained CTEs. Rank is referenced once per round, so
    the fused tree grows LINEARLY in ``iters`` (unlike BFS, whose per-
    round double self-reference doubles the tree — BFS keeps its cuts),
    and the repeated deg/edges⋈deg subtrees collapse to ReusedExchange at
    planning. The pre-r11 per-round ``localCheckpoint(eager=False)``
    spent a full driver-side physical-planning pass per round (~1.65 s of
    the query's 3.4 s at sf0.1) and the up-front ``deg.count()`` was one
    more barrier job — n now stays in-plan as a broadcast 1-row aggregate
    (same floor division, value-identical; pinned by the exact oracle).
    Reliable ``checkpoint_dir`` mode keeps the per-round cuts: a 1000-
    executor hours-long run wants bounded recompute on executor loss more
    than it wants 5 driver planning passes."""
    _require_exactly_one_edge_source(pairs, edges)
    if edges is None:
        edges = symmetric_edge_cut(pairs, src, dst, checkpoint_dir)
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    if checkpoint_dir is None:
        # fused fixed-round plan: one planning pass, no barrier jobs
        n1 = F.broadcast(deg.agg(F.count("*").alias("__n")))
        base_expr = F.expr(
            f"(15 * (CAST({scale} AS BIGINT) div __n)) div 100"
        )
        rank = deg.crossJoin(n1).select(
            F.col("a").alias("node"),
            F.expr(f"CAST({scale} AS BIGINT) div __n").alias("rank"),
        )
        nodes = deg.select(F.col("a").alias("node"))
        edges_deg = edges.join(deg, "a")
        for _ in range(iters):
            contrib = edges_deg.join(
                rank, edges_deg.a == rank.node
            ).select(F.col("b").alias("node"), F.expr("rank div deg").alias("c"))
            incoming = contrib.groupBy("node").agg(F.sum("c").alias("s"))
            rank = (
                nodes.join(incoming, "node", "left")
                .crossJoin(n1)
                .select(
                    "node",
                    (
                        base_expr
                        + F.expr("(85 * coalesce(s, 0L)) div 100")
                    ).alias("rank"),
                )
            )
        return rank
    deg = lineage_cut(deg, checkpoint_dir, eager=False)
    n = deg.count()
    base = (15 * (scale // n)) // 100
    rank = deg.select(F.col("a").alias("node"), F.lit(scale // n).alias("rank"))
    edges_deg = lineage_cut(edges.join(deg, "a"), checkpoint_dir, eager=False)
    for _ in range(iters):
        contrib = edges_deg.join(
            rank, edges_deg.a == rank.node
        ).select(F.col("b").alias("node"), F.expr("rank div deg").alias("c"))
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        rank = lineage_cut(
            deg.select(F.col("a").alias("node"))
            .join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                ).alias("rank"),
            ),
            checkpoint_dir,
            eager=False,
        )
    return rank


def pagerank_personalized_int(
    pairs: DataFrame | None,
    src: str = "doc_a",
    dst: str = "doc_b",
    iters: int = 5,
    scale: int = SCALE,
    checkpoint_dir: str | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Personalized (seeded) integer PageRank: ALL restart mass returns to
    the seed node — the related-content expansion of link analysis
    ("documents most reachable from this one through the similarity
    graph"), vs. the global centrality of :func:`pagerank_int`. The seed
    is the graph's minimum node id, kept IN-PLAN (1-row aggregate
    broadcast — no driver collect), mirroring bfs_distances' source.

    Same integer-exact update as pagerank_int (micro-units of ``scale``,
    floor division), so the iterations unroll to chained SQL CTEs for the
    oracle; same per-round join+sum shape, and (r11) the same FUSED
    fixed-round single plan in local mode — rank is referenced once per
    round, so the tree grows linearly and the per-round driver planning
    passes of the lazy-cut form are paid once (see :func:`pagerank_int`).
    Reliable ``checkpoint_dir`` mode keeps the per-round cuts.
    ``edges``: pre-cut symmetric edge table (see :func:`pagerank_int`)."""
    _require_exactly_one_edge_source(pairs, edges)
    if edges is None:
        edges = symmetric_edge_cut(pairs, src, dst, checkpoint_dir)
    deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
    if checkpoint_dir is not None:
        deg = lineage_cut(deg, checkpoint_dir, eager=False)
    seed = edges.agg(F.min("a").alias("__seed"))
    nodes = deg.select(F.col("a").alias("node")).crossJoin(F.broadcast(seed))
    base = (15 * scale) // 100
    rank = nodes.select(
        "node",
        F.when(F.col("node") == F.col("__seed"), F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rank"),
    )
    edges_deg = edges.join(deg, "a")
    if checkpoint_dir is not None:
        edges_deg = lineage_cut(edges_deg, checkpoint_dir, eager=False)
    for _ in range(iters):
        contrib = edges_deg.join(
            rank, edges_deg.a == rank.node
        ).select(F.col("b").alias("node"), F.expr("rank div deg").alias("c"))
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        rank = (
            nodes.join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.when(
                        F.col("node") == F.col("__seed"), F.lit(base)
                    ).otherwise(F.lit(0))
                    + F.expr("(85 * coalesce(s, 0L)) div 100")
                ).cast("long").alias("rank"),
            )
        )
        if checkpoint_dir is not None:
            rank = lineage_cut(rank, checkpoint_dir, eager=False)
    return rank


def bfs_distances(
    pairs: DataFrame | None,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_hops: int = 4,
    checkpoint_dir: str | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Hop distances from the minimum-id node of the undirected ``pairs``
    graph, bounded at ``max_hops`` (single-source BFS — "how far is every
    near-dup from the cluster exemplar").

    Exact by construction: distances are small integers and each round is
    min(previous, neighbor+1) — the same join + min-agg shape as connected
    components, so the BOUNDED run unrolls to chained SQL CTEs for the
    oracle. Nodes not reached within ``max_hops`` are absent (not null) —
    frontier semantics, not a full outer scan per round. The source is the
    1-row MIN(doc_a) aggregate kept in-plan (joined, never
    collected to the driver); ``lineage_cut`` per round cuts lineage.
    ``edges``: pre-cut symmetric edge table (see :func:`pagerank_int`) —
    the source stays the graph-wide min node either way (a symmetric
    table's min(a) equals the oriented table's min(doc_a)).
    """
    _require_exactly_one_edge_source(pairs, edges)
    e = edges if edges is not None else lineage_cut(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        checkpoint_dir,
    )
    # doc_a < doc_b on every pair, so the graph-wide min node id is
    # min(a) over the CHECKPOINTED edge table — aggregating `pairs`
    # here would re-run the whole upstream (LSH) build a second time
    dist = e.agg(F.min("a").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    for h in range(max_hops):
        # sort-merge, pinned: left to AQE, the frontier join became a
        # broadcast join whose build side was whichever shuffle finished
        # first, so a build ran 18 or 19 jobs by timing
        nxt = dist.join(e.hint("merge"), dist.node == e.a).select(
            F.col("b").alias("node"), (F.col("dist") + 1).alias("dist")
        )
        dist = dist.unionByName(nxt).groupBy("node").agg(
            F.min("dist").alias("dist")
        )
        # each round references dist TWICE (join + union), so an uncut
        # chain doubles per round — full fusion measured SLOWER (2^4
        # subtree copies). Cutting every SECOND round (r11) bounds the
        # tree at 2^2 copies while halving the per-round driver planning
        # passes the lazy cut costs; reliable mode cuts every round
        # (bounded recompute on executor loss).
        if checkpoint_dir is not None or h % 2 == 1 or h == max_hops - 1:
            dist = lineage_cut(dist, checkpoint_dir, eager=False)
    return dist


def kcore(
    pairs: DataFrame | None,
    src: str = "doc_a",
    dst: str = "doc_b",
    k: int = 2,
    rounds: int = 3,
    checkpoint_dir: str | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Bounded k-core peeling of the undirected ``pairs`` graph: drop nodes
    with degree < k, restrict edges to survivors, repeat ``rounds`` times;
    return (node, deg) of the surviving subgraph.

    The k-core separates dense duplicate clusters (every member near-dups
    with >= k others — safe to collapse aggressively) from incidental
    pairwise matches. A full fixpoint needs data-dependent iteration; the
    BOUNDED peel is deterministic and unrolls to SQL for the oracle, and in
    practice 2-3 rounds reach the fixpoint on shallow similarity graphs
    (each round is two semi joins + one degree agg, all on node keys).
    ``edges``: pre-cut symmetric edge table (see :func:`pagerank_int`).
    """
    _require_exactly_one_edge_source(pairs, edges)
    e = edges if edges is not None else lineage_cut(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        checkpoint_dir,
    )
    for _ in range(rounds):
        keep = e.groupBy("a").agg(F.count("*").alias("d")).filter(F.col("d") >= k)
        e = lineage_cut(
            e.join(keep.select("a"), "a", "left_semi")
            .join(
                keep.select(F.col("a").alias("b")), "b", "left_semi"
            ),
            checkpoint_dir,
            eager=False,
        )
    return e.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("deg"))
