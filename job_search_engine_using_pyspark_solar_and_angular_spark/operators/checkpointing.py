"""Lineage cutting for iterative algorithms (connected components, PageRank,
BFS, k-core): each round must not embed the plans of rounds 1..k-1.

Two modes:

- ``checkpoint_dir=None`` (default): ``localCheckpoint`` — executor-local
  block storage, no filesystem round-trip, the right choice for tests and
  short interactive jobs. NOT fault-tolerant: on a real cluster the loss of
  one executor discards its blocks and kills the job.
- ``checkpoint_dir="hdfs://..."``: reliable ``df.checkpoint()`` to a shared
  filesystem. An executor loss mid-iteration recomputes from the last
  checkpoint instead of failing — what a 1000-executor, hours-long 100 TB
  closure job needs. Costs one write+read of the round's output per cut.

Both modes default to eager (materialize now), so the convergence-check
aggregates that follow read materialized data either way and per-round
results are identical — pinned by
tests/test_operators.py::test_checkpoint_modes_agree.

``eager=False`` (local mode only): the cut is deferred — the RDD is marked
for local checkpointing (its blocks cache and its lineage truncates the
first time ANY action computes it). For an iterative loop that already
runs a per-round action (connected components' label-sum convergence
check, star-CC's edge signature), the eager cut was a second job per
round doing nothing but materialization — marking lazily lets the
convergence action materialize the round in the SAME job, halving the
job count (measured ~25% off hash-min CC wall time at sf0.1; at cluster
scale each removed action is one fewer full-cluster barrier). Values are
identical either way (pinned). Reliable mode ignores ``eager=False``:
``df.checkpoint(eager=False)`` recomputes the RDD a second time when the
checkpoint files are written (the classic RDD-checkpoint double-compute),
and a fault-tolerance cut that hasn't happened yet protects nothing — so
the reliable path always materializes now.

Local cuts are owned like persists (``cache.own_cut``): the enclosing
registry query's generation or ``cache.scope`` releases their blocks;
outside any owner Spark's ContextCleaner reclaims them.

Retention cost of reliable mode: each cut leaves one materialized copy of
that round's output under ``checkpoint_dir``, and Spark does NOT delete
superseded checkpoints by default (``spark.cleaner.referenceTracking.
cleanCheckpoints`` defaults to false) — a long iterative job accumulates
every round until the dir is cleaned. Mitigations, in preference order:
(1) set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at session
build so GC of the superseded DataFrame reclaims its checkpoint (the repo's
session builder does this, pkg/session.py); (2) point ``checkpoint_dir`` at
a per-job scratch path and delete it after the job; (3) for bounded-round
algorithms, budget dir size ≈ rounds × round-output-size up front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import own_cut


def lineage_cut(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = True
) -> DataFrame:
    """Materialize ``df`` and return a lineage-free DataFrame.

    ``eager=False`` defers the local-mode cut to the next action over the
    result (see module docstring); reliable mode is always eager.
    """
    if checkpoint_dir is None:
        return own_cut(df.localCheckpoint(eager=eager))
    sc = df.sparkSession.sparkContext
    # setCheckpointDir is idempotent and cheap; set it per cut so callers
    # need no session-level setup and two jobs can use different dirs.
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=True)


def symmetric_edge_cut(
    pairs: DataFrame, src: str, dst: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """The undirected edge list ``(a, b)`` of a pair table — both
    orientations, distinct — cut eagerly so no later round's plan reaches
    back into the pair pipeline. ``pairs`` is persisted only for the cut
    (the union reads it twice), so the cut must be eager: a deferred one
    would recompute the pair pipeline uncached, once per union branch. The
    cut belongs to the enclosing owner."""
    pairs_p = pairs.persist()
    try:
        return lineage_cut(
            pairs_p.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .union(pairs_p.select(F.col(dst).alias("a"), F.col(src).alias("b")))
            .distinct(),
            checkpoint_dir,
        )
    finally:
        pairs_p.unpersist()
