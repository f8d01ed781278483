"""One owner for cached blocks: persisted DataFrames and local lineage cuts.

Owners nest on a thread-local stack; :func:`persist` and :func:`own_cut`
register with the innermost. A registry query owns a per-name
:func:`generation`: a same-sf_dir rerun joins it and stays warm (Spark's
CacheManager matches persists by plan), a different sf_dir or
:func:`release_query_caches` releases it. :func:`scope` releases on exit,
for eager callers that force their results inside it. Outside any owner a
persist is a plain persist and a cut is left to Spark's ContextCleaner.
Releasing a cut discards its blocks, so an owner is released only after
the DataFrames reading its cuts have run.
"""

from __future__ import annotations

import logging
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)
_TLS = threading.local()
_LOCK = threading.Lock()  # guards _GENERATIONS


class _Owner:
    def __init__(self) -> None:
        self.persists: list[DataFrame] = []
        self.cuts: list = []  # JVM handles of locally checkpointed RDDs

    def release(self) -> None:
        # newest first: a persisted plan is dropped before the persists it
        # reads, so Spark never re-caches a dependent it is about to drop
        for h in [*reversed(self.persists), *reversed(self.cuts)]:
            try:
                h.unpersist(False)
            except Exception:
                _log.warning("releasing cached blocks of %r failed", h, exc_info=True)


# registry query name -> (sf_dir, its generation)
_GENERATIONS: dict[str, tuple[str, _Owner]] = {}


def _stack() -> list[_Owner]:
    if not hasattr(_TLS, "stack"):
        _TLS.stack = []
    return _TLS.stack


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, owned by the innermost owner."""
    df = df.persist()
    if stack := _stack():
        stack[-1].persists.append(df)
    return df


def own_cut(cut: DataFrame) -> DataFrame:
    """Register a ``localCheckpoint`` result with the innermost owner, which
    releases the checkpointed RDD its plan reads."""
    if stack := _stack():
        stack[-1].cuts.append(cut._jdf.queryExecution().analyzed().rdd())
    return cut


@contextmanager
def scope():
    """Own everything persisted or cut inside the block; release it on exit."""
    owner = _Owner()
    stack = _stack()
    stack.append(owner)
    try:
        yield
    finally:
        stack.pop()
        owner.release()


@contextmanager
def generation(name: str, sf_dir: str):
    """Own what registry query ``name`` builds against ``sf_dir``. A query
    composed inside another owner adds to that owner instead."""
    stack = _stack()
    if stack:
        yield
        return
    with _LOCK:
        prev = _GENERATIONS.get(name)
        if prev is None or prev[0] != sf_dir:
            _GENERATIONS[name] = (sf_dir, _Owner())
        owner = _GENERATIONS[name][1]
    if prev is not None and prev[0] != sf_dir:
        prev[1].release()
    stack.append(owner)
    try:
        yield
    finally:
        stack.pop()


def release_query_caches(name: str) -> bool:
    """Release ``name``'s generation now. Returns whether it held a persist,
    i.e. whether a same-sf rerun of the query could have read warm blocks."""
    with _LOCK:
        entry = _GENERATIONS.pop(name, None)
    if entry is None:
        return False
    entry[1].release()
    return bool(entry[1].persists)
