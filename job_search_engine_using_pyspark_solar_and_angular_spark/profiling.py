"""One cost ledger: the Spark jobs, stages, tasks, shuffle and spill a block
of driver code submits, read from the in-process status store.

:func:`profiled` runs its block under a job group of its own and, on exit,
counts what Spark recorded for that group. The status store is filled
whether or not the UI runs, so the counters need no UI, no REST port and no
session conf. Job, stage and shuffle counts are deterministic for a fixed
plan and fixed data, so a changed count is a changed plan; wall time is
reported beside them, not instead of them.

Opt-in only: the bench, the tests and the tools wrap their own calls; no
library path profiles itself. Jobs started on worker threads are counted
only if those threads inherit the job group (``pyspark.InheritableThread``
or ``inheritable_thread_target``).

``compiles`` is the one counter that is not per job group: it counts the
generated classes Janino compiled anywhere in the driver JVM while the block
ran (Spark's ``CodegenMetrics``), so it also depends on what ran before the
block, which classes the codegen cache still holds.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark import SparkContext

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
_SEQ = itertools.count()
_MB = 1024 * 1024


@dataclass
class Ledger:
    """What one :func:`profiled` block cost. Filled when the block exits."""

    name: str
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0  # stages that ran; a stage skipped on shuffle reuse is not counted
    tasks: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    compiles: int = 0  # process-wide, not per job group (see the module docstring)

    @property
    def shuffle_mb(self) -> float:
        return round((self.shuffle_read_bytes + self.shuffle_write_bytes) / _MB, 3)

    @property
    def spill_mb(self) -> float:
        return round(self.spill_bytes / _MB, 3)


def _compiles(sc: SparkContext) -> int:
    """Janino compiles so far in this JVM (Spark's CodegenMetrics)."""
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _read(sc: SparkContext, group: str, led: Ledger) -> None:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)  # the store is fed asynchronously
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        stage_ids.update(int(s) for s in conv.asJava(store.job(jid).stageIds()))
    led.jobs = len(job_ids)
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in stage_ids:
        ran = False
        for s in conv.asJava(store.stageData(sid, False, no_status, False, no_quantiles)):
            if s.status().toString() == "SKIPPED":
                continue
            ran = True
            led.tasks += s.numTasks()
            led.shuffle_read_bytes += s.shuffleReadBytes()
            led.shuffle_write_bytes += s.shuffleWriteBytes()
            led.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
        led.stages += ran


@contextmanager
def profiled(name: str):
    """Run the block under its own job group and yield a :class:`Ledger`
    that holds the block's counters once it exits.

    The caller's job group (and description) is saved and restored, so
    nested blocks and an enclosing group both keep working: jobs inside
    count toward the innermost block only. No session conf is touched.
    """
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("profiled() needs an active SparkContext")
    saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
    group = f"profiled-{next(_SEQ)}-{name}"
    led = Ledger(name)
    sc.setJobGroup(group, name)
    compiles0 = _compiles(sc)
    t0 = time.perf_counter()
    try:
        yield led
    finally:
        led.wall_s = round(time.perf_counter() - t0, 3)
        led.compiles = _compiles(sc) - compiles0
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        _read(sc, group, led)
