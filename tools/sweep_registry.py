"""Full-registry timing floor: run EVERY registered query once at sf0.01
(single trial — this is a tripwire, not a benchmark) under
``profiling.profiled`` and diff against the previous sweep, so a plan
regression in a non-headline query is visible the round it happens instead
of the round the driver's window rotation lands on it. HEADLINE covers ~60
of the 250+ registered queries; this covers the rest.

Usage:
  python tools/sweep_registry.py            # sweep + compare + persist
  SPARK_GRAFT_SWEEP_SF_DIR=... to override the scale (default sf0.01)

Artifacts under .bench/:
  registry_sweep.json       — this sweep {name: sec, ...}, per-query jobs
                              and stages, + meta
  registry_sweep_prev.json  — the prior sweep (rotated on each run)

Exit code is ALWAYS 0 — the guard reports rather than gates. A query is
flagged when its job or stage count differs from the prior sweep's
(``counters_moved``: a plan change), or when cur/prev > 2.0 AND
cur - prev > 0.5 s; a wall flag whose counters held is marked
``wall_only`` (single-trial timings at sf0.01 are noisy).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.01")
BENCH_DIR = os.path.join(REPO, ".bench")
CUR = os.path.join(BENCH_DIR, "registry_sweep.json")
PREV = os.path.join(BENCH_DIR, "registry_sweep_prev.json")
# committed snapshot: the cross-container fallback baseline (.bench dies
# with the container). Timings are host-specific, counters are not; refresh
# deliberately with --write-snapshot.
SNAPSHOT = os.path.join(REPO, "tools", "registry_sweep_snapshot.json")


def main() -> int:
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries import (
        extensions as _ext,  # noqa: F401  (registers)
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled
    from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark

    spark = get_spark(app_name="sweep-registry")
    spark.sparkContext.setLogLevel("ERROR")

    # warm codegen + the Python worker pool once so the first swept query
    # doesn't absorb session start-up
    QUERIES["q01_scan_project"](spark, SF_DIR).count()

    timings: dict[str, float] = {}
    counters: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name, fn in QUERIES.items():
        try:
            with profiled(name) as led:
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            timings[name] = led.wall_s
            counters[name] = {"jobs": led.jobs, "stages": led.stages}
        except Exception as exc:  # a sweep must report, not die mid-list
            errors[name] = str(exc)[:200]
        print(
            f"{name}: {timings.get(name, 'ERROR')} {counters.get(name, '')}",
            file=sys.stderr,
            flush=True,
        )

    prior: dict = {}
    prior_meta = {}
    if os.path.isfile(CUR):
        try:
            with open(CUR, encoding="utf-8") as fh:
                prior = json.load(fh)
            prior_meta = {"prior_ts": prior.get("ts")}
            os.replace(CUR, PREV)
        except (OSError, ValueError):
            pass
    if not prior and os.path.isfile(SNAPSHOT):
        # fresh container: fall back to the committed snapshot
        try:
            with open(SNAPSHOT, encoding="utf-8") as fh:
                prior = json.load(fh)
            prior_meta = {"prior_ts": prior.get("ts"), "prior_source": "snapshot"}
        except (OSError, ValueError):
            pass

    prev_t, prev_c = prior.get("timings", {}), prior.get("counters", {})
    flagged = {}
    for name, cur in timings.items():
        moved = None
        if name in prev_c:
            moved = {
                k: [prev_c[name][k], v]
                for k, v in counters[name].items()
                if prev_c[name][k] != v
            }
        p = prev_t.get(name)
        slow = bool(p) and cur / p > 2.0 and cur - p > 0.5
        if moved or slow:
            flagged[name] = {"counters_moved": moved}
            if p:
                flagged[name].update(prev=p, cur=cur, ratio=round(cur / p, 2))
            flagged[name]["wall_only"] = slow and moved == {}

    doc = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "sf_dir": SF_DIR,
        "n_queries": len(timings),
        "total_sec": round(sum(timings.values()), 1),
        "timings": timings,
        "counters": counters,
        "errors": errors,
        "flagged_vs_prev": flagged,
        **prior_meta,
    }
    os.makedirs(BENCH_DIR, exist_ok=True)
    with open(CUR, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1)
    if "--write-snapshot" in sys.argv:
        with open(SNAPSHOT, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        print(f"wrote {SNAPSHOT}", file=sys.stderr)

    print(
        json.dumps(
            {
                "n_queries": len(timings),
                "total_sec": doc["total_sec"],
                "errors": errors,
                "flagged_vs_prev": flagged,
                "compared_against": len(prev_t),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
