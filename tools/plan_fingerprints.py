"""Structural plan-fingerprint guard: for EVERY registered query, count
the load-bearing physical-operator classes in its (pre-execution) plan at
sf0.01 and diff against the previous round's fingerprints — the
STRUCTURAL twin of tools/sweep_registry.py's timing floor. Timing noise
can hide a broadcast join silently degrading to sort-merge, an extra
Exchange appearing, or Python evaluation creeping into a relational plan;
operator counts cannot.

Usage:
  python tools/plan_fingerprints.py          # fingerprint + diff + persist
  python tools/plan_fingerprints.py --write-baseline
      # rewrite the two committed suite baselines at sf0.001: the declared
      # set's plans (tests/plan_baseline_declared.json) and the HEADLINE
      # queries' cost ledger (tests/ledger_baseline_declared.json)

Artifacts under .bench/:
  plan_fingerprints.json       — this round {query: {op: count}}
  plan_fingerprints_prev.json  — prior (rotated)

Exit code always 0 (report-only, same convention as the timing sweep);
the printed "changed" block plus the artifact are the review surface.
Changes are EXPECTED when a query's code changes — the guard exists for
the queries nobody touched. ALWAYS-BAD operators (CartesianProduct,
BatchEvalPython — both also pinned absent by tests/test_plans.py) are
listed separately whenever present at all, new or not. Note
BroadcastNestedLoopJoin is NOT in that set: in this codebase it is the
deliberate broadcast-1-ROW crossJoin pattern (query vectors, corpus
totals, stats rows — O(n) with a 1-row build side; 58 queries carry one
by design, first fingerprint pass). It IS counted, so a BNLJ appearing
where none was, or its count growing, still lands in the diff.

Plans are taken at sf0.01 (the driver's scale) WITHOUT executing: the
initial physical plan under AQE — size-dependent broadcast choices are
stable because the test fixtures are fixed. Queries whose CONSTRUCTION
runs jobs (the serve-loop e2e family) still run those jobs; total
~2-4 min.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.01")
BENCH_DIR = os.path.join(REPO, ".bench")
CUR = os.path.join(BENCH_DIR, "plan_fingerprints.json")
PREV = os.path.join(BENCH_DIR, "plan_fingerprints_prev.json")

# the operator classes worth counting: joins (strategy flips), exchanges
# (new shuffles), aggregation modes, windows, scans, top-k, and the
# always-bad trio
OPS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "FileScan",
    "TakeOrderedAndProject",
    "Generate",
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
]
ALWAYS_BAD = {"CartesianProduct", "BatchEvalPython"}


DECLARED_BASELINE = os.path.join(REPO, "tests", "plan_baseline_declared.json")
# committed full-registry snapshot: the diff baseline that survives the
# per-container .bench reset (refresh deliberately via --write-snapshot)
SNAPSHOT = os.path.join(REPO, "tools", "plan_fingerprints_snapshot.json")


LEDGER_BASELINE = os.path.join(REPO, "tests", "ledger_baseline_declared.json")
# the ledger pins build_jobs, jobs and stages: every HEADLINE query's three
# counts are equal at SPARK_GRAFT_CPUS=2 and 4. Left out, for every query:
LEDGER_NOT_PINNED = {
    "tasks": "one per partition, and partition counts follow the core count",
    "shuffle_mb": "shuffle bytes follow the partitioning, so the core count",
    "spill_mb": "spill follows executor memory and the partitioning",
}
# ... and, per query, counts that do not repeat run to run
LEDGER_UNSTABLE = {
    "ext_minhash_candidates": {
        "jobs": "6 or 7 with the queries run before it in the process (7 after "
        "reversed and shuffled HEADLINE orders); it self-joins a persisted table",
        "stages": "one per job, so it moves with jobs",
    },
}


def fingerprint(plan: str) -> dict[str, int]:
    return {op: plan.count(op) for op in OPS if plan.count(op) > 0}


# The scale-critical LLM-pipeline compositions: the plans whose silent
# degradation costs the most at 100 TB (bucketed LSH self-joins, the
# curation funnel's single-scan projection, ADC serving). Gated alongside
# the declared set + TPC-H dossier.
PIPELINE_HEAVIES = [
    "ext_preprocess_pipeline",
    "ext_dedup_clusters",
    "ext_verified_clusters",
    "ext_curation_verdict",
    "ext_decontaminate",
    "ext_simhash",
    "ext_minhash_candidates",
    "ext_ann_pq",
    "ext_ann_pq_rerank",
    "ext_ann_lsh_quantized",
]


def declared_names(queries) -> list[str]:
    """The gated set: the declared queries (Q01-Q24 + sql_frontdoor — the
    reference's own surface), the TPC-H dossier (ext_tpch_q1..q22) — the
    join-heaviest plans in the registry, where a broadcast silently
    flipping to sort-merge costs the most at scale — and the LLM-pipeline
    heavies above. These are the plans the suite holds to the committed
    baseline; the other extensions are covered by the report-only diff
    (their plans change legitimately as operators evolve)."""
    return [
        n
        for n in queries
        if (n.startswith("q") and n[1].isdigit())
        or n == "sql_frontdoor"
        or n.startswith("ext_tpch_q")
        or n in PIPELINE_HEAVIES
    ]


def gate_violations(
    fps: dict[str, dict[str, int]], baseline: dict[str, dict[str, int]]
) -> dict[str, dict]:
    """Plan DEGRADATIONS of ``fps`` vs the committed baseline — the
    failing-test predicate (tests/test_plan_gate.py), deliberately
    one-sided so legitimate improvements never fail the suite:

    - any ALWAYS_BAD operator present at all (CartesianProduct,
      BatchEvalPython);
    - a BroadcastHashJoin count BELOW baseline (a broadcast silently
      degraded to some other strategy);
    - a SortMergeJoin or ShuffledHashJoin count ABOVE baseline (a shuffle
      join appeared where none was);
    - a query in the baseline that no longer fingerprints (renames must
      regenerate the baseline deliberately)."""
    out: dict[str, dict] = {}
    for name, base in baseline.items():
        fp = fps.get(name)
        if fp is None:
            out[name] = {"missing": True}
            continue
        v: dict = {}
        for op in ALWAYS_BAD:
            if fp.get(op, 0) > 0:
                v[op] = fp[op]
        if fp.get("BroadcastHashJoin", 0) < base.get("BroadcastHashJoin", 0):
            v["BroadcastHashJoin"] = [
                base.get("BroadcastHashJoin", 0),
                fp.get("BroadcastHashJoin", 0),
            ]
        for op in ("SortMergeJoin", "ShuffledHashJoin"):
            if fp.get(op, 0) > base.get(op, 0):
                v[op] = [base.get(op, 0), fp.get(op, 0)]
        if v:
            out[name] = v
    return out


def compute_fingerprints(spark, queries, names, sf_dir) -> dict[str, dict[str, int]]:
    out: dict[str, dict[str, int]] = {}
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out[name] = fingerprint(plan)
    return out


def compute_ledger(spark, queries, names, sf_dir) -> dict[str, dict[str, int]]:
    """Each query's cold cost ledger, as bench.py's ``layers`` counts it:
    jobs run while the DataFrame is built, and jobs and stages of build and
    noop-forced execution together. Cold means the query's cache generation
    and the pinned parquet schemas are released first, so every query pays
    its own schema-inference jobs whatever ran before it in the process."""
    from bench import layer_row
    from job_search_engine_using_pyspark_solar_and_angular_spark import io
    from job_search_engine_using_pyspark_solar_and_angular_spark.cache import (
        release_query_caches,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import profiled

    out: dict[str, dict[str, int]] = {}
    for name in names:
        release_query_caches(name)
        io._SCHEMA_CACHE.clear()
        with profiled(f"{name}:build") as b:
            df = queries[name](spark, sf_dir)
        with profiled(f"{name}:exec") as e:
            df.write.format("noop").mode("overwrite").save()
        release_query_caches(name)
        row = layer_row(b, e)
        out[name] = {k: row[k] for k in ("build_jobs", "jobs", "stages")}
    return out


def main() -> int:
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries import (
        extensions as _ext,  # noqa: F401
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (
        QUERIES,
    )
    from job_search_engine_using_pyspark_solar_and_angular_spark.session import get_spark

    spark = get_spark(app_name="plan-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")

    if "--write-baseline" in sys.argv:
        # regenerate the COMMITTED declared-set baseline the suite gate
        # (tests/test_plan_gate.py) diffs against — run at the suite's
        # sf0.001 and commit the result when a declared query's plan
        # changes deliberately
        sf = os.environ.get("JSE_TEST_SF_DIR", "/root/testdata/sf0.001")
        names = declared_names(QUERIES)
        fps = compute_fingerprints(spark, QUERIES, names, sf)
        with open(DECLARED_BASELINE, "w", encoding="utf-8") as fh:
            json.dump(
                {"sf_tag": os.path.basename(sf.rstrip("/")), "fingerprints": fps},
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {DECLARED_BASELINE} ({len(fps)} queries at {sf})")
        from bench import HEADLINE

        ledger = {
            q: {k: v for k, v in row.items() if k not in LEDGER_UNSTABLE.get(q, {})}
            for q, row in compute_ledger(spark, QUERIES, HEADLINE, sf).items()
        }
        with open(LEDGER_BASELINE, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "sf_tag": os.path.basename(sf.rstrip("/")),
                    "ledger": ledger,
                    "left_out": {"*": LEDGER_NOT_PINNED, **LEDGER_UNSTABLE},
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {LEDGER_BASELINE} ({len(ledger)} queries at {sf})")
        return 0

    fps: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    bad: dict[str, dict[str, int]] = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
            fps[name] = fingerprint(plan)
            hits = {k: v for k, v in fps[name].items() if k in ALWAYS_BAD}
            if hits:
                bad[name] = hits
        except Exception as exc:
            errors[name] = str(exc)[:200]
        print(f"{name}: {fps.get(name, 'ERROR')}", file=sys.stderr, flush=True)

    prior: dict = {}
    if os.path.isfile(CUR):
        try:
            with open(CUR, encoding="utf-8") as fh:
                prior = json.load(fh).get("fingerprints", {})
            os.replace(CUR, PREV)
        except (OSError, ValueError):
            pass
    if not prior and os.path.isfile(SNAPSHOT):
        # fresh container (.bench is gitignored and per-container): fall
        # back to the committed full-registry snapshot so the diff still
        # has cross-round teeth; refresh it with --write-snapshot
        try:
            with open(SNAPSHOT, encoding="utf-8") as fh:
                prior = json.load(fh).get("fingerprints", {})
        except (OSError, ValueError):
            pass

    changed = {}
    for name, fp in fps.items():
        p = prior.get(name)
        if p is not None and p != fp:
            delta = {
                op: [p.get(op, 0), fp.get(op, 0)]
                for op in set(p) | set(fp)
                if p.get(op, 0) != fp.get(op, 0)
            }
            changed[name] = delta

    os.makedirs(BENCH_DIR, exist_ok=True)
    with open(CUR, "w", encoding="utf-8") as fh:
        json.dump(
            {"sf_dir": SF_DIR, "fingerprints": fps, "errors": errors}, fh, indent=1
        )
    if "--write-snapshot" in sys.argv:
        with open(SNAPSHOT, "w", encoding="utf-8") as fh:
            json.dump(
                {"sf_dir": SF_DIR, "fingerprints": fps},
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {SNAPSHOT}", file=sys.stderr)

    print(
        json.dumps(
            {
                "n_queries": len(fps),
                "errors": errors,
                "always_bad_present": bad,
                "changed_vs_prev": changed,
                "compared_against": len(prior),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
