"""Suite gates over the declared set's physical-plan fingerprints and the
HEADLINE queries' cost ledger.

tools/plan_fingerprints.py's per-round sweep is report-only; this test is
the FAILING guard VERDICT r6 asked for: it recomputes the declared set's
operator counts live and diffs them against the committed baseline
(tests/plan_baseline_declared.json), failing on any degradation —
a broadcast join silently flipping to sort-merge/shuffled-hash, a new
shuffle join, or any CartesianProduct / BatchEvalPython at all. Legitimate
plan changes regenerate the baseline deliberately:

    python tools/plan_fingerprints.py --write-baseline

The planted-degradation test proves the gate actually fires: it re-plans a
broadcast-reliant declared query under autoBroadcastJoinThreshold=-1 (the
exact silent-degradation scenario) and requires gate_violations to flag it.

The ledger gate pins each HEADLINE query's cold job and stage counts
(tests/ledger_baseline_declared.json, written by the same command). Those
counts are deterministic for a fixed plan and fixed data, so the gate is
two-sided like a snapshot: one job more or one job fewer fails until the
baseline is regenerated on purpose.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from .conftest import SF_DIR, persisted_rdd_ids  # noqa: E402

import plan_fingerprints as pfp  # noqa: E402

from job_search_engine_using_pyspark_solar_and_angular_spark.queries import (  # noqa: E402
    extensions as _ext,  # noqa: F401  (registers the extension queries)
)
from job_search_engine_using_pyspark_solar_and_angular_spark.queries.declared import (  # noqa: E402
    QUERIES,
)


def _baseline() -> dict:
    with open(pfp.DECLARED_BASELINE, encoding="utf-8") as fh:
        return json.load(fh)


def test_declared_plans_hold_committed_baseline(spark):
    doc = _baseline()
    if doc["sf_tag"] != os.path.basename(SF_DIR.rstrip("/")):
        pytest.skip(
            f"baseline generated at {doc['sf_tag']}, suite running at "
            f"{SF_DIR} — plan sizes differ by sf"
        )
    names = pfp.declared_names(QUERIES)
    assert set(names) == set(doc["fingerprints"]), (
        "declared set changed — regenerate the baseline: "
        "python tools/plan_fingerprints.py --write-baseline"
    )
    fps = pfp.compute_fingerprints(spark, QUERIES, names, SF_DIR)
    violations = pfp.gate_violations(fps, doc["fingerprints"])
    assert violations == {}, (
        f"plan degradations vs committed baseline: {violations} — if the "
        "change is deliberate, regenerate via "
        "python tools/plan_fingerprints.py --write-baseline"
    )


def test_gate_fires_on_planted_broadcast_degradation(spark):
    """Prove the gate detects the scenario it exists for: disabling
    auto-broadcast re-plans q03's anti-join (auto-broadcast-reliant — no
    explicit hint, unlike q12's F.broadcast which correctly SURVIVES a
    threshold change) as sort-merge, and gate_violations must flag both
    the BroadcastHashJoin drop and the SortMergeJoin rise against the
    committed baseline."""
    doc = _baseline()
    base = {"q03_anti_join": doc["fingerprints"]["q03_anti_join"]}
    assert base["q03_anti_join"].get("BroadcastHashJoin", 0) >= 1, (
        "baseline must carry at least one broadcast join for this probe"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fps = pfp.compute_fingerprints(spark, QUERIES, ["q03_anti_join"], SF_DIR)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    violations = pfp.gate_violations(fps, base)
    assert violations.get("q03_anti_join", {}).get("BroadcastHashJoin") == [1, 0], fps
    assert violations["q03_anti_join"].get("SortMergeJoin") == [0, 1], fps


def test_explicit_hint_survives_threshold_change(spark):
    """The complement of the planted-degradation probe: q12's explicit
    F.broadcast hint must keep broadcasting under
    autoBroadcastJoinThreshold=-1 — the hint, not the size heuristic, is
    what makes the declared point-lookup robust on a cluster where dim
    statistics are stale or the threshold is tuned down."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        fps = pfp.compute_fingerprints(
            spark, QUERIES, ["q12_broadcast_join"], SF_DIR
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert fps["q12_broadcast_join"].get("BroadcastHashJoin", 0) >= 1, fps


def test_gate_flags_always_bad_and_missing():
    """Pure-logic pins for the other gate arms: an always-bad operator is
    flagged even when join counts match, and a baseline query that stopped
    fingerprinting is reported as missing."""
    base = {"qx": {"BroadcastHashJoin": 1}, "qy": {"HashAggregate": 2}}
    fps = {"qx": {"BroadcastHashJoin": 1, "CartesianProduct": 1}}
    v = pfp.gate_violations(fps, base)
    assert v["qx"] == {"CartesianProduct": 1}
    assert v["qy"] == {"missing": True}


def _ledger_baseline() -> dict:
    with open(pfp.LEDGER_BASELINE, encoding="utf-8") as fh:
        doc = json.load(fh)
    if doc["sf_tag"] != os.path.basename(SF_DIR.rstrip("/")):
        pytest.skip(f"ledger baseline generated at {doc['sf_tag']}, suite at {SF_DIR}")
    return doc


def _ledger_diff(got: dict, want: dict) -> dict:
    """{query: {counter: [baseline, now]}} for every pinned counter that
    differs, in either direction."""
    diff = {
        q: {k: [v, got[q][k]] for k, v in row.items() if got[q][k] != v}
        for q, row in want.items()
    }
    return {q: d for q, d in diff.items() if d}


def test_headline_ledger_holds_committed_baseline(spark):
    from bench import HEADLINE

    doc = _ledger_baseline()
    assert set(HEADLINE) == set(doc["ledger"]), (
        "HEADLINE changed — regenerate the baseline: "
        "python tools/plan_fingerprints.py --write-baseline"
    )
    before = persisted_rdd_ids(spark)
    got = pfp.compute_ledger(spark, QUERIES, HEADLINE, SF_DIR)
    assert not persisted_rdd_ids(spark) - before
    diff = _ledger_diff(got, doc["ledger"])
    assert diff == {}, (
        f"cost ledger moved vs committed baseline: {diff} — if the change is "
        "deliberate, regenerate via python tools/plan_fingerprints.py --write-baseline"
    )


def test_ledger_gate_fires_on_planted_count(spark):
    """Prove the ledger gate sees one hidden action: the same query with one
    extra ``.count()`` while its DataFrame is built must differ from the
    baseline in build_jobs and jobs."""
    name = "ext_tpch_q6"
    want = {name: _ledger_baseline()["ledger"][name]}

    def planted(spark, sf_dir):
        df = QUERIES[name](spark, sf_dir)
        df.count()
        return df

    before = persisted_rdd_ids(spark)
    got = pfp.compute_ledger(spark, {name: planted}, [name], SF_DIR)
    assert not persisted_rdd_ids(spark) - before
    diff = _ledger_diff(got, want)
    assert diff[name]["build_jobs"][1] > diff[name]["build_jobs"][0], diff
    assert diff[name]["jobs"][1] > diff[name]["jobs"][0], diff
