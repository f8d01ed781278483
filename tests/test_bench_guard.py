"""Regression-guard wiring tests for bench.py.

The guard compares a run to the prior run at the same core count and scale
(``.bench/last_full*.json`` first, else the newest parsed driver artifact
with the same ``cpus``) and flags, per entry, a changed job or stage count
(``counters_moved``) and a >1.5x wall ratio (``wall_only`` when the counters
held). These tests plant each case and require the flag, prove the
baseline choice, and pin timed_min's trial policy and the contract line.

No SparkSession needed — pure-python guard logic.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

from job_search_engine_using_pyspark_solar_and_angular_spark.profiling import (  # noqa: E402
    Ledger,
)


def _driver_artifact(tmp_path, queries, n=12, cpus=32, name=None, parsed=True) -> None:
    """Write a BENCH_r{n}.json shaped like the driver's: the contract line
    parsed into ``parsed`` (or ``parsed: null`` when it did not parse)."""
    line = {"metric": "headline query wall time (sum)", "queries": queries, "sf": 0.1}
    (tmp_path / (name or f"BENCH_r{n:02d}.json")).write_text(
        json.dumps({"n": n, "rc": 0, "cpus": cpus, "sf": 0.1,
                    "tail": json.dumps(line), "parsed": line if parsed else None})
    )


def _last_full(bdir, queries, layers=None, cores=32) -> None:
    bdir.mkdir(exist_ok=True)
    (bdir / f"last_full.c{cores}.json").write_text(
        json.dumps({"queries": queries, "layers": layers or {}})
    )


def _row(build_jobs=1, jobs=4, stages=6) -> dict:
    return {"build_s": 0.2, "build_jobs": build_jobs, "jobs": jobs, "stages": stages,
            "tasks": 12, "shuffle_mb": 0.5, "spill_mb": 0.0}


def _guard(tmp_path, timings, layers=None, cores=32) -> dict:
    return bench.regressions_vs_previous(
        timings, layers or {}, 0.1, cores,
        repo_dir=str(tmp_path), bench_dir=str(tmp_path / ".bench"),
    )


def test_parsed_null_artifact_flags_planted_slowdown(tmp_path):
    # the newest artifact's contract line did not parse, so the guard falls
    # back to the newest one that did; against it, a planted 2x slowdown
    # flags (no ledger in a driver artifact: counters_moved is unknown)
    _driver_artifact(tmp_path, {"ext_tpch_q6": 0.01}, n=13, parsed=False)
    _driver_artifact(tmp_path, {"ext_tpch_q6": 0.30, "q08_latest_wins": 0.50})
    out = _guard(tmp_path, {"ext_tpch_q6": 0.62, "q08_latest_wins": 0.51})
    assert out["_baseline"] == "BENCH_r12.json"
    assert out["_compared"] == 2
    assert "ext_tpch_q6" in out, "planted 2x slowdown must be flagged"
    assert out["ext_tpch_q6"]["ratio"] >= 2.0
    assert out["ext_tpch_q6"]["counters_moved"] is None
    assert out["ext_tpch_q6"]["wall_only"] is False
    assert "q08_latest_wins" not in out  # 1.02x is not a regression


def test_last_full_json_outranks_driver_artifact(tmp_path):
    # builder's own full run says 1.0s; stale driver artifact says 0.1s.
    # The guard must prefer the complete local baseline.
    _last_full(tmp_path / ".bench", {"q": 1.0})
    _driver_artifact(tmp_path, {"q": 0.1})
    out = _guard(tmp_path, {"q": 1.1})
    assert out["_baseline"] == "last_full.c32.json"
    assert "q" not in out  # 1.1x vs the real baseline, not 11x vs the stale one


def test_no_prior_artifacts_reports_none(tmp_path):
    out = _guard(tmp_path, {"q": 1.0})
    assert out["_baseline"] == "none"
    assert out["_compared"] == 0


def test_baseline_with_other_cpus_never_chosen(tmp_path):
    # r12 ran at 32 and at 8 cores and both artifacts carry round 12; the
    # core count, not the round number or glob order, picks the baseline
    _driver_artifact(tmp_path, {"q": 1.0}, n=12, cpus=32)
    _driver_artifact(tmp_path, {"q": 2.0}, n=12, cpus=8, name="BENCH_r12_c8.json")
    _driver_artifact(tmp_path, {"q": 3.0}, n=13, cpus=32)
    _last_full(tmp_path / ".bench", {"q": 4.0}, cores=32)
    assert _guard(tmp_path, {"q": 2.0}, cores=8)["_baseline"] == "BENCH_r12_c8.json"
    assert _guard(tmp_path, {"q": 2.0}, cores=32)["_baseline"] == "last_full.c32.json"
    assert _guard(tmp_path, {"q": 2.0}, cores=4)["_baseline"] == "none"


def test_planted_build_job_flags_counters_moved(tmp_path):
    # same wall time, one more job while the DataFrame is built: a plan
    # change the wall clock does not show must still flag
    _last_full(tmp_path / ".bench", {"q": 1.0, "same": 1.0},
               {"q": _row(), "same": _row()})
    out = _guard(tmp_path, {"q": 1.0, "same": 1.0},
                 {"q": _row(build_jobs=2, jobs=5), "same": _row()})
    assert out["q"]["counters_moved"] == {"jobs": [4, 5]}
    assert out["q"]["ratio"] == 1.0 and out["q"]["wall_only"] is False
    assert "same" not in out


def test_back_to_back_noisy_runs_need_no_adjudication(tmp_path):
    # run A (quiet host) writes the baseline with its ledger; run B lands on
    # a 1.7x-loaded host (every entry uniformly slower, same plans). Nothing
    # is absorbed: every entry flags, and every flag says by itself that it
    # is wall-only noise — the counters held.
    queries_a = {f"q{i:02d}": 0.2 + 0.05 * i for i in range(20)}
    layers = {k: _row() for k in queries_a}
    _last_full(tmp_path / ".bench", queries_a, layers)
    queries_b = {k: round(v * 1.7, 3) for k, v in queries_a.items()}
    out = _guard(tmp_path, queries_b, layers)
    flags = {k: v for k, v in out.items() if not k.startswith("_")}
    assert set(flags) == set(queries_a)
    assert all(f["wall_only"] and f["counters_moved"] == {} for f in flags.values())


@contextlib.contextmanager
def _clock_profiled(name):
    """profiling.profiled without Spark: times the block on the (patched)
    clock and counts nothing."""
    led = Ledger(name)
    t0 = bench.time.perf_counter()
    yield led
    led.wall_s = round(bench.time.perf_counter() - t0, 3)


def test_timed_min_escalates_on_trial_disagreement(monkeypatch):
    # two disagreeing trials (>1.3x spread) must earn exactly one extra
    # trial; two agreeing trials must not. Drive timed_min with a fake
    # clock so the test is instant and exact. Each trial reads the clock
    # four times: build start/end, exec start/end.
    ticks = iter([0.0, 0.0, 0.0, 0.10, 0.10, 0.10, 0.10, 0.50, 0.50, 0.50, 0.50, 0.51])
    calls = []
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks))
    monkeypatch.setattr(bench, "profiled", _clock_profiled)
    got = bench.timed_min("esc", lambda: calls.append(1), run=lambda _: None)
    assert len(calls) == 3
    assert got == 0.01
    assert bench.SERVED_TRIALS["esc"] == [0.1, 0.4, 0.01]
    assert bench.LAYERS["esc"]["jobs"] == 0 and bench.LAYERS["esc"]["build_s"] == 0.0

    ticks2 = iter([0.0, 0.0, 0.0, 0.10, 0.10, 0.10, 0.10, 0.21])  # 0.10 vs 0.11
    calls2 = []
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks2))
    got2 = bench.timed_min("no_esc", lambda: calls2.append(1), run=lambda _: None)
    assert len(calls2) == 2
    assert got2 == 0.1


def test_timed_min_pre_hook_runs_outside_timed_region(monkeypatch):
    # cold-trial accounting: ``pre`` runs before EVERY trial but its cost
    # stays outside the timed region
    ticks = iter([0.0, 0.0, 0.0, 0.10, 0.10, 0.10, 0.10, 0.21])
    order = []
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks))
    monkeypatch.setattr(bench, "profiled", _clock_profiled)
    got = bench.timed_min(
        "cold", lambda: order.append("fn"), run=lambda _: None,
        pre=lambda: order.append("pre"),
    )
    assert order == ["pre", "fn", "pre", "fn"]
    assert got == 0.1


def test_summary_line_carries_per_query_timings(monkeypatch, capsys, tmp_path):
    # VERDICT r11 #2: the one-line contract JSON must carry the full
    # per-query map, so runs can be compared query by query, and the
    # ledger totals. main() runs with every measurement stubbed; the
    # emitted first and last lines (the compact summary a bounded tail
    # keeps) must carry every timing.
    from job_search_engine_using_pyspark_solar_and_angular_spark.queries import (
        declared,
    )

    class _Spark:
        class sparkContext:  # noqa: N801 (stands in for the attribute)
            @staticmethod
            def setLogLevel(level):
                pass

    class _Result:
        def count(self):
            return 0

    def _timed_min(name, build, run=None, pre=None, **kw):
        bench.LAYERS[name] = _row(jobs=2, stages=3)
        return 1.25

    headline = ["q_a", "q_b"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/nonexistent/sf0.01")
    monkeypatch.setattr(bench, "BENCH_DIR", str(tmp_path))
    monkeypatch.setattr(bench, "LAYERS", {})
    monkeypatch.setattr(bench, "HEADLINE", headline)
    monkeypatch.setattr(bench, "QUERIES", {
        n: (lambda spark, sf: _Result())
        for n in headline + ["q11_agg_tpch_q1", "q20_bm25_search", "ext_multimodal_features"]
    })
    monkeypatch.setattr(bench, "get_spark", lambda **kw: _Spark())
    monkeypatch.setattr(bench, "force", lambda df: None)
    monkeypatch.setattr(bench, "timed_min", _timed_min)
    monkeypatch.setattr(declared, "release_query_caches", lambda name: False)
    for name, value in [
        ("bench_bm25_served", 0.1), ("bench_http_served", 0.2),
        ("bench_ann_served_vec", 0.4), ("bench_served_refresh", 0.6),
    ]:
        monkeypatch.setattr(bench, name, lambda *a, v=value: v)
    monkeypatch.setattr(bench, "bench_bucketed_layout", lambda *a: {
        q: {"bucketed_sec": 0.7, "speedup": 1.0} for q in ("ext_tpch_q18", "ext_tpch_q21")
    })
    monkeypatch.setattr(bench, "bench_streaming_ingest", lambda *a: {"mb_per_sec": 9.0})
    monkeypatch.setattr(bench, "bench_preprocess_scaled",
                        lambda *a, **kw: {"mb_per_sec": 8.0, "sec": 2.0})
    monkeypatch.setattr(bench, "regressions_vs_previous", lambda *a, **kw: {})

    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    first, last = json.loads(lines[0]), json.loads(lines[-1])
    assert first == last
    want = {
        "q_a": 1.25, "q_b": 1.25, "q20_bm25_served": 0.1, "http_query_served": 0.2,
        "ann_lsh_served_vec": 0.4,
        "ext_tpch_q18_bucketed": 0.7, "ext_tpch_q21_bucketed": 0.7,
    }
    assert last["queries"] == want, "summary line no longer carries the per-query timings map"
    assert last["queries_n"] == len(want)
    assert last["value"] == round(sum(want.values()), 3)
    assert (last["jobs"], last["stages"], last["shuffle_mb"]) == (4, 6, 1.0)
    assert json.loads(lines[1])["layers"] == {n: _row(jobs=2, stages=3) for n in headline}
