"""Regression-guard wiring tests (VERDICT r05 "what's wrong" #1).

The r5 defect: driver artifacts carry ``"parsed": null`` plus a truncated
``tail`` string, and ``doc.get("parsed", {}).get("queries")`` raised
AttributeError (the key exists with value None), which the except swallowed
— so ``regressions: {}`` was the only possible output and the guard never
compared anything. These tests feed exactly that artifact shape with a
planted 2x slowdown and require the guard to flag it, plus prove the
ACCEPTED_REGRESSIONS annotation and the ``.bench/last_full.json`` priority
actually reach the artifact.

No SparkSession needed — pure-python guard logic.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _driver_artifact(tmp_path, queries: dict, parsed=None, n: int = 5) -> None:
    """Write a BENCH_r{n}.json shaped like the driver's: parsed null,
    timings only inside the tail string."""
    tail = json.dumps({"metric": "headline query wall time (sum)",
                       "queries": queries, "sf": 0.1})
    (tmp_path / f"BENCH_r{n:02d}.json").write_text(
        json.dumps({"n": n, "rc": 0, "cpus": 32, "sf": 0.1,
                    "tail": tail[len(tail) // 3:],  # truncated FROM THE FRONT
                    "parsed": parsed})
    )


def test_parsed_null_artifact_flags_planted_slowdown(tmp_path):
    # prior run: q fast; current run: 2x slower. parsed is null, so the
    # only path to the prior number is the tail fallback parser.
    _driver_artifact(tmp_path, {"ext_tpch_q6": 0.30, "q08_latest_wins": 0.50})
    out = bench.regressions_vs_previous(
        {"ext_tpch_q6": 0.62, "q08_latest_wins": 0.51},
        repo_dir=str(tmp_path),
        bench_dir=str(tmp_path / ".bench"),
    )
    assert out["_baseline"] == "BENCH_r05.json"
    assert out["_compared"] == 2
    assert "ext_tpch_q6" in out, "planted 2x slowdown must be flagged"
    assert out["ext_tpch_q6"]["ratio"] >= 2.0
    assert "q08_latest_wins" not in out  # 1.02x is not a regression


def test_truncation_drops_front_of_tail_not_queries():
    # the queries dict prints early in the JSON line; driver truncation
    # keeps the END of stdout. Simulate a tail whose FRONT was cut mid-key
    # and make sure the parser still recovers the intact pairs.
    tail = '_q1": 0.77, "ext_tpch_q6": 0.317, "ext_bloom_prune": 1.341}, "sf": 0.1'
    got = bench._timings_from_tail(tail)
    assert got["ext_tpch_q6"] == 0.317
    assert got["ext_bloom_prune"] == 1.341
    # the mangled leading fragment must not produce a bogus full-name key
    assert "ext_tpch_q1" not in got


def test_accepted_regression_annotation_reaches_artifact(tmp_path):
    name = next(iter(bench.ACCEPTED_REGRESSIONS))
    _driver_artifact(tmp_path, {name: 1.0})
    out = bench.regressions_vs_previous(
        {name: 2.5}, repo_dir=str(tmp_path), bench_dir=str(tmp_path / ".bench")
    )
    assert name in out
    assert out[name]["accepted"] == bench.ACCEPTED_REGRESSIONS[name]


def test_last_full_json_outranks_driver_artifact(tmp_path):
    # builder's own full run says 1.0s; stale driver artifact says 0.1s.
    # The guard must prefer the complete local baseline.
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    (bdir / "last_full.json").write_text(json.dumps({"queries": {"q": 1.0}}))
    _driver_artifact(tmp_path, {"q": 0.1})
    out = bench.regressions_vs_previous(
        {"q": 1.1}, repo_dir=str(tmp_path), bench_dir=str(bdir)
    )
    assert out["_baseline"] == "last_full.json"
    assert "q" not in out  # 1.1x vs the real baseline, not 11x vs the stale one


def test_no_prior_artifacts_reports_none(tmp_path):
    out = bench.regressions_vs_previous(
        {"q": 1.0}, repo_dir=str(tmp_path), bench_dir=str(tmp_path / ".bench")
    )
    assert out["_baseline"] == "none"
    assert out["_compared"] == 0


def test_real_r5_artifact_parses():
    # the actual driver artifact in the repo root must yield timings via
    # the tail fallback (it is the artifact that exposed the bug).
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(repo, "BENCH_r05.json")
    if not os.path.isfile(path):
        import pytest

        pytest.skip("driver artifact not present")
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    assert doc.get("parsed") is None  # the shape that broke r5
    got = bench._timings_from_tail(doc["tail"])
    assert got.get("ext_tpch_q6") == 0.317
    assert got.get("ann_lsh_served") == 0.859


def test_host_calibration_kernel_is_fast_and_repeatable():
    a = bench.host_calibration(runs=1)
    b = bench.host_calibration(runs=1)
    assert 0 < a < 10 and 0 < b < 10


def test_round_anchor_recorded_alongside_last_full(tmp_path):
    # last_full says 1.0 (ratchet would hide creep); the round artifact —
    # the fixed anchor — says 0.4. A current 1.1 is clean vs last_full but
    # 2.75x vs the anchor: the artifact must carry BOTH views.
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    (bdir / "last_full.json").write_text(json.dumps({"queries": {"q": 1.0}}))
    _driver_artifact(tmp_path, {"q": 0.4})
    out = bench.regressions_vs_previous(
        {"q": 1.1}, repo_dir=str(tmp_path), bench_dir=str(bdir)
    )
    assert out["_baseline"] == "last_full.json"
    assert "q" not in out  # primary view: 1.1x, clean
    anchor = out["_round_anchor"]
    assert anchor["source"] == "BENCH_r05.json"
    assert anchor["flags"]["q"]["ratio"] >= 2.7  # creep visible at the anchor


def test_host_adjusted_ratio_unmasks_and_excuses(tmp_path):
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    (bdir / "last_full.json").write_text(
        json.dumps({"queries": {"fastq": 1.0, "slowq": 1.0},
                    "host_calib_sec": 0.4})
    )
    # current host measured 2x FASTER (calib 0.2): a raw-1.4x "clean" query
    # is really a 2.8x regression; the guard must flag it via the adjusted
    # ratio. A raw-1.6x on a 2x-SLOWER host (calib 0.8) is excused but the
    # flag still carries the adjusted number for the reader.
    out = bench.regressions_vs_previous(
        {"fastq": 1.4, "slowq": 0.6},
        repo_dir=str(tmp_path), bench_dir=str(bdir), host_calib_sec=0.2,
    )
    assert out["_host_factor"] == 0.5
    assert out["fastq"]["host_adj_ratio"] == 2.8  # unmasked
    assert "slowq" not in out  # 0.6 raw = 1.2 adjusted: genuinely clean
    out2 = bench.regressions_vs_previous(
        {"fastq": 1.6, "slowq": 0.9},
        repo_dir=str(tmp_path), bench_dir=str(bdir), host_calib_sec=0.8,
    )
    # r10: a raw-1.6x slowdown the calibration fully explains (adjusted
    # 0.8x) no longer counts as a flag — it is absorbed with the
    # explanation attached, so noisy-host runs need no human adjudication
    assert "fastq" not in out2
    absorbed = out2["_noise_absorbed"]["fastq"]
    assert absorbed["ratio"] == 1.6
    assert absorbed["host_adj_ratio"] == 0.8
    assert absorbed["absorbed"] == "host_adjusted_clean"


def test_calibration_recovered_from_driver_tail(tmp_path):
    # driver artifacts carry parsed:null; host_calib_sec must be
    # recoverable from the flat tail pairs and must NOT leak into the
    # timings dict as a phantom query.
    _driver_artifact(tmp_path, {"q": 0.5, "host_calib_sec": 0.4})
    prev, source, calib, meta = bench._round_artifact_timings(str(tmp_path))
    assert source == "BENCH_r05.json"
    assert calib == 0.4
    assert "host_calib_sec" not in prev and prev["q"] == 0.5
    # a tail-only artifact with no host_calib_samples marker is the pre-r9
    # single end-of-run sample kind
    assert meta["calib_kind"] == "single"


def test_flag_absorbed_within_prev_trial_spread(tmp_path):
    # baseline min 0.5 came from trials [0.5, 0.9] (a lucky quiet window);
    # current run's 0.8 is a raw 1.6x — but it sits INSIDE the baseline's
    # own recorded spread, so the artifact explains it as noise. A current
    # 1.2 (past the baseline's worst trial) must still flag.
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    (bdir / "last_full.json").write_text(json.dumps({
        "queries": {"noisy": 0.5, "regressed": 0.5},
        "served_trials": {"noisy": [0.5, 0.9], "regressed": [0.5, 0.55]},
    }))
    out = bench.regressions_vs_previous(
        {"noisy": 0.8, "regressed": 1.2},
        repo_dir=str(tmp_path), bench_dir=str(bdir),
    )
    assert "noisy" not in out
    assert (
        out["_noise_absorbed"]["noisy"]["absorbed"]
        == "within_prev_trial_spread"
    )
    assert out["regressed"]["ratio"] >= 2.0  # real regression still counted


def test_spread_absorption_skipped_on_inconsistent_baseline(tmp_path):
    # ADVICE r10 (medium): a PRE-FIX baseline whose recorded min was
    # recheck-folded BELOW its served_trials (min 0.4, trials [0.6, 0.9])
    # has a burst-inflated spread — a current 0.62 is a real 1.55x vs the
    # recorded min and must FLAG, not absorb against the stale burst range.
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    (bdir / "last_full.json").write_text(json.dumps({
        "queries": {"folded": 0.4},
        "served_trials": {"folded": [0.6, 0.9]},
    }))
    out = bench.regressions_vs_previous(
        {"folded": 0.62}, repo_dir=str(tmp_path), bench_dir=str(bdir),
    )
    assert "folded" in out and out["folded"]["ratio"] >= 1.5
    assert "_noise_absorbed" not in out


def test_back_to_back_noisy_runs_need_no_adjudication(tmp_path):
    # VERDICT r9 #2 done-criterion in miniature: run A (quiet host) writes
    # the baseline with trials; run B lands on a 1.7x-loaded host (every
    # query uniformly slower, calibration sandwich catches it). B must
    # produce ZERO counted flags against A without any human adjudication.
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    queries_a = {f"q{i:02d}": 0.2 + 0.05 * i for i in range(20)}
    (bdir / "last_full.json").write_text(json.dumps({
        "queries": queries_a,
        "served_trials": {k: [v, round(v * 1.15, 3)] for k, v in queries_a.items()},
        "host_calib_sec": 0.24,
        "host_calib_samples": {"pre": 0.24, "post": 0.26},
    }))
    queries_b = {k: round(v * 1.7, 3) for k, v in queries_a.items()}
    out = bench.regressions_vs_previous(
        queries_b, repo_dir=str(tmp_path), bench_dir=str(bdir),
        host_calib_sec=0.24 * 1.7,
        host_calib_samples={"pre": 0.24 * 1.7, "post": 0.26 * 1.7},
    )
    counted = {k for k in out if not k.startswith("_")}
    assert counted == set(), f"phantom flags on a uniformly loaded host: {counted}"
    assert len(out["_noise_absorbed"]) == 20  # all explained, none hidden


def test_like_for_like_calibration_vs_single_sample_baseline(tmp_path):
    # ADVICE r9: a pre-r9 baseline carries ONE end-of-run calibration
    # sample; comparing it against this run's min(pre, post) biases
    # host_factor low. The guard must use the current POST sample when the
    # baseline kind is "single", and the min when the baseline carries the
    # sandwich.
    bdir = tmp_path / ".bench"
    bdir.mkdir()
    (bdir / "last_full.json").write_text(json.dumps({
        "queries": {"q": 1.0}, "host_calib_sec": 0.4,  # no samples: pre-r9
    }))
    out = bench.regressions_vs_previous(
        {"q": 1.0}, repo_dir=str(tmp_path), bench_dir=str(bdir),
        host_calib_sec=0.2,  # min(pre, post)
        host_calib_samples={"pre": 0.2, "post": 0.4},
    )
    assert out["_host_factor"] == 1.0  # post-vs-single: 0.4/0.4, not 0.2/0.4
    (bdir / "last_full.json").write_text(json.dumps({
        "queries": {"q": 1.0}, "host_calib_sec": 0.4,
        "host_calib_samples": {"pre": 0.4, "post": 0.5},
    }))
    out2 = bench.regressions_vs_previous(
        {"q": 1.0}, repo_dir=str(tmp_path), bench_dir=str(bdir),
        host_calib_sec=0.2,
        host_calib_samples={"pre": 0.2, "post": 0.4},
    )
    assert out2["_host_factor"] == 0.5  # min-vs-min: like-for-like


def test_timed_min_escalates_on_trial_disagreement(monkeypatch):
    # two disagreeing trials (>1.3x spread) must earn exactly one extra
    # trial; two agreeing trials must not. Drive timed_min with a fake
    # clock so the test is instant and exact.
    ticks = iter([0.0, 0.10, 0.10, 0.50, 0.50, 0.51])  # t1=0.10s, t2=0.40s, t3=0.01s
    calls = []
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks))
    got = bench.timed_min("esc", lambda: calls.append(1))
    assert len(calls) == 3
    assert got == 0.01
    assert bench.SERVED_TRIALS["esc"] == [0.1, 0.4, 0.01]

    ticks2 = iter([0.0, 0.10, 0.10, 0.21])  # 0.10 vs 0.11: inside 1.3x
    calls2 = []
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks2))
    got2 = bench.timed_min("no_esc", lambda: calls2.append(1))
    assert len(calls2) == 2
    assert got2 == 0.1


def test_timed_min_pre_hook_runs_outside_timed_region(monkeypatch):
    # r12 cold-trial accounting: ``pre`` runs before EVERY trial but its
    # cost stays outside the timed region, and the RERUN thunk folds pre in
    # so a flag recheck re-measures the same cold cost.
    ticks = iter([0.0, 0.10, 0.10, 0.21])
    order = []
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(ticks))
    got = bench.timed_min(
        "cold", lambda: order.append("fn"), pre=lambda: order.append("pre")
    )
    assert order == ["pre", "fn", "pre", "fn"]
    assert got == 0.1
    bench.RERUN["cold"]()  # recheck thunk: pre then fn
    assert order == ["pre", "fn", "pre", "fn", "pre", "fn"]


def test_summary_line_carries_per_query_timings(monkeypatch, capsys):
    # VERDICT r11 #2: the one-line contract JSON must carry the full
    # per-query map, so runs can be compared query by query. main() runs
    # with every measurement stubbed; the emitted first and last lines (the
    # compact summary a bounded tail keeps) must carry every timing.
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

    headline = ["q_a", "q_b"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/nonexistent/sf0.01")
    monkeypatch.setattr(bench, "HEADLINE", headline)
    monkeypatch.setattr(bench, "QUERIES", {
        n: (lambda spark, sf: _Result())
        for n in headline + ["q11_agg_tpch_q1", "q20_bm25_search", "ext_multimodal_features"]
    })
    monkeypatch.setattr(bench, "get_spark", lambda **kw: _Spark())
    monkeypatch.setattr(bench, "host_calibration", lambda: 0.5)
    monkeypatch.setattr(bench, "force", lambda df: None)
    monkeypatch.setattr(bench, "timed_min", lambda name, fn, pre=None: 1.25)
    monkeypatch.setattr(declared, "release_query_caches", lambda name: False)
    for name, value in [
        ("bench_bm25_served", 0.1), ("bench_http_served", 0.2),
        ("bench_ann_served", 0.3), ("bench_ann_served_vec", 0.4),
        ("bench_ann_pq_served", 0.5), ("bench_served_refresh", 0.6),
    ]:
        monkeypatch.setattr(bench, name, lambda *a, v=value: v)
    monkeypatch.setattr(bench, "bench_bucketed_layout", lambda *a: {
        q: {"bucketed_sec": 0.7, "speedup": 1.0} for q in ("ext_tpch_q18", "ext_tpch_q21")
    })
    monkeypatch.setattr(bench, "bench_streaming_ingest", lambda *a: {"mb_per_sec": 9.0})
    monkeypatch.setattr(bench, "bench_preprocess_scaled",
                        lambda *a, **kw: {"mb_per_sec": 8.0, "sec": 2.0})
    monkeypatch.setattr(bench, "regressions_vs_previous", lambda timings, **kw: {})

    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    first, last = json.loads(lines[0]), json.loads(lines[-1])
    assert first == last
    want = {
        "q_a": 1.25, "q_b": 1.25, "q20_bm25_served": 0.1, "http_query_served": 0.2,
        "ann_lsh_served": 0.3, "ann_lsh_served_vec": 0.4, "ann_pq_served": 0.5,
        "ext_tpch_q18_bucketed": 0.7, "ext_tpch_q21_bucketed": 0.7,
    }
    assert last["queries"] == want, "summary line no longer carries the per-query timings map"
    assert last["queries_n"] == len(want)
    assert last["value"] == round(sum(want.values()), 3)
