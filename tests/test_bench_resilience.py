"""The bench harness must survive a broken query (round-3 regression).

BENCH_r03 was ``rc: 1, parsed: null`` because one AnalysisException aborted
the sweep before a single timing was printed. The contract now: every query
runs inside try/except, failures land in an ``errors`` dict, and the JSON
line is always emitted with the surviving timings.
"""

from __future__ import annotations

import json
import os

import bench


def test_broken_query_does_not_erase_timings(
    spark, sf_dir, monkeypatch, capsys, tmp_path
):
    def good(s, d):
        return s.range(10).selectExpr("id", "id * 2 AS doubled")

    def broken(s, d):
        raise RuntimeError("deliberately broken for the resilience test")

    def analysis_broken(s, d):
        # Fails at analysis time inside the noop write, like the r3 bug.
        return s.range(1).selectExpr("no_such_column")

    monkeypatch.setattr(
        bench, "QUERIES", {"good": good, "broken": broken, "bad_plan": analysis_broken}
    )
    monkeypatch.setattr(bench, "HEADLINE", ["bad_plan", "broken", "good"])
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "CPUS", 4)
    # The full-dict artifact must land in tmp_path, NOT the repo root — the
    # unpatched path overwrote the round's committed BENCH_FULL_r{N}.json
    # with this test's 3-query payload (r9 verdict's top finding).
    monkeypatch.setattr(bench, "ARTIFACT_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "99")
    # bench.main calls get_spark (getOrCreate reuses the fixture session) and
    # then spark.stop(); neuter stop so the shared fixture survives.
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    repo_root = os.path.dirname(os.path.abspath(bench.__file__))
    before = {
        f: os.path.getmtime(os.path.join(repo_root, f))
        for f in os.listdir(repo_root)
        if f.startswith("BENCH_FULL_")
    }

    bench.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    payload = json.loads(out)
    assert "good" in payload["queries"] and payload["queries"]["good"] > 0
    assert set(payload["errors"]) == {"broken", "bad_plan"}
    assert "deliberately broken" in payload["errors"]["broken"]
    assert payload["value"] == payload["queries"]["good"]

    # Artifact went to tmp_path under the explicit round number…
    assert (tmp_path / "BENCH_FULL_r99.json").exists()
    artifact = json.loads((tmp_path / "BENCH_FULL_r99.json").read_text())
    assert artifact["queries"] == payload["queries"]
    # …and the repo root's committed artifacts are byte-untouched.
    after = {
        f: os.path.getmtime(os.path.join(repo_root, f))
        for f in os.listdir(repo_root)
        if f.startswith("BENCH_FULL_")
    }
    assert after == before


def test_transient_mover_reruns_once_and_self_corrects(
    spark, sf_dir, monkeypatch, capsys, tmp_path
):
    """r16 interference guard: a query that regressed >1.5x (and >0.5 s)
    vs the previous round's committed record re-runs once at sweep end;
    both numbers land in ``queries_rerun`` and the headline takes the
    better time — BENCH_FULL_r15's ten phantom movers (a transient load
    window mid-sweep) could not recur silently."""
    import time as _time

    calls = {"n": 0}

    def slowish(s, d):
        # warm-up + sweep passes are slow — simulating transient
        # load — the rerun is fast
        calls["n"] += 1
        if calls["n"] <= 2:
            _time.sleep(1.2)
        return s.range(5).selectExpr("id")

    def steady(s, d):
        return s.range(5).selectExpr("id")

    monkeypatch.setattr(bench, "QUERIES", {"slowish": slowish, "steady": steady})
    monkeypatch.setattr(bench, "HEADLINE", ["slowish", "steady"])
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setattr(bench, "ARTIFACT_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "99")
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    # previous round's committed record: both queries were fast
    (tmp_path / "BENCH_FULL_r98.json").write_text(
        json.dumps({"queries": {"slowish": 0.05, "steady": 0.05}})
    )

    bench.main()
    artifact = json.loads((tmp_path / "BENCH_FULL_r99.json").read_text())
    assert set(artifact["queries_rerun"]) == {"slowish"}
    rr = artifact["queries_rerun"]["slowish"]
    # r20: movers re-run TWICE; the headline takes the MEDIAN of
    # {sweep, rerun, rerun2} so one rerun landing inside the same load
    # transient cannot leave the fiction in the record
    assert rr["sweep"] >= 1.2
    assert rr["rerun"] < rr["sweep"] and rr["rerun2"] < rr["sweep"]
    assert artifact["queries"]["slowish"] == sorted(
        [rr["sweep"], rr["rerun"], rr["rerun2"]]
    )[1]
    assert len(artifact["load_avg_start"]) == 3
    assert len(artifact["load_avg_end"]) == 3
    assert artifact["load_suspect"] in (True, False)


def test_phantom_prior_entry_cannot_mask_a_mover(
    spark, sf_dir, monkeypatch, capsys, tmp_path
):
    """r16 verdict finding: the guard baselined against ONLY the newest
    prior BENCH_FULL, so a transient-inflated timing committed in round
    N-1 became round N's baseline and a still-slow query looked fine
    (r15's phantom retention_revenue 21.68 s masked adjudication of the
    r16 4.43 s vs the 2.29 s steady state). The baseline is now the
    per-query MIN over the last TWO rounds' records: the honest N-2
    number keeps the bar where it belongs and the rerun fires."""
    import time as _time

    calls = {"n": 0}

    def slowish(s, d):
        calls["n"] += 1
        if calls["n"] <= 2:  # warm-up + sweep slow, rerun fast
            _time.sleep(1.2)
        return s.range(5).selectExpr("id")

    monkeypatch.setattr(bench, "QUERIES", {"slowish": slowish})
    monkeypatch.setattr(bench, "HEADLINE", ["slowish"])
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setattr(bench, "ARTIFACT_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "99")
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    # N-2 holds the honest steady state; N-1 holds a phantom — under a
    # newest-only baseline the 1.2 s sweep would NOT look like a mover
    (tmp_path / "BENCH_FULL_r97.json").write_text(
        json.dumps({"queries": {"slowish": 0.05}})
    )
    (tmp_path / "BENCH_FULL_r98.json").write_text(
        json.dumps({"queries": {"slowish": 21.68}})
    )

    bench.main()
    artifact = json.loads((tmp_path / "BENCH_FULL_r99.json").read_text())
    assert set(artifact["queries_rerun"]) == {"slowish"}
    rr = artifact["queries_rerun"]["slowish"]
    assert artifact["queries"]["slowish"] == sorted(
        [rr["sweep"], rr["rerun"], rr["rerun2"]]
    )[1]


def _run_mover_with_failing_rerun(
    spark, sf_dir, monkeypatch, tmp_path, fail_on_call
):
    """One mover (``slowish``: warm-up and sweep slow against a fast
    prior record) whose ``fail_on_call``-th call raises. Calls: 1 warm-up,
    2 sweep, 3 rerun, 4 rerun2. Returns the written artifact."""
    import time as _time

    calls = {"n": 0}

    def slowish(s, d):
        calls["n"] += 1
        if calls["n"] == fail_on_call:
            raise RuntimeError("deliberately failing rerun")
        if calls["n"] <= 2:
            _time.sleep(1.2)
        return s.range(5).selectExpr("id")

    monkeypatch.setattr(bench, "QUERIES", {"slowish": slowish})
    monkeypatch.setattr(bench, "HEADLINE", ["slowish"])
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setattr(bench, "ARTIFACT_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "99")
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    (tmp_path / "BENCH_FULL_r98.json").write_text(
        json.dumps({"queries": {"slowish": 0.05}})
    )
    bench.main()
    return json.loads((tmp_path / "BENCH_FULL_r99.json").read_text())


def test_failed_second_rerun_keeps_the_slower_lap(
    spark, sf_dir, monkeypatch, capsys, tmp_path
):
    """With rerun2 raising, the headline takes max(sweep, rerun): a rerun
    that cannot complete is no evidence the sweep time was a transient,
    so the faster lap alone must not replace it. The failure is
    recorded beside the laps that ran."""
    artifact = _run_mover_with_failing_rerun(
        spark, sf_dir, monkeypatch, tmp_path, fail_on_call=4
    )
    rr = artifact["queries_rerun"]["slowish"]
    assert set(rr) == {"sweep", "rerun", "error"}
    assert "deliberately failing rerun" in rr["error"]
    assert rr["sweep"] >= 1.2 > rr["rerun"]
    assert artifact["queries"]["slowish"] == max(rr["sweep"], rr["rerun"])


def test_failed_first_rerun_is_recorded(
    spark, sf_dir, monkeypatch, capsys, tmp_path
):
    """With the first rerun raising, the mover keeps its sweep time and
    its ``queries_rerun`` entry records the failure instead of vanishing
    from the artifact."""
    artifact = _run_mover_with_failing_rerun(
        spark, sf_dir, monkeypatch, tmp_path, fail_on_call=3
    )
    rr = artifact["queries_rerun"]["slowish"]
    assert set(rr) == {"sweep", "error"}
    assert "deliberately failing rerun" in rr["error"]
    assert artifact["queries"]["slowish"] == rr["sweep"] >= 1.2
