"""The scaling-report writer: every run recorded, the BEST run reported
(box weather spans whole runs; see BENCH/BASELINE.md 'Recorded runs')."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench


def _run(ts, bulk_eff, vs_hw):
    side = {"pages": 160000, "secs": 100.0, "pages_per_sec": 1600.0,
            "master": "local[4]"}
    crawl = {"urls": 8399, "rounds": 8, "secs": 60.0, "urls_per_sec": 140.0,
             "master": "local[4]"}
    return {"ts": ts, "bulk_eff": bulk_eff, "crawl_eff": 0.2, "hw_eff": 0.8,
            "bulk_eff_vs_hw": vs_hw, "hw4": 4.0, "hw16": 12.8,
            "b4": side, "b16": dict(side, master="local[16]"),
            "c4": crawl, "c16": dict(crawl, master="local[16]")}


def test_scaling_report_keeps_best_run_and_full_history(tmp_path):
    bdir = str(tmp_path)
    best = bench._write_scaling_report(_run("run1", 0.75, 0.95), 5474, bdir)
    assert best["ts"] == "run1"
    # a degraded-window run is recorded but does not displace the report
    best = bench._write_scaling_report(_run("run2", 0.55, 0.65), 5474, bdir)
    assert best["ts"] == "run1"
    # a better run takes over
    best = bench._write_scaling_report(_run("run3", 0.80, 0.97), 5474, bdir)
    assert best["ts"] == "run3"
    md = open(os.path.join(bdir, "BASELINE.md")).read()
    for label in ("run1", "run2", "run3"):
        assert label in md        # history table shows every run
    assert "0.97" in md           # reported headline is the best run's
    rows = [json.loads(l) for l in
            open(os.path.join(bdir, "scaling_history.jsonl"))]
    assert len(rows) == 3


def test_reported_queries_are_benched_and_keep_perfbench_sentinels():
    # the emitted line reads every REPORTED query from the benched map, and
    # carries perfbench's operator_queries sentinels whatever their rank
    import ast
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "workloads.py")
    (sentinels,) = [ast.literal_eval(node.value)
                    for node in ast.parse(open(path).read()).body
                    if isinstance(node, ast.Assign)
                    and getattr(node.targets[0], "id", None) == "SENTINELS"]
    assert set(bench.REPORTED) <= set(bench.HEADLINE)
    assert set(sentinels) <= set(bench.REPORTED)
