"""The summary of ``scripts/perf_pairs.py`` on canned benchmark results."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _load():
    spec = importlib.util.spec_from_file_location(
        "perf_pairs", ROOT / "scripts" / "perf_pairs.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


perf_pairs = _load()


def _result(**metrics):
    return {
        "correct": True, "attempted": 4, "failed": 0,
        "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()},
    }


def _records(parent, change):
    """JSON lines as the runner writes them, one pair per seed."""
    out = []
    for seed, (p, c) in enumerate(zip(parent, change), start=100):
        for side, metrics in (("parent", p), ("change", c)):
            out.append({"side": side, "seed": seed, "result": _result(**metrics)})
    return out


def test_parse_seeds():
    assert perf_pairs.parse_seeds("5001-5003,5010") == [5001, 5002, 5003, 5010]
    assert perf_pairs.parse_seeds("7") == [7]


def test_summary_applies_the_nine_in_ten_and_iqr_rule():
    parent_lat = [2.6, 2.5, 2.7, 2.6, 2.65, 2.55, 2.6, 2.7, 2.5, 2.6]
    parent = [
        {"op_s_p50": v, "ops_per_min": 60 / v, "noisy_s": v, "close_s": v}
        for v in parent_lat
    ]
    change = [
        {
            # 9 wins, one loss: a gain
            "op_s_p50": 2.1 if k else 2.8,
            "ops_per_min": 60 / (2.1 if k else 2.8),
            # 8 wins: not a gain, however large the gap
            "noisy_s": 1.0 if k > 1 else 3.0,
            # 10 wins but the medians differ by less than the parent IQR
            "close_s": v - 0.01,
        }
        for k, v in enumerate(parent_lat)
    ]
    better = {"op_s_p50": "lower", "ops_per_min": "higher"}
    rows = {r["metric"]: r for r in perf_pairs.summarize(_records(parent, change), better)}
    assert rows["op_s_p50"]["wins"] == 9 and rows["op_s_p50"]["gain"]
    assert rows["op_s_p50"]["parent"][1] == 2.6
    assert rows["op_s_p50"]["change"][1] == 2.1
    assert rows["ops_per_min"]["better"] == "higher"
    assert rows["ops_per_min"]["wins"] == 9 and rows["ops_per_min"]["gain"]
    assert rows["noisy_s"]["wins"] == 8 and not rows["noisy_s"]["gain"]
    assert rows["close_s"]["wins"] == 10 and not rows["close_s"]["gain"]
    # a change that is worse never claims a gain
    flipped = {r["metric"]: r for r in perf_pairs.summarize(_records(change, parent), better)}
    assert not flipped["op_s_p50"]["gain"] and flipped["op_s_p50"]["wins"] == 1


def test_summary_ignores_unpaired_runs_and_counts_failures(tmp_path):
    recs = _records([{"op_s_p50": 2.0}] * 2, [{"op_s_p50": 1.0}] * 2)
    recs.append({"side": "parent", "seed": 999, "result": _result(op_s_p50=9.0)})
    recs[1]["result"].update(correct=False, failed=2)
    rows = perf_pairs.summarize(recs, {})
    assert rows[0]["pairs"] == 2 and rows[0]["parent"][1] == 2.0
    assert perf_pairs.runs_summary(recs) == {
        "parent": {"runs": 3, "failed": 0, "incorrect": 0},
        "change": {"runs": 2, "failed": 2, "incorrect": 1},
    }
    path = tmp_path / "pairs.jsonl"
    path.write_text("".join(json.dumps(r) + "\n" for r in recs))
    assert perf_pairs.read_records(path) == recs


def test_directions_read_the_benchmark_spec():
    better = perf_pairs.directions(ROOT)
    assert better["op_s_p50"] == "lower" and better["ops_per_min"] == "higher"


def test_verdict_flags_regressions_beyond_the_bound():
    parent_lat = [2.0, 2.02, 1.98, 2.0, 2.01, 1.99, 2.0, 2.02, 1.98, 2.0]
    parent = [{"op_s_p50": v, "ops_per_min": 60 / v, "flat_s": v} for v in parent_lat]
    change = [
        {
            # median 30% slower: beyond a 0.25 bound
            "op_s_p50": 1.3 * v,
            # 20% fewer ops: worse, but inside the bound
            "ops_per_min": 0.8 * 60 / v,
            # no bound: no verdict
            "flat_s": v,
        }
        for v in parent_lat
    ]
    better = {"op_s_p50": "lower", "ops_per_min": "higher"}
    limits = {"op_s_p50": 0.25, "ops_per_min": 0.25}
    rows = {
        r["metric"]: r
        for r in perf_pairs.summarize(_records(parent, change), better, limits)
    }
    assert rows["op_s_p50"]["verdict"] == "regress"
    assert rows["ops_per_min"]["verdict"] == "ok"
    assert rows["flat_s"]["verdict"] is None
    # the same 30% in the better direction is fine
    rows = {
        r["metric"]: r
        for r in perf_pairs.summarize(_records(change, parent), better, limits)
    }
    assert rows["op_s_p50"]["verdict"] == "ok"


def test_verdict_is_unresolved_when_the_spread_exceeds_the_bound():
    # parent runs spread over ±50% around a 2 s median
    parent = [{"op_s_p50": v} for v in (1.0, 2.0, 3.0, 2.0, 1.0, 3.0, 2.0, 1.0)]
    limits = {"op_s_p50": 0.25}
    # medians equal, and the change loses some pairs: cannot tell
    mixed = [{"op_s_p50": v} for v in (2.0, 2.1, 1.9, 2.0, 2.2, 1.8, 2.0, 2.0)]
    (row,) = perf_pairs.summarize(_records(parent, mixed), {}, limits)
    assert row["wins"] < row["pairs"] and row["verdict"] == "unresolved"
    # winning every pair is not enough while the runs overlap
    paired = [{"op_s_p50": r["op_s_p50"] - 0.1} for r in parent]
    (row,) = perf_pairs.summarize(_records(parent, paired), {}, limits)
    assert row["wins"] == row["pairs"] and row["verdict"] == "unresolved"
    # every change run beats every parent run: the spread hides nothing
    below = [{"op_s_p50": 0.9 + 0.01 * k} for k in range(len(parent))]
    (row,) = perf_pairs.summarize(_records(parent, below), {}, limits)
    assert row["verdict"] == "ok"
    # a change worse by more than the bound is a regression, however noisy
    worse = [{"op_s_p50": r["op_s_p50"] + 1.0} for r in parent]
    (row,) = perf_pairs.summarize(_records(parent, worse), {}, limits)
    assert row["verdict"] == "regress"


def test_bounds_read_the_benchmark_spec():
    limits = perf_pairs.bounds(ROOT)
    assert limits["op_s_p50"] == 0.25 and limits["setup_s"] == 0.25
    assert "spark.jobs" not in limits
