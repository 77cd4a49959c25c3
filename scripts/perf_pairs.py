"""Alternating parent/change benchmark pairs, and their summary.

    python3 scripts/perf_pairs.py --parent ../parent --change . \\
        --workload graph_iterate --seeds 5001-5010 --out pairs.jsonl

Runs ``perfbench/run.py`` once per seed in each checkout, alternating which
side goes first (the parent on even pair indexes), and appends every run's
JSON result to ``--out`` as ``{"side", "seed", "result"}`` lines as it
goes. Then prints, per metric, each side's median and quartiles, how many
pairs the change won (ties count for neither side) and whether the pairs
support a claimed gain: wins in at least nine tenths of the pairs and a
median gap, in the better direction, larger than the parent's own
interquartile range. Each metric that has a ``bound`` in BENCHMARK.json
also gets a no-regression verdict: ``regress`` when the change's median is
worse than the parent's by more than the bound (a fraction of the parent's
median), ``unresolved`` when either side's interquartile range is wider
than the bound (again relative to its median) and not every change run
beats every parent run, ``ok`` otherwise. ``--summarize FILE`` prints the
summary of saved runs without running anything. Standard library only.
"""

from __future__ import annotations

import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path


def parse_seeds(spec: str) -> list[int]:
    """``"5001-5003,5010"`` -> ``[5001, 5002, 5003, 5010]``."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def _metrics(checkout: Path) -> list[dict]:
    """The metric entries of the checkout's BENCHMARK.json (empty when it
    has none)."""
    path = checkout / "BENCHMARK.json"
    if not path.is_file():
        return []
    spec = json.loads(path.read_text())
    return spec.get("end_to_end", []) + spec.get("per_layer", [])


def directions(checkout: Path) -> dict[str, str]:
    """metric name -> "lower" or "higher", from the checkout's
    BENCHMARK.json."""
    return {m["name"]: m["better"] for m in _metrics(checkout)}


def bounds(checkout: Path) -> dict[str, float]:
    """metric name -> its regression bound, a fraction of the parent's
    median, for the metrics of the checkout's BENCHMARK.json that have one."""
    return {m["name"]: m["bound"] for m in _metrics(checkout) if "bound" in m}


def run_one(checkout: Path, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{checkout} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def _relative_iqr(q: tuple[float, float, float]) -> float:
    """Interquartile range over the median."""
    iqr = q[2] - q[0]
    return iqr / abs(q[1]) if q[1] else (math.inf if iqr else 0.0)


def verdict(pairs: list[tuple[float, float]], bound: float, sign: float) -> str:
    """"regress", "unresolved" or "ok" for one metric's (parent, change)
    pairs; ``sign`` is 1 when lower is better, -1 when higher is."""
    parent = quartiles([p for p, _ in pairs])
    change = quartiles([c for _, c in pairs])
    if sign * (change[1] - parent[1]) > bound * abs(parent[1]):
        return "regress"
    spread = max(_relative_iqr(parent), _relative_iqr(change))
    # the spread only hides nothing when every change run beats every
    # parent run
    separated = max(sign * c for _, c in pairs) < min(sign * p for p, _ in pairs)
    if spread > bound and not separated:
        return "unresolved"
    return "ok"


def summarize(
    records: list[dict], better: dict[str, str], limits: dict[str, float] | None = None
) -> list[dict]:
    """One row per metric over the seeds both sides ran. ``records`` are
    the ``{"side", "seed", "result"}`` lines; ``better`` maps a metric to
    "lower" or "higher" (metrics missing from it count lower as better);
    ``limits`` maps a metric to its regression bound, and a row's
    ``verdict`` is None for a metric without one."""
    limits = limits or {}
    by_side: dict[str, dict[int, dict]] = {"parent": {}, "change": {}}
    for rec in records:
        by_side[rec["side"]][rec["seed"]] = rec["result"]
    seeds = sorted(by_side["parent"].keys() & by_side["change"].keys())
    names = sorted({
        name for s in seeds for side in by_side.values()
        for name in side[s]["metrics"]
    })
    rows = []
    for name in names:
        pairs = [
            (by_side["parent"][s]["metrics"][name]["value"],
             by_side["change"][s]["metrics"][name]["value"])
            for s in seeds
            if name in by_side["parent"][s]["metrics"]
            and name in by_side["change"][s]["metrics"]
        ]
        if not pairs:
            continue
        sign = -1.0 if better.get(name, "lower") == "higher" else 1.0
        parent = quartiles([p for p, _ in pairs])
        change = quartiles([c for _, c in pairs])
        wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
        gap = sign * (parent[1] - change[1])  # > 0: the change is better
        rows.append({
            "metric": name,
            "better": "higher" if sign < 0 else "lower",
            "pairs": len(pairs),
            "parent": parent,
            "change": change,
            "wins": wins,
            "gain": wins >= 0.9 * len(pairs) and gap > parent[2] - parent[0],
            "verdict": verdict(pairs, limits[name], sign) if name in limits else None,
        })
    return rows


def runs_summary(records: list[dict]) -> dict[str, dict]:
    """side -> runs, failed operations and runs not marked correct."""
    out = {}
    for side in ("parent", "change"):
        res = [r["result"] for r in records if r["side"] == side]
        out[side] = {
            "runs": len(res),
            "failed": sum(r.get("failed", 0) for r in res),
            "incorrect": sum(1 for r in res if not r.get("correct", False)),
        }
    return out


def print_summary(records: list[dict], checkout: Path) -> None:
    """The summary, with directions and bounds from ``checkout``'s
    BENCHMARK.json."""
    for side, s in runs_summary(records).items():
        print(f"{side}: {s['runs']} runs, {s['failed']} failed ops, "
              f"{s['incorrect']} not correct")
    for r in summarize(records, directions(checkout), bounds(checkout)):
        p, c = r["parent"], r["change"]
        print(f"{r['metric']:40} parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]"
              f"  change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]"
              f"  wins {r['wins']}/{r['pairs']}  gain {'yes' if r['gain'] else 'no'}"
              + (f"  verdict {r['verdict']}" if r["verdict"] else ""))


def read_records(path: Path) -> list[dict]:
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", type=Path)
    p.add_argument("--change", type=Path)
    p.add_argument("--workload")
    p.add_argument("--seeds", type=parse_seeds, help="e.g. 5001-5010,5020")
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", type=Path, help="JSON-lines file the runs are appended to")
    p.add_argument("--summarize", type=Path, help="summarize saved runs and exit")
    args = p.parse_args(argv)
    if args.summarize:
        records = read_records(args.summarize)
        print_summary(records, args.parent or Path("."))
        return 0
    if not (args.parent and args.change and args.workload and args.seeds and args.out):
        p.error("--parent, --change, --workload, --seeds and --out are required")
    records = []
    for k, seed in enumerate(args.seeds):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            result = run_one(checkout, args.workload, seed, args.seconds, args.trace)
            rec = {"side": side, "seed": seed, "result": result}
            records.append(rec)
            with args.out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"seed {seed} {side}: correct={result.get('correct')} "
                  f"failed={result.get('failed')}", file=sys.stderr, flush=True)
    print_summary(records, args.parent)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
