"""Steadiness self-test: run one workload on several seeds and compare
each end-to-end metric's quartile spread with its bound.

    python3 perfbench/steady.py --workload tile_pip --seeds 1 2 3 4 5 --seconds 16

The spread is (Q3 - Q1) / median over the seeds, with quartiles as
``statistics.quantiles(values, n=4)`` gives them. A metric is steady
when its spread is below a third of its BENCHMARK.json bound. Exits 1
if any spread, setup_s's included, exceeds its bound, or any run fails
or reports a wrong output.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list[float]) -> float:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def judge(results: list[dict], bench: dict) -> tuple[list[dict], bool]:
    rows, ok = [], True
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        s = spread(vals)
        ok &= s <= m["bound"]
        rows.append({
            "metric": m["name"], "median": statistics.median(vals),
            "spread": s, "bound": m["bound"], "steady": s < m["bound"] / 3,
        })
    ok &= all(r["correct"] and r["failed"] == 0 for r in results)
    return rows, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3, 4, 5])
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    results = []
    for seed in args.seeds:
        res = run_once(args.workload, seed, seconds)
        print(json.dumps({"seed": seed, **res}), flush=True)
        results.append(res)
    rows, ok = judge(results, bench)
    for r in rows:
        flag = "steady" if r["steady"] else ("ok" if r["spread"] <= r["bound"] else "WIDE")
        print(f"{r['metric']:14s} median {r['median']:12.4f}  spread {r['spread']:.4f}"
              f"  bound {r['bound']:.2f}  {flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
