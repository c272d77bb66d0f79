"""Interleaved A/B of two revisions on perfbench workloads or entry queries.

Usage: python tools/ab.py <rev-a> <rev-b> <target>... [--pairs N]

rev-a is the parent, rev-b the change. Each revision is exported with
``git archive`` into ``.ab/<sha>/`` (no worktree). A target is a
workload of BENCHMARK.json, run as ``perfbench/run.py --trace 0`` for
the benchmark's ``run_seconds`` inside the export, or an entry-query
name, run through this tree's tools/layer_profile.py with the export as
working directory (one session per side for all named queries). Pair i
runs both sides with ``--seed i``, and the side that runs first
alternates. After the pairs, one traced run per side (``--trace 1``)
names the layers that moved.

Every end-to-end metric of BENCHMARK.json (``wall_s`` for a query) gets
its samples, min, quartiles, median, the pairs the change won and a
verdict from ``decide``. The record, stamped with
``perfbench.host.facts()``, goes to ``BENCH/AB_<a>_<b>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def benchmark() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _rel(x: float, base: float) -> float:
    return x / abs(base) if base else 0.0


def summary(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"samples": xs, "min": min(xs), "q1": q1, "median": med, "q3": q3}


def decide(a: list[float], b: list[float], better: str, bound: float) -> dict:
    """Verdict on one end-to-end metric from paired samples, a[i] the
    parent's and b[i] the change's run of pair i:

    - regression: the change's median is worse by more than ``bound``
      (a fraction of the parent's median);
    - unresolved: either side's spread, (Q3 - Q1) / median, is wider
      than ``bound``, unless every change run beats every parent run;
    - gain: at least ten pairs, the change wins at least 90% of them
      (ties count for neither) and its median is better by more than
      the parent's IQR;
    - no gain: otherwise."""
    sign = 1.0 if better == "lower" else -1.0  # sign * (x - y) > 0: x worse
    sa, sb = summary(a), summary(b)
    wins = sum(sign * (x - y) > 0 for x, y in zip(a, b))
    worse = sign * _rel(sb["median"] - sa["median"], sa["median"])
    spread = max(_rel(s["q3"] - s["q1"], s["median"]) for s in (sa, sb))
    if worse > bound:
        verdict = "regression"
    elif spread > bound and not all(sign * (x - y) > 0 for x in a for y in b):
        verdict = "unresolved"
    elif len(a) >= 10 and wins >= 0.9 * len(a) and -sign * (sb["median"] - sa["median"]) > sa["q3"] - sa["q1"]:
        verdict = "gain"
    else:
        verdict = "no gain"
    return {"verdict": verdict, "wins": wins, "pairs": len(a),
            "worse": round(worse, 4), "spread": round(spread, 4), "a": sa, "b": sb}


def export(rev: str) -> tuple[str, Path]:
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    tree = ROOT / ".ab" / sha
    if not tree.is_dir():  # extract beside it, then rename: no half trees
        tmp = tree.with_name(sha + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        arc = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(tmp)], stdin=arc.stdout, check=True)
        if arc.wait():
            raise SystemExit(f"git archive {sha} failed")
        tmp.rename(tree)
    return sha, tree


def _last_json(cmd: list[str], tree: Path) -> dict:
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                       env={**os.environ, "PYTHONPATH": str(tree)})
    try:
        return json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {}


def run_side(tree: Path, workloads: list[str], queries: list[str], seed: int,
             trace: int, seconds: float) -> dict[str, dict]:
    """{target: {"failed": n, "metrics": {name: value}}} of one side."""
    out = {}
    for w in workloads:
        rec = _last_json([sys.executable, "perfbench/run.py", "--workload", w,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)], tree)
        out[w] = {"failed": rec["failed"] if "attempted" in rec else 1,
                  "metrics": {k: v["value"] for k, v in rec.get("metrics", {}).items()}}
    if queries:
        rec = _last_json([sys.executable, str(ROOT / "tools" / "layer_profile.py"),
                          *queries], tree)
        for q in queries:
            r = rec.get(q, {"error": "no record"})
            out[q] = {"failed": int("error" in r),
                      "metrics": {k: v for k, v in r.items() if k != "error"}}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("targets", nargs="+")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 (quartiles need two samples)")

    bench = benchmark()
    names = {w["name"] for w in bench["workloads"]}
    workloads = [t for t in args.targets if t in names]
    queries = [t for t in args.targets if t not in names]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    (sha_a, tree_a), (sha_b, tree_b) = export(args.rev_a), export(args.rev_b)
    trees = {"a": tree_a, "b": tree_b}

    def side(s, seed, trace):
        return run_side(trees[s], workloads, queries, seed, trace, bench["run_seconds"])

    runs = {"a": [], "b": []}
    for i in range(1, args.pairs + 1):
        for s in ("a", "b") if i % 2 == 0 else ("b", "a"):
            runs[s].append(side(s, i, 0))
            print(f"pair {i} {s}: " + json.dumps(runs[s][-1]), file=sys.stderr, flush=True)
    traced = {s: side(s, args.pairs + 1, 1) for s in ("b", "a")}

    bound = min(m["bound"] for m in e2e.values())
    report = {}
    lines = [f"A/B {sha_a[:7]} (a, parent) vs {sha_b[:7]} (b, change), "
             f"{args.pairs} pairs, b first on odd pairs"]
    for t in args.targets:
        metrics = list(e2e) if t in names else ["wall_s"]
        rep = report[t] = {"failed": {s: sum(r[t]["failed"] for r in runs[s]) for s in runs},
                           "metrics": {}, "layers_moved": {}}
        lines.append(f"{t}: failed a={rep['failed']['a']} b={rep['failed']['b']}")
        for m in metrics:
            a = [r[t]["metrics"].get(m, 0.0) for r in runs["a"]]
            b = [r[t]["metrics"].get(m, 0.0) for r in runs["b"]]
            d = rep["metrics"][m] = decide(a, b, e2e[m]["better"], e2e[m]["bound"])
            lines.append(
                f"  {m}: {d['verdict']}, b won {d['wins']}/{d['pairs']}, "
                f"median {d['a']['median']:.4g} -> {d['b']['median']:.4g} "
                f"(worse {d['worse']:+.1%}, spread {d['spread']:.1%})")
            for s in ("a", "b"):
                q = d[s]
                lines.append(f"    {s}: min {q['min']:.4g} q1 {q['q1']:.4g} "
                             f"med {q['median']:.4g} q3 {q['q3']:.4g} "
                             f"samples {[round(x, 4) for x in q['samples']]}")
        # one traced run per side: per-layer moves above the bound
        la, lb = traced["a"][t]["metrics"], traced["b"][t]["metrics"]
        for k in sorted(set(la) & set(lb)):
            if k not in e2e and abs(_rel(lb[k] - la[k], la[k])) > bound:
                rep["layers_moved"][k] = [la[k], lb[k]]
        lines.append("  layers moved (one traced run per side, > "
                     f"{bound:.0%}): " + (", ".join(
                         f"{k} {v[0]:.4g} -> {v[1]:.4g}"
                         for k, v in rep["layers_moved"].items()) or "none"))

    from perfbench import host

    out = ROOT / "BENCH" / f"AB_{sha_a[:7]}_{sha_b[:7]}.json"
    out.write_text(json.dumps({"a": sha_a, "b": sha_b, "pairs": args.pairs,
                               "targets": args.targets, "host": host.facts(),
                               "report": report, "runs": runs, "traced": traced},
                              indent=1) + "\n")
    lines.append(f"wrote {out.relative_to(ROOT)}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
