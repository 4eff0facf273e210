"""Steadiness evidence: repeated runs per workload, one seed each.

    python3 perfbench/steady.py --runs 10 --seed0 100 --label set1
    python3 perfbench/steady.py --runs 3 --seed0 100 --trace --label trace

Untraced: for every end-to-end metric, the spread between the first and
third quartile of the runs (statistics.quantiles, n=4) as a share of the
median, against a third of the metric's bound. Traced: whether each
per-layer job, stage and task count repeats exactly across the runs.
Raw results go to perfbench/results/<label>.json. Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(int(trace))]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        raise RuntimeError(f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["detail"] = [json.loads(ln) for ln in lines[:-1]
                     if ln.startswith("{")]
    out["wall_s"] = time.time() - t0
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--label", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    results: dict[str, list] = {}
    for name in names:
        for i in range(args.runs):
            r = run(name, args.seed0 + i, bench["run_seconds"], args.trace)
            r["seed"] = args.seed0 + i
            results.setdefault(name, []).append(r)
            print(name, r["seed"], round(r["wall_s"], 1), r["correct"],
                  r["attempted"], r["failed"],
                  {k: round(v["value"], 3) for k, v in r["metrics"].items()
                   if not args.trace}, flush=True)
    summary: dict = {}
    for name, runs in results.items():
        summary[name] = {"all_correct": all(r["correct"] for r in runs),
                         "mean_wall_s": statistics.mean(r["wall_s"]
                                                        for r in runs)}
        if args.trace:
            counts = {k for k in runs[0]["metrics"]
                      if k.endswith(("jobs", "stages", "tasks"))}
            summary[name]["counts_repeat"] = {
                k: sorted({r["metrics"][k]["value"] for r in runs})
                for k in sorted(counts)}
            continue
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            s = spread(vals)
            summary[name][m["name"]] = {
                "median": statistics.median(vals), "spread": s,
                "bound": m["bound"], "below_third": s < m["bound"] / 3}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.label}.json"), "w") as fh:
        json.dump({"summary": summary, "runs": results}, fh, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
