#!/usr/bin/env python3
"""Runs one workload N times, one seed each, and prints every metric's
median, quartiles and quartile spread as a share of the median, beside the
bound BENCHMARK.json fixes for it.

    python3 perfbench/spread.py --workload mor_dml --runs 10 [--first-seed 1] [--trace 0]

Runs are sequential. Each run's full report stays in
.bench_build/perfbench/runs/; the summary is printed and also written to
.bench_build/perfbench/spread-<workload>-trace<t>.json.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, walls, bad = {}, [], 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = [sys.executable] + bench["command"][1:] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or not lines:
            print(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}", file=sys.stderr)
            sys.exit(1)
        out = json.loads(lines[-1])
        bad += out["failed"] + (0 if out["correct"] else 1)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        with open(os.path.join(run.OUT, "runs",
                               f"{a.workload}-seed{seed}-trace{a.trace}.json")) as f:
            walls.append(json.load(f)["report"]["wall_s"])
        print(f"seed {seed}: correct={out['correct']} failed={out['failed']} "
              f"wall={walls[-1]:.1f}s " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()), flush=True)

    summary = {}
    print(f"\n{a.workload}: {a.runs} runs, {bad} failed ops or wrong results, "
          f"run wall median {stats.quartiles(walls)[1]:.1f} s, max {max(walls):.1f} s")
    print(f"  {'metric':<34} {'q1':>12} {'median':>12} {'q3':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = stats.quartiles(vs)
        rel = (q3 - q1) / med if med else 0.0
        summary[k] = {"q1": q1, "median": med, "q3": q3, "iqr_frac": rel, "values": vs}
        b = bounds.get(k)
        print(f"  {k:<34} {q1:>12.4f} {med:>12.4f} {q3:>12.4f} {rel:>8.3f} "
              f"{'' if b is None else b:>6}")
    with open(os.path.join(run.OUT, f"spread-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump({"runs": a.runs, "first_seed": a.first_seed, "walls": walls,
                   "metrics": summary}, f, indent=1)


if __name__ == "__main__":
    main()
