#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads etl_daily,table_ops \
        --seeds 10 [--first-seed 100] [--trace 0] [--out perfbench/STEADINESS.json]

For every workload and metric of the runs' reports it prints the median of
the runs and the distance between the first and third quartile as a share
of the median (statistics.quantiles(values, n=4)), the metric's bound when
BENCHMARK.json lists it as end-to-end, and each run's wall time.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spread(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    for w in a.workloads.split(","):
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})", flush=True)
                runs.append({"seed": seed, "wall_s": wall, "ok": False})
                continue
            r = json.loads(lines[-1])
            # the run's report holds every metric the program computed,
            # including those BENCHMARK.json demoted to the traced run
            report = os.path.join(BENCH, ".work", "reports",
                                  f"report-{w}-s{seed}-t{a.trace}.json")
            with open(report) as f:
                metrics = json.load(f)["metrics"]
            runs.append({"seed": seed, "wall_s": round(wall, 1), "ok": True,
                         "correct": r["correct"], "attempted": r["attempted"],
                         "failed": r["failed"],
                         "metrics": {k: v["value"] for k, v in metrics.items()}})
            print(f"{w} seed {seed}: wall {wall:.1f} s, correct {r['correct']}, "
                  f"{r['attempted']} ops, {r['failed']} failed", flush=True)
        ok = [r for r in runs if r["ok"]]
        per_metric = {}
        if len(ok) >= 2:
            for m in ok[0]["metrics"]:
                vals = [r["metrics"][m] for r in ok]
                s = spread(vals)
                per_metric[m] = {"median": statistics.median(vals), "spread": round(s, 4),
                                 "bound": bounds.get(m)}
                b = bounds.get(m)
                flag = "" if b is None or s < b / 3 else "  <-- spread >= bound/3"
                print(f"  {m:24s} median {statistics.median(vals):14.4f} "
                      f"spread {s:.4f}{flag}")
        summary[w] = {"runs": runs, "metrics": per_metric,
                      "wall_s_max": max(r["wall_s"] for r in runs)}
        print(f"  wall per run: max {summary[w]['wall_s_max']:.1f} s, mean "
              f"{statistics.mean(r['wall_s'] for r in runs):.1f} s", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
