#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on several seeds per workload and
prints, for each end-to-end metric, the median, the quartiles and the spread
(interquartile distance as a share of the median) next to the metric's bound.
Per run it also keeps the median op latency (against which the traced run's
op.p50_ms gives the tracing overhead), the mean op latency of the first and
of the last whole pass or compaction round of the window (drift inside the
window, such as JIT compilation still going on, shows as a slower first), and
the host's 1-minute load and CPU steal share over the run.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--out FILE] [workload ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    result = {}
    for w in names:
        values = {m: [] for m in bounds}
        walls, runs = [], []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            load = os.getloadavg()[0]
            steal0, total0 = cpu_times()
            t0 = time.monotonic()
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
            walls.append(time.monotonic() - t0)
            steal1, total1 = cpu_times()
            lines = out.strip().splitlines()
            last = json.loads(lines[-1])
            run = json.loads(lines[-2])["run"]
            ms = run["op_ms"]
            unit = run["info"].get("keys") or run["info"]["compact_every"]
            runs.append({"seed": seed, "op_p50_ms": statistics.median(ms), "samples": len(ms),
                         "first_pass_mean_ms": statistics.mean(ms[:unit]),
                         "last_pass_mean_ms": statistics.mean(ms[-unit:]),
                         "load_1m": load, "steal": (steal1 - steal0) / max(1, total1 - total0)})
            if not last["correct"]:
                print(f"{w} seed {seed}: correct=false", file=sys.stderr)
            for m in bounds:
                values[m].append(last["metrics"][m]["value"])
            print(f"{w} seed {seed} ({walls[-1]:.1f} s, load {load:.2f}, steal {runs[-1]['steal']:.3f}): "
                  + " ".join(f"{m}={v[-1]:.4g}" for m, v in values.items()), flush=True)
        rows = {}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            spread = (q3 - q1) / med if med else 0.0
            rows[m] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bounds[m], "values": vs}
            flag = "" if spread <= bounds[m] / 3 else ("  (over bound/3)" if spread <= bounds[m] else "  OVER BOUND")
            print(f"  {w:12s} {m:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread:6.3f}  bound {bounds[m]}{flag}", flush=True)
        print(f"  {w:12s} run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s", flush=True)
        result[w] = {"metrics": rows, "run_wall_s": walls, "runs": runs}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
