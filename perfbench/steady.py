#!/usr/bin/env python3
"""Steadiness report: runs the benchmark on several seeds and prints, per
workload and metric, the median, quartiles and quartile spread (as a share
of the median) next to the metric's bound from BENCHMARK.json, plus the
machine-load probe. With --trace both, each seed also runs traced and the
report adds the tracing overhead (traced minus untraced median).

    python3 perfbench/steady.py --workloads serve_read,suite --seeds 1-10 --seconds 10 [--trace both]

Run from the checkout root. Each run's full summary stays in .bench_work/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in spec.split(",")]


def run_once(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)], capture_output=True, text=True)
    took = time.monotonic() - t0
    if p.returncode != 0:
        print(f"  {workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None, took
    with open(os.path.join(".bench_work", f"summary-{workload}-{seed}-{trace}.json")) as f:
        return json.load(f), took


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = args.seconds or bench["run_seconds"]
    traces = [0, 1] if args.trace == "both" else [int(args.trace)]
    for w in args.workloads.split(","):
        runs = {t: [] for t in traces}
        walls = []
        for seed in seeds_of(args.seeds):
            for t in traces:
                s, took = run_once(w, seed, seconds, t)
                walls.append(took)
                if s:
                    runs[t].append(s)
                    print(f"  {w} seed {seed} trace {t}: {took:.1f} s, failed {s['failed']}/{s['attempted']}",
                          file=sys.stderr)
        print(f"== {w}: {len(runs[traces[0]])} runs, run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        untraced = runs.get(0, [])
        if len(untraced) >= 2:
            for name in untraced[0]["end_to_end"]:
                vals = [r["end_to_end"][name] for r in untraced]
                med, q1, q3, spread = stats.quartile_spread(vals)
                b = bounds.get(name)
                flag = "" if b is None or name == "setup_s" or spread < b / 3 else "  <-- over a third of the bound"
                print(f"  {name:<18} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
                      f"spread {spread:6.1%}  bound {b}{flag}")
            probe = [r["load_probe_s"] for r in untraced]
            print(f"  load probe median {statistics.median(probe):.4f} s, "
                  f"range {min(probe):.4f}-{max(probe):.4f} s")
            print(f"  failures: {sum(r['failed'] for r in untraced)} of {sum(r['attempted'] for r in untraced)}")
        traced = runs.get(1, [])
        if traced and untraced:
            print("  tracing overhead (traced median - untraced median):")
            for name in untraced[0]["end_to_end"]:
                a = statistics.median(r["end_to_end"][name] for r in traced)
                b = statistics.median(r["end_to_end"][name] for r in untraced)
                print(f"    {name:<18} {a - b:+12.4f} ({(a - b) / b:+.1%})")


if __name__ == "__main__":
    main()
