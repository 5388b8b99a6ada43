#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py [--seeds 1-10] [--workloads extract_bulk,curate]

Runs perfbench/run.py once per (workload, seed) with --trace 0 at
BENCHMARK.json's run_seconds, then prints per workload and metric the
median, the quartiles (statistics.quantiles(values, n=4)), the spread
(Q3 - Q1) / median and the metric's bound. Run from the checkout root.
Raw results are appended to .bench_build/spread.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    log = os.path.join(ROOT, ".bench_build", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results = {}
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.monotonic()
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            took = time.monotonic() - t0
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {s}: run failed (exit {r.returncode})", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": s, **res}) + "\n")
            print(f"{w} seed {s} ({took:.0f} s): correct={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
                flush=True)
            results.setdefault(w, []).append(res)
    for w, rs in results.items():
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            print(f"{w:14s} {m['name']:12s} median={statistics.median(vals):.4g} "
                  f"q1={q1:.4g} q3={q3:.4g} spread={(q3 - q1) / statistics.median(vals):.3f} "
                  f"bound={m['bound']} n={len(vals)}")


if __name__ == "__main__":
    main()
