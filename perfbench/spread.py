#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--first-seed 100] [--workload W ...] [--out FILE]

Runs the benchmark command from BENCHMARK.json `--runs` times per workload,
each with its own seed, and reports for every end-to-end metric the
median, the quartiles (statistics.quantiles(n=4)) and the quartile
distance as a share of the median, next to the metric's bound. Each run's
result line is appended to FILE (JSON lines) when --out is given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def summarize(vals):
    """{metric: [values]} -> {metric: median, quartiles, spread, runs}; the
    spread is the quartile distance as a share of the median."""
    out = {}
    for k, v in vals.items():
        q1, _, q3 = statistics.quantiles(v, n=4)
        out[k] = {"median": statistics.median(v), "q1": q1, "q3": q3,
                  "spread": (q3 - q1) / statistics.median(v), "runs": len(v)}
    return out


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    names = a.workload or [w["name"] for w in spec["workloads"]]
    summary = {}
    for w in names:
        vals = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(a.runs):
            seed = a.first_seed + i
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            line = json.loads(out.stdout.strip().splitlines()[-1])
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, **line}) + "\n")
            if not line["correct"]:
                print(f"{w} seed {seed}: {line['failed']} of {line['attempted']} failed", file=sys.stderr)
            for k in vals:
                vals[k].append(line["metrics"][k]["value"])
        summary[w] = summarize(vals)
        for m in spec["end_to_end"]:
            s = summary[w][m["name"]]
            print(f"{w:16s} {m['name']:18s} median {s['median']:10.4f} {m['unit']:3s} "
                  f"spread {s['spread']:6.3f}  bound {m['bound']}")
    print(json.dumps(summary, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
