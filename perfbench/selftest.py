#!/usr/bin/env python3
"""Self-test of the benchmark's own code, on sf0.001 inputs.

    python3 perfbench/selftest.py

1. The same seed regenerates byte-identical inputs; another seed permutes
   rows only (same row counts, different bytes).
2. Every workload's keys run untraced and traced on sf0.001; every metric
   named in BENCHMARK.json is printed with its unit, and every key passes
   its oracle check.
3. A deliberately perturbed expected output (one oracle row dropped) is
   reported as a failed operation.
Exits 0 when all three hold.
"""
import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # no __pycache__ next to gen.py or tools/check.py
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

SF = 0.001


def main():
    problems = []
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    tmp_dir = os.path.join(run.WORK, "selftest")
    shutil.rmtree(tmp_dir, ignore_errors=True)

    a, b, c = (os.path.join(tmp_dir, d) for d in ("a", "b", "c"))
    sa, sb, sc = gen.write(a, SF, 5), gen.write(b, SF, 5), gen.write(c, SF, 6)
    for t in gen.TABLES:
        f = f"{t}.parquet"
        if not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False):
            problems.append(f"seed 5 regenerated {f} with different bytes")
    if sa != sb or {t: v["rows"] for t, v in sa.items()} != {t: v["rows"] for t, v in sc.items()}:
        problems.append("row counts differ between seeds")
    if all(filecmp.cmp(os.path.join(a, f"{t}.parquet"), os.path.join(c, f"{t}.parquet"), shallow=False)
           for t in ("orders", "lineitem", "events", "documents")):
        problems.append("seed 6 did not permute the rows")
    print(f"inputs: {len(gen.TABLES)} tables, same seed byte-identical, other seed permuted")

    want = {0: spec["end_to_end"], 1: spec["per_layer"]}
    for w in spec["workloads"]:
        wl = dict(run.WORKLOADS[w["name"]], sf=SF)
        for trace in (0, 1):
            line, _ = run.run(f"selftest-{w['name']}", wl, 1, 1, trace)
            got = line["metrics"]
            for m in want[trace]:
                if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{w['name']} trace={trace}: metric {m['name']} [{m['unit']}] missing")
            if set(got) - {m["name"] for m in want[trace]}:
                problems.append(f"{w['name']} trace={trace}: unlisted metrics {sorted(set(got) - {m['name'] for m in want[trace]})}")
            if not line["correct"] or line["failed"]:
                problems.append(f"{w['name']} trace={trace}: {line['failed']} of {line['attempted']} failed")
            for k, v in got.items():
                print(f"  {w['name']:16s} trace={trace} {k:40s} {v['value']:.6g} {v['unit']}")

    w = spec["workloads"][0]["name"]
    wl = dict(run.WORKLOADS[w], sf=SF)
    bad = wl["keys"][0]
    line, detail = run.run(f"selftest-{w}", wl, 1, 1, 0, perturb={bad})
    if line["correct"] or line["failed"] != 1 or bad not in detail["failures"]:
        problems.append(f"perturbed oracle for {bad} was not reported as a failure: {line}")
    else:
        print(f"perturbed oracle: {bad} reported failed ({detail['failures'][bad][:60]}...)")

    shutil.rmtree(tmp_dir, ignore_errors=True)
    for p in problems:
        print("SELFTEST FAIL:", p)
    print("selftest:", "FAIL" if problems else "OK")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
