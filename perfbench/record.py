#!/usr/bin/env python3
"""Write perfbench/record.json: what each workload runs on, what each metric
measures and should move, and the measured spreads.

    python3 perfbench/record.py TRACED.jsonl SET1.jsonl SET2.jsonl [SET3.jsonl ...]

SET1, SET2, ... are `spread.py --out` files over the same code (ten seeds
per workload each); TRACED holds `{"workload", "seed", ...result line}` rows of
`--trace 1` runs.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402

# layer -> (metrics, what they should move)
LAYERS = {
    "operators": (["operators.build_s", "operators.build_s.<Module>", "operators.probe_jobs"],
                  "build time: eager jobs while SparkEntry.queries(key) builds the DataFrame; "
                  "moves suite_s on vacols_sf01 (Dedup d26, streaming.Streams st35)"),
    "Checkpoints": (["Checkpoints.jobs", "Checkpoints.s"],
                    "jobs whose call site is Checkpoints.scala (fixpoint rounds); "
                    "moves suite_s on vacols_sf01 through d26"),
    "planner": (["planner.plan_s"],
                "queryExecution.executedPlan: Catalyst + GraftExtensions; moves suite_s on vacols_sf01"),
    "exec": (["exec.exec_s", "spark.jobs", "spark.stages", "spark.tasks", "spark.job_idle_s",
              "spark.task_wait_s"],
             "the noop-sink write and the scheduler floor per job; moves suite_s on vacols_sf01"),
    "spark": (["spark.task_run_s", "spark.task_cpu_s", "spark.gc_s", "spark.task_skew",
               "spark.tasks_per_scan", "spark.max_shuffle_stage_tasks", "spark.input_bytes",
               "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes"],
              "task work and data movement; moves suite_s on pipeline_sf01, little on vacols_sf01"),
    "functions": ([f"functions.{k.split('(')[0]}_s" for k in run.KERNELS],
                  "each graft_* kernel alone over documents.text on nproc tasks; moves suite_s on pipeline_sf01"),
    "streaming": (["streaming.microbatches", "streaming.batch_s", "streaming.batch_s.<phase>",
                   "streaming.state_rows", "streaming.state_memory_bytes"],
                  "micro-batches drained inside Streams.runToTable; moves suite_s on "
                  "vacols_sf01 through st35"),
    "trace": (["trace.suite_s"], "suite_s of the traced run; minus suite_s = tracing overhead"),
}
END_TO_END_DOC = {
    "suite_s": "seconds for one pass over the workload's keys, each key at its best latency over the "
               "run's timed passes (graft.Bench's min-of-N): the batch refresh time at the stated input size",
    "setup_s": "median of three setups per run: fresh GraftSession + untimed warm-up pass; the "
               "first counts from JVM start (its pass also writes the check outputs), so the "
               "median is a warm-JVM setup",
    "retained_heap_mb": "peak heap in use right after the between-query GC sweep",
}

# end-to-end metrics the issue asked for that the benchmark does not report
DROPPED = {
    "query_p50_s": "median key's best latency: with 3-4 keys per workload it is one key's figure, and its "
                   "ten-seed spread reached 0.19-0.32, past the largest bound a metric may have (0.25)",
    "slowest_key_s": "best latency of the slowest key, standing in for query_tail_s (a run has 15-25 "
                     "query samples, so no tail percentile has 10 beyond it): one key's figure, its "
                     "ten-seed spread reached 0.25",
    "failed_ratio": "reported as the result line's failed / attempted (it is 0 on a healthy tree, so it "
                    "cannot carry a relative bound); detail.json names each failed key and why",
}


def input_sizes(wl):
    """Rows, bytes and row groups per table, as generated for seed 0."""
    return gen.write(os.path.join(run.WORK, "record-inputs", f"sf{wl['sf']}"), wl["sf"], 0)


def spreads(path):
    rows = [json.loads(line) for line in open(path)]
    out = {}
    for w in sorted({r["workload"] for r in rows}):
        rs = [r for r in rows if r["workload"] == w]
        out[w] = spread.summarize({m: [r["metrics"][m]["value"] for r in rs] for m in rs[0]["metrics"]})
        out[w]["all_correct"] = all(r["correct"] for r in rs)
    return out


def main(traced, *sets):
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    measured = [spreads(s) for s in sets]
    tr = {}
    for line in open(traced):
        r = json.loads(line)
        tr[r["workload"]] = {k: v["value"] for k, v in r["metrics"].items()}
    workloads = []
    for w in spec["workloads"]:
        wl = run.WORKLOADS[w["name"]]
        sizes = input_sizes(wl)
        suite = statistics.median(s[w["name"]]["suite_s"]["median"] for s in measured)
        workloads.append({
            "name": w["name"], "why": w["why"], "keys": wl["keys"], "scale_factor": wl["sf"],
            "input": sizes,
            "traced": tr.get(w["name"], {}),
            "tracing_overhead": (tr[w["name"]]["trace.suite_s"] / suite - 1) if w["name"] in tr else None})
    rec = {
        "commands": {
            "end_to_end": "python3 perfbench/run.py --workload <w> --seed <n> --seconds 22 --trace 0",
            "per_layer": "python3 perfbench/run.py --workload <w> --seed <n> --seconds 22 --trace 1",
            "selftest": "python3 perfbench/selftest.py",
            "spread": "python3 perfbench/spread.py --runs 10 --first-seed <n> --out <file>",
        },
        "loop": "closed loop, one client, one query at a time, local[nproc]",
        "per_layer_units": "per-layer times, counts and bytes are per timed pass (totals over the traced "
                           "run's passes divided by their number); functions.* are medians of three runs "
                           "of each kernel; task_skew and max_shuffle_stage_tasks are maxima over stages",
        "not_reported": DROPPED,
        "workloads": workloads,
        "end_to_end": [dict(m, doc=END_TO_END_DOC[m["name"]]) for m in spec["end_to_end"]],
        "layers": {k: {"metrics": v[0], "moves": v[1]} for k, v in LAYERS.items()},
        "spread": {f"set{i + 1}": s for i, s in enumerate(measured)},
    }
    with open(os.path.join(HERE, "record.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(*sys.argv[1:])
