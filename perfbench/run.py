#!/usr/bin/env python3
"""graft benchmark: seeded workloads, end-to-end metrics, traced layer metrics.

    python3 perfbench/run.py --workload vacols_sf01 --seed 1 --seconds 15 --trace 0

Run from the repository root. One run:
  1. builds the engine and the harness from source (sbt, skipped when the
     sources are unchanged since the last build in this checkout);
  2. generates the workload's input from --seed (gen.py, cached per seed);
  3. launches one JVM (the launcher in tools/run.sh, pointed at this
     checkout) that sets up three times, writing every key's result once
     in the first setup (check pass), then runs timed passes for --seconds
     (Harness.scala);
  4. compares every key's result against the DuckDB oracle SQL
     (SparkEntry.oracleSql) on the same input with tools/check.py's norm();
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
     --trace 0 reports the end-to-end metrics, --trace 1 the per-layer
     metrics of a traced run (listeners + build/plan/exec spans).

Exits non-zero without a result line when the engine sources are absent.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # no __pycache__ next to gen.py or tools/check.py
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, ".data")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# graft_* kernels the traced run times alone over documents.text, each in
# the form the operators of the pipeline keys call it
KERNELS = [
    "graft_ws_token_count(text)",
    "graft_distinct_tokens(text)",
    "graft_token_counts(split(text, ' '))",
    "graft_shingle_hashes3(split(text, ' '))",
    "graft_minhash_sig(graft_shingles3(split(text, ' ')))",
    "graft_simhash48(array_distinct(split(text, ' ')))",
]
# keys and scale factor of the generated tables
WORKLOADS = {
    "vacols_sf01": {"sf": 0.1, "keys": [
        "q01_case_scan", "q06_lead_lag", "d26_dup_clusters", "st35_stream_dedup"]},
    "pipeline_sf01": {"sf": 0.1, "keys": [
        "t30_tokencount", "d22_minhash_lsh", "t43_ccnet_buckets"]},
}
MODULES = ["CoreQueries", "EventLog", "Docket", "Survival", "RangeJoin", "Chains",
           "Linking", "Sketches", "Dedup", "Similarity", "TextAnalysis", "Pipeline",
           "streaming.Streams"]
STREAM_PHASES = ["addBatch", "queryPlanning", "latestOffset", "walCommit"]
SETUPS = 3
HEAP = "3g"
HARNESS_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def build_inputs():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """sbt compile in perfbench/ (engine via the source dependency), skipped
    when every source file hashes the same as at the last good build."""
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(WORK, "build.stamp")
    classes = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
               os.path.join(HERE, "target", "scala-2.13", "classes")]
    stamp = h.hexdigest()
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and all(os.path.isdir(c) for c in classes)):
        return classes
    log("building engine and harness (sbt compile)")
    # the build resolves only from local caches
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def launcher(classes):
    """tools/run.sh is the repo's one launcher (JVM module flags, Spark
    jars). Its classpath names the checkout it was written in: rewrite the
    engine entries to this checkout's build output, keep the rest, and run
    the relocated copy."""
    src = open(os.path.join(ROOT, "tools", "run.sh")).read()
    m = re.search(r'-cp "([^"]*)"', src)
    if not m:
        fail("tools/run.sh has no -cp \"...\" classpath to relocate")
    cp = [e for e in m.group(1).split(":") if not e.rstrip("/").endswith("test-classes")]
    cp = classes + [e for e in cp if not e.rstrip("/").endswith(os.path.join("target", "scala-2.13", "classes"))]
    relocated = os.path.join(WORK, "run.sh")
    with open(relocated, "w") as f:
        f.write(src.replace(m.group(0), '-cp "' + ":".join(cp) + '"'))
    return ["bash", relocated]


# ---------------------------------------------------------------- inputs

def inputs(wl, seed):
    os.makedirs(DATA, exist_ok=True)
    tag = f"sf{wl['sf']}-seed{seed}-{gen.content_version()}"
    # keep the few most recent seeds only: each is ~20 MB
    old = sorted((d for d in os.listdir(DATA) if d not in (tag, "oracle")),
                 key=lambda d: os.path.getmtime(os.path.join(DATA, d)))
    for d in old[:-3]:
        shutil.rmtree(os.path.join(DATA, d), ignore_errors=True)
    base = os.path.join(DATA, tag)
    sizes = gen.write(base, wl["sf"], seed)
    os.utime(base)
    return base, sizes


# ---------------------------------------------------------------- check

def load_check_module():
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(data_dir, run_dir, keys, check_errors, content, perturb=()):
    """{key: "" | reason}: each key's check-pass output against the oracle,
    compared the way tools/check.py does (norm(), then exact values).

    The seed only permutes rows, so every seed's tables hold the same rows
    and each oracle result is computed once per input content and SQL
    text, then reused; Spark always runs on the run's own permutation.
    Keys in `perturb` get an expected output with its first row dropped
    (the self-test's deliberately wrong oracle)."""
    import duckdb
    import pandas as pd
    check = load_check_module()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb_tmp')}'")
    for t in check.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    cache = os.path.join(DATA, "oracle", content)
    os.makedirs(cache, exist_ok=True)
    out = {}
    for k in keys:
        if k in check_errors:
            out[k] = f"threw: {check_errors[k]}"
            continue
        if k not in oracle:
            out[k] = "no oracle SQL"
            continue
        try:
            cf = os.path.join(cache, f"{k}-{hashlib.sha256(oracle[k].encode()).hexdigest()[:16]}.pkl")
            if os.path.exists(cf):
                want = pd.read_pickle(cf)
            else:
                want = check.norm(con.execute(oracle[k]).fetchdf())
                want.to_pickle(cf)
            if k in perturb:
                want = want.iloc[1:].reset_index(drop=True)
            got = check.norm(pd.read_parquet(os.path.join(run_dir, "check", k)))
        except Exception as e:
            out[k] = f"compare error: {e}"[:300]
            continue
        if list(got.columns) != list(want.columns):
            out[k] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            out[k] = f"rows {len(got)} vs {len(want)}"
        else:
            drift = [c for c in got.columns
                     if pd.api.types.is_integer_dtype(got[c]) != pd.api.types.is_integer_dtype(want[c])
                     and pd.api.types.is_numeric_dtype(got[c]) and pd.api.types.is_numeric_dtype(want[c])]
            try:
                if drift:
                    raise AssertionError(f"int/float dtype drift on {drift}")
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=0)
                out[k] = ""
            except AssertionError as e:
                out[k] = f"values differ: {str(e)[:300]}"
    return out


# ---------------------------------------------------------------- metrics

def module_of():
    """key -> module, from SparkEntry.queries' `"key" -> (Module.fn _)` lines."""
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")).read()
    body = src[src.index("def queries"):src.index("def resolveOnly")]
    out = {}
    for k, rhs in re.findall(r'"(\w+)"\s*->\s*(.+)', body):
        m = re.search(r"(?:graft\.)?([A-Za-z][\w.]*?)\.\w+\s*(?:_|\()", rhs.replace("(s, d) =>", ""))
        if m:
            out[k] = m.group(1)
    return out


def end_to_end(res):
    """Per key, its best latency over the timed passes (the min-of-N
    protocol graft.Bench uses): on a shared host the speed of the cores
    drifts by tens of percent for seconds at a time, and a key's best over
    many samples is what stays put. A pass over the workload is the sum of
    the per-key bests."""
    by_key = {}
    for p in res["passes"]:
        for q in p:
            by_key.setdefault(q["key"], []).append(q["s"])
    return {
        "suite_s": (sum(min(v) for v in by_key.values()), "s"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "retained_heap_mb": (max(res["heap_mb"]), "MB"),
    }, {"samples": sum(len(v) for v in by_key.values()), "passes": len(res["passes"])}


def per_layer(res):
    tr = res["trace"]
    # passes, counting a last pass cut at the deadline as the share it ran
    n = sum(len(p) for p in res["passes"]) / len({q["key"] for p in res["passes"] for q in p})
    mods = module_of()
    qkey = {s["qid"]: s["key"] for s in tr["spans"] if s["phase"] == "query"}
    wq = {q for q, k in qkey.items() if not k.startswith("functions.")}
    m = {}

    def put(name, v, unit):
        m[name] = (v, unit)

    phase = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    by_mod = {mod: 0.0 for mod in MODULES}
    for s in tr["spans"]:
        if s["qid"] in wq and s["phase"] in phase:
            phase[s["phase"]] += s["end"] - s["start"]
            if s["phase"] == "build":
                mod = mods.get(s["key"], "")
                by_mod[mod] = by_mod.get(mod, 0.0) + s["end"] - s["start"]
    put("operators.build_s", phase["build"] / n, "s")
    for mod in MODULES:
        put(f"operators.build_s.{mod}", by_mod[mod] / n, "s")
    put("planner.plan_s", phase["plan"] / n, "s")
    put("exec.exec_s", phase["exec"] / n, "s")

    jobs = [j for j in tr["jobs"] if j["qid"] in wq]
    ckpt = [j for j in jobs if j["site"] == "Checkpoints.scala"]
    put("Checkpoints.jobs", len(ckpt) / n, "count")
    put("Checkpoints.s", sum(j["end"] - j["start"] for j in ckpt) / n, "s")
    put("operators.probe_jobs", sum(1 for j in jobs if j["phase"] == "build" and not j["stream"]
                                    and j["site"] != "Checkpoints.scala") / n, "count")
    jids = {j["id"] for j in jobs}
    stages = [s for s in tr["stages"] if s["job"] in jids]
    put("spark.jobs", len(jobs) / n, "count")
    put("spark.stages", len(stages) / n, "count")
    put("spark.tasks", sum(s["tasks"] for s in stages) / n, "count")
    put("spark.job_idle_s", sum(j["idle"] or 0.0 for j in jobs) / n, "s")
    put("spark.task_wait_s", sum(s["wait"] for s in stages) / n, "s")
    put("spark.task_run_s", sum(s["run"] for s in stages) / n, "s")
    put("spark.task_cpu_s", sum(s["cpu"] for s in stages) / n, "s")
    put("spark.gc_s", sum(s["gc"] for s in stages) / n, "s")
    skews = [s["dur_max"] / s["dur_median"] for s in stages if s["tasks"] > 1 and s["dur_median"] > 0]
    put("spark.task_skew", max(skews, default=1.0), "ratio")
    scans = [s["tasks"] for s in stages if s["input"] > 0]
    put("spark.tasks_per_scan", statistics.median(scans) if scans else 0, "count")
    stream_jobs = {j["id"] for j in jobs if j["stream"]}
    shuffled = [s["tasks"] for s in stages if s["shuffle_read"] > 0 and s["job"] not in stream_jobs]
    put("spark.max_shuffle_stage_tasks", max(shuffled, default=0), "count")
    for name, field in (("input_bytes", "input"), ("shuffle_read_bytes", "shuffle_read"),
                        ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        put(f"spark.{name}", sum(s[field] for s in stages) / n, "bytes")

    for k in KERNELS:
        name = k.split("(")[0]
        put(f"functions.{name}_s", res["kernels"].get(name, 0.0), "s")

    prog = [p for p in tr["progress"] if p["qid"] in wq]
    batches = [p for p in prog if "addBatch" in p["durations"]]
    put("streaming.microbatches", len(batches) / n, "count")
    put("streaming.batch_s", sum(p["durations"].get("triggerExecution", 0) for p in batches) / 1000 / n, "s")
    for ph in STREAM_PHASES:
        put(f"streaming.batch_s.{ph}", sum(p["durations"].get(ph, 0) for p in batches) / 1000 / n, "s")
    last = {}
    for p in prog:
        last[p["qid"]] = p
    put("streaming.state_rows", sum(p["state_rows"] for p in last.values()) / n, "count")
    put("streaming.state_memory_bytes", sum(p["state_bytes"] for p in last.values()) / n, "bytes")
    put("trace.suite_s", end_to_end(res)[0]["suite_s"][0], "s")
    return m


# ---------------------------------------------------------------- main

def run(name, wl, seed, seconds, trace, perturb=()):
    """One benchmark run; returns (result line dict, detail dict)."""
    os.makedirs(WORK, exist_ok=True)
    t = [time.time()]
    classes = build()
    data_dir, sizes = inputs(wl, seed)
    t.append(time.time())
    run_dir = os.path.join(WORK, f"{name}-{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cmd = launcher(classes) + [
        "perfbench.Harness", "--out", run_dir, "--data", data_dir,
        "--keys", ",".join(wl["keys"]), "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--setups", "2" if trace else str(SETUPS),
        "--cpus", str(os.cpu_count()), "--kernels", ";".join(KERNELS) if trace else ""]
    # every file the JVM writes (temp dirs, Spark local dirs) stays in run_dir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP,
               SPARK_LOCAL_DIRS=tmp, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("interrupted", 1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out, see {run_dir}/jvm.log", 1)
    res_file = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(res_file):
        fail(f"harness exited {p.returncode}, see {run_dir}/jvm.log", 1)
    res = json.load(open(res_file))
    t.append(time.time())
    content = f"sf{wl['sf']}-{gen.content_version()}"
    checked = compare(data_dir, run_dir, wl["keys"], res["check_errors"], content, perturb)
    t.append(time.time())
    failures = {k: v for k, v in checked.items() if v}
    timed = [q for p_ in res["passes"] for q in p_]
    for q in timed:
        if q["error"]:
            failures.setdefault(q["key"], f"threw: {q['error']}")
    attempted = len(timed) + len(checked)
    failed = sum(1 for q in timed if q["error"]) + sum(1 for v in checked.values() if v)
    for k, v in sorted(failures.items()):
        log(f"FAILED {k}: {v}")
    if trace:
        metrics, info = per_layer(res), {}
    else:
        metrics, info = end_to_end(res)
    detail = {"workload": name, "seed": seed, "trace": trace, "sizes": sizes,
              "failed_ratio": failed / attempted, "failures": failures, "info": info,
              "setup_s": res["setup_s"], "cpus": res["cpus"],
              "wall_s": {"build_and_inputs": t[1] - t[0], "jvm": t[2] - t[1], "check": t[3] - t[2]},
              "metrics": {k: v for k, (v, _) in metrics.items()}}
    with open(os.path.join(run_dir, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    shutil.rmtree(os.path.join(run_dir, "check"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    line = {"correct": not failures, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return line, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for f in ("build.sbt", "tools/run.sh", "tools/check.py", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from a full checkout of the repository")
    line, _ = run(a.workload, WORKLOADS[a.workload], a.seed, a.seconds, a.trace)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
