#!/usr/bin/env python3
"""The feature-store benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (once per source state),
generates the workload's inputs from the seed, runs the workload in one JVM
against the production entry points, checks the outputs with DuckDB, and
prints one JSON line last: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. The line before it carries the details
(box, generator parameters, named stage timings, checks). See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
# read-only sf0.01 tables of the repository's test data (TESTDATA.md,
# generator seed 42) for the composite queries of traced feature_refresh runs
DATA = os.path.join(HERE, "data", "sf0.01")
METASTORE = os.path.join(TARGET, "metastore_db")
CDS = os.path.join(TARGET, "classes.jsa")

WORKLOADS = {
    # seeded event log: Zipf-skewed users, 5 event types, 60 days
    "feature_refresh": {"events": 120_000, "users": 3_000},
    # seeded event log whose online sync fills the store the server reads
    "online_serving": {"events": 200_000, "users": 20_000},
}
GEN_REPEATS = 3
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.abspath(__file__)]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt unless the sources are unchanged; return launch info.

    The build also leaves an empty Hive metastore, copied into every run, as
    a deployed store opens an existing one, and a class-data archive of the
    classes a session loads, which shortens JVM start-up.
    """
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(TARGET, "launch.stamp")
    launch = os.path.join(TARGET, "launch.json")
    if (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()
            and os.path.exists(launch) and os.path.isdir(METASTORE)):
        return json.load(open(launch))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        os.makedirs(os.path.join(TARGET, "tmp"), exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(TARGET, 'tmp')}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launcher"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(launch):
        raise SystemExit("perfbench: build failed")
    info = json.load(open(launch))
    info["classpath"] = [jar(p) if os.path.isdir(p) else p for p in info["classpath"]]
    shutil.rmtree(METASTORE, ignore_errors=True)
    run_dir = fresh_run_dir()
    java(info, ["init", run_dir], run_dir, [f"-XX:ArchiveClassesAtExit={CDS}"])
    shutil.move(os.path.join(run_dir, "metastore_db"), METASTORE)
    with open(launch, "w") as f:
        json.dump(info, f)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return info


def jar(class_dir):
    """Pack a class directory into a jar: a class-data archive takes jars only."""
    name = hashlib.sha256(class_dir.encode()).hexdigest()[:12]
    out = os.path.join(TARGET, f"classes-{name}.jar")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in sorted(os.walk(class_dir)):
            for n in sorted(names):
                full = os.path.join(dirpath, n)
                z.write(full, os.path.relpath(full, class_dir))
    return out


def fresh_run_dir():
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    return run_dir


def java(launch, args, run_dir, extra=()):
    """Run perfbench.Main in run_dir; stop on failure or timeout."""
    cmd = (["java"] + launch["java_options"] + list(extra) +
           [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit("perfbench: workload timed out")
    if code != 0:
        raise SystemExit(f"perfbench: workload exited with {code}")


def make_inputs(workload, seed, run_dir):
    """Generate (or verify) the inputs; return (dir, seconds, params)."""
    spec = WORKLOADS[workload]
    times, digests = [], []
    for k in range(GEN_REPEATS):
        d = os.path.join(run_dir, f"input{k}")
        t0 = time.perf_counter()
        params = gen.generate(d, seed, spec["events"], spec["users"])
        times.append(time.perf_counter() - t0)
        digests.append(gen.digest(d))
    for k in range(1, GEN_REPEATS):
        shutil.rmtree(os.path.join(run_dir, f"input{k}"))
    params["sha256"] = digests[0]
    params["byte_identical"] = len(set(digests)) == 1
    if workload == "online_serving":
        params["miss_share"] = 0.1
    return os.path.join(run_dir, "input0"), statistics.median(times), params


def verify_data():
    for line in open(os.path.join(DATA, "SHA256SUMS")):
        want, name = line.split()
        with open(os.path.join(DATA, name), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                raise SystemExit(f"perfbench: {name} does not match SHA256SUMS")


def run_workload(launch, args, run_dir):
    shutil.copytree(METASTORE, os.path.join(run_dir, "metastore_db"))
    java(launch, args, run_dir,
         [f"-XX:SharedArchiveFile={CDS}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"])
    return json.load(open(os.path.join(run_dir, "result.json")))


def box():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "mem_total_gb": round(mem_kb / 1048576, 1)}


def end_to_end(res, setup_s):
    units = res["unit_s"]
    if "p50_ms" in res:  # online_serving: request latency at the lowest rate
        p50, rate = res["p50_ms"], res["max_rate"]
    else:                # feature_refresh: one refresh cycle, at the median
        p50 = statistics.median(units) * 1e3
        rate = 1e3 / p50
    return {"setup_s": setup_s, "heap_live_mb": res["heap_live_mb"],
            "p50_ms": p50, "max_rate": rate}


def named(workload, res):
    """The stage-level numbers, by stage name."""
    med = {k: statistics.median(v) for k, v in res.get("ops_s", {}).items() if v}
    if workload == "feature_refresh":
        return {f"{k}_s": v for k, v in med.items()}
    return {"serve_p50_ms": res.get("p50_ms"), "serve_tail_ms": res.get("tail_ms"),
            "serve_tail_pct": res.get("tail_pct"), "serve_max_rps": res.get("max_rate"),
            "serve_max_rung": res.get("max_rung"), "rungs": res.get("rungs")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    launch = build()
    run_dir = fresh_run_dir()
    input_dir, gen_s, params = make_inputs(a.workload, a.seed, run_dir)
    verify_data()
    res = run_workload(launch, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                input_dir, DATA, run_dir], run_dir)

    found = dict(res.get("checks", {}))
    check_dir = os.path.join(run_dir, "check")
    if a.workload == "feature_refresh":
        found.update(checks.feature_refresh(input_dir, check_dir))
    if a.trace and a.workload == "feature_refresh":
        found.update(checks.composite_queries(DATA, os.path.join(run_dir, "composite")))
    if "byte_identical" in params:
        found["inputs_byte_identical"] = "ok" if params["byte_identical"] else "differ"
    correct = all(v == "ok" for v in found.values()) and res["failed"] == 0

    setup_s = res["session_s"] + gen_s + res["cold_s"]
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        layers = dict(res.get("layers", {}))
        layers["jvm.gc_s"] = res.get("gc_s", 0.0)
        layers["trace.overhead_pct"] = res.get("overhead_pct", 0.0)
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = end_to_end(res, setup_s)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "box": {**box(), **res["box"]},
        "inputs": params,
        "setup": {"session_s": res["session_s"], "inputs_s": gen_s,
                  "cold_pass_s": res["cold_s"], "cold_calls_s": res.get("cold_ops_s")},
        "named": named(a.workload, res),
        "units_s": res["unit_s"],
        "units_cpu_s": res.get("unit_cpu_s"),
        "failure_share": res["failed"] / res["attempted"],
        "tracing_overhead_pct": res.get("overhead_pct"),
        "checks": found,
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(results, tag + ".json"), "w") as f:
        json.dump({"detail": detail, "layers": res.get("layers")}, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                    os.path.join(results, tag + ".trace.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
