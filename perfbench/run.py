#!/usr/bin/env python3
"""The repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the JVM harness (the
program's sources plus perfbench/src) with sbt and generates the fixture
corpus; both are cached under .bench_build/. Each run starts one JVM on
local[nproc] with one client thread, sets up several times (setup_s is the
median), checks every operation's output once, then times complete passes
over the workload's operations until --seconds have elapsed.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced passes and prints the per-layer metrics, tracing overhead included.
The last line of standard output is the JSON result. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected_rows.json")
SCALE_FACTOR = 0.01
SETUPS = 3
# Timed passes per run at least (a pass takes 5-8 s, so these cover
# --seconds 8). The floor keeps the sample count, and with it the tail
# percentile, the same when a pass runs slow; pipeline_warm, with 5
# operations a pass, takes more passes so its median rests on 20 samples.
MIN_PASSES = {"sql_interactive": 3, "pipeline_warm": 4}
JVM_TIMEOUT_S = 170
# Departures from the program's own JVM settings (build.sbt: -Xmx8g, the
# default G1 collector), kept because at those settings the benchmark is not
# steady on 4 vCPUs: five seeds of pipeline_warm spread by 0.55 (op_p50_ms)
# and 0.25 (peak_rss_mb, G1 growing the heap by different amounts). A fixed
# 2 GB heap with the throughput collector and fewer GC and JIT threads keeps
# them from competing with local[4]'s task threads. -XX:-UsePerfData keeps
# the JVM from writing its performance-data file outside the checkout.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
             "-XX:CICompilerCount=2", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
# A departure from Spark's default codegen cache (100 classes), which is
# smaller than one pass's plans: each operation recompiled whatever its
# predecessor evicted, and its time depended on the seeded order (x96:
# 0.66 s or 1.15 s). The benchmark therefore measures the steady state and
# does not show the recompiles a long-lived session pays at the default.
CODEGEN_CACHE = 2000
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------- build
def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness with the program; cached by a source digest."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the program's sources (src/main/scala/graft) are missing")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building the harness (sbt compile)")
    env = dict(os.environ)
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = next(l for l in reversed(lines) if not l.startswith("["))
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


# ------------------------------------------------------------------- run
def run_jvm(classpath, plan, run_dir):
    plan_file, result_file = os.path.join(run_dir, "plan.json"), os.path.join(run_dir, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={plan['artifact_root']}",
        f"-Dorg.xerial.snappy.tempdir={run_dir}", f"-Dio.netty.native.workdir={run_dir}",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Main", plan_file, result_file]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: the harness JVM timed out")
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: the harness JVM failed (exit {code})")
    with open(result_file) as f:
        return json.load(f)


def check_outputs(plan, raw, data_dir):
    """Check-pass verdict per operation id: None when correct, else why."""
    import checks  # duckdb/pandas load only when a run gets this far
    con = checks.connect(data_dir, workloads.TABLES)
    with open(EXPECTED) as f:
        expected = json.load(f).get(str(SCALE_FACTOR), {})
    verdict = {}
    for op in plan["ops"]:
        res = raw["check"][op["id"]]
        if res["error"]:
            verdict[op["id"]] = f"failed: {res['error']}"
        elif op["kind"] == "sql":
            verdict[op["id"]] = checks.check_sql(con, op, res)
        else:
            verdict[op["id"]] = checks.check_row(con, op["id"], res, expected)
    return verdict


def cpu_times():
    """(steal, total) jiffies of all CPUs; steal is time the hypervisor gave
    this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, IndexError, ValueError):
        return 0, 0


def _terminate(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    load_before, cpu_before = os.getloadavg(), cpu_times()
    classpath = build()
    sf = SCALE_FACTOR
    data_dir = os.path.join(BUILD, "data", f"sf{sf}")
    datagen.generate(data_dir, sf)
    nproc = os.cpu_count() or 1
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    artifact_root = os.path.join(BUILD, "artifacts", args.workload)
    os.makedirs(artifact_root, exist_ok=True)

    plan = workloads.make_plan(args.workload, args.seed)
    plan.update({
        "workload": args.workload, "master": f"local[{nproc}]", "shuffle_partitions": nproc,
        "data_dir": data_dir, "work_dir": run_dir, "artifact_root": artifact_root,
        "seconds": args.seconds, "trace": bool(args.trace), "setups": SETUPS,
        "min_passes": MIN_PASSES[args.workload],
        # a traced run measures the artifact build path in its check pass
        "cold_check": bool(args.trace),
    })
    t0 = time.time()
    try:
        raw = run_jvm(classpath, plan, run_dir)
        verdict = check_outputs(plan, raw, data_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after, cpu_after = os.getloadavg(), cpu_times()
    jiffies = cpu_after[1] - cpu_before[1]

    ids = [op["id"] for op in plan["ops"]]
    bad = {k: v for k, v in verdict.items() if v}
    for k, v in bad.items():
        log(f"CHECK FAILED {k}: {v}")
    runs = raw["runs"]
    for r in runs:  # an operation whose check failed fails every repetition
        if ids[r["op"]] in bad and not r["error"]:
            r["error"] = "output check failed"
    built_warm = sum(r["built"] for r in runs) if args.workload == "pipeline_warm" else 0
    if built_warm:
        log(f"REGIME VIOLATION: {built_warm} artifacts built during timed pipeline_warm passes")
        for r in runs:
            if r["built"] and not r["error"]:
                r["error"] = "artifact built during a warm pass"
    failed = sum(1 for r in runs if r["error"] or r["mismatch"])
    for r in runs:
        if r["error"] or r["mismatch"]:
            log(f"op {ids[r['op']]} pass {r['pass']}: {r['error'] or 'output differs from check pass'}")

    untraced = [r for r in runs if not r["traced"]]
    e2e = analysis.end_to_end(raw, untraced)
    telemetry = {
        "workload": args.workload, "seed": args.seed, "scale_factor": sf,
        "nproc": nproc, "master": plan["master"], "clients": 1,
        "default_parallelism": raw["default_parallelism"],
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in load_after],
        "jvm_load_before": raw["load_before"], "jvm_load_after": raw["load_after"],
        "cpu_steal_pct": round(100.0 * (cpu_after[0] - cpu_before[0]) / jiffies, 2) if jiffies else None,
        "jvm_heap_flags": [a for a in raw["jvm_args"] if a.startswith(("-Xm", "-XX"))],
        "setup_runs_s": [round(x, 4) for x in raw["setup_s"]],
        "context_s": round(raw["context_s"], 2), "check_s": round(raw["check_s"], 2),
        "timed_s": round(sum(q["end"] - q["start"] for q in raw["passes"]) / 1000, 2),
        "passes": len(raw["passes"]), "ops_per_pass": len(ids), "wall_s": round(time.time() - t0, 1),
        "failed_frac": e2e["failed_frac"],
        "op_median_ms": {i: round(statistics.median(
            r["end"] - r["start"] for r in untraced if ids[r["op"]] == i), 1) for i in ids},
        "op_tail": f"p{e2e['tail_pct']} with {e2e['tail_beyond']} of {e2e['samples']} samples beyond",
    }
    print(json.dumps({"telemetry": telemetry}))
    units = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms", "ops_per_s": "1/s",
             "failed_frac": "ratio", "peak_rss_mb": "MB"}
    for name, unit in units.items():
        extra = f"  (p{e2e['tail_pct']}, {e2e['tail_beyond']} beyond, n={e2e['samples']})" \
            if name == "op_tail_ms" else ""
        print(f"{args.workload:16s} {name:14s} {e2e[name]:12.4f} {unit}{extra}")

    if args.trace:
        layer, selfs = analysis.per_layer(
            raw, runs, [op["id"] for op in plan["ops"] if op.get("artifact")])
        n_traced = sum(1 for r in runs if r["traced"])
        for key in sorted(selfs):
            print(f"{args.workload:16s} self-time {key:22s} {selfs[key] / n_traced:10.2f} ms/op")
        gap = statistics.mean(r["end"] - r["start"] for r in runs if r["traced"]) \
            - (layer["queries.eager_s"] + layer["queries.exec_s"]) * 1000
        if args.workload == "pipeline_warm":
            print(f"{args.workload:16s} op wall - (queries.eager_s + queries.exec_s) = {gap:.2f} ms/op")
        for name in sorted(layer):
            print(f"{args.workload:16s} {name:26s} {layer[name]:14.4f} {analysis.PER_LAYER_UNITS[name]}")
        metrics = {k: {"value": v, "unit": analysis.PER_LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items() if k != "failed_frac"}
    print(json.dumps({"correct": not bad and not built_warm, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
