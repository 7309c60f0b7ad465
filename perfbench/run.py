#!/usr/bin/env python3
"""graft benchmark: one entry point for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source (sbt, into perfbench/target; the classpath and a source stamp go to
perfbench/.build); later runs reuse the build while the sources are
unchanged. Each run starts one JVM with Spark on local[nproc], stages the workload's seeded
inputs, measures for the given seconds, checks the outputs and prints one
JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run also writes its
spans for perfbench/report.py. Every run leaves an artifact in
perfbench/out/ named per workload, core count, source id and seed, with a
suffix for traced and planted-fault runs.

Extra option: --plant-fault 1 plants a dropped item (stream_embedded) or a
wrong row count (queries) so the correctness gate can be seen to fail.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def source_id():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        die("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def cpu_times():
    """Host CPU counters (Linux): (steal, total) jiffies, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def java_cmd(work, classpath):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "graftbench.Main"]


def query_args(design):
    q = design["workloads"]["queries"]
    return ["--queries", ",".join(q["light"] + q["heavy"]), "--sf", str(q["sf"]),
            "--data_seed", str(q["data_seed"])]


def new_work(name):
    work = os.path.join(HERE, ".work", f"{name}_{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def build(src_id):
    """Compile program + harness and return the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == src_id:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    lines = [l for l in r.stdout.splitlines() if classes in l and os.pathsep in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    classpath = lines[-1]
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(src_id)
    return classpath


def jvm_args(args, design, work, result, spans):
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work", work, "--out", result, "--spans", spans,
             "--plant", str(args.plant_fault)]
    if args.workload == "queries":
        rows_file = os.path.join(HERE, "expected_rows.json")
        expected = load_json(rows_file).get("rows", {}) if os.path.exists(rows_file) else {}
        jargs += query_args(design) + [
            "--expected", ",".join(f"{k}={v}" for k, v in sorted(expected.items()))]
    return jargs


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-fault", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not here; run from a full checkout")
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    design = load_json(os.path.join(HERE, "design.json"))
    if args.workload not in design["workloads"]:
        die(f"unknown workload {args.workload}")

    src = source_id()
    classpath = build(src)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    tag = f"{args.workload}_c{cores}_{src[:10]}_s{args.seed}" + \
        ("_trace" if args.trace else "") + ("_fault" if args.plant_fault else "")
    work = new_work(tag)
    os.makedirs(OUT, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    spans_file = os.path.join(OUT, tag + ".spans.jsonl")
    log_file = os.path.join(OUT, tag + ".log")
    cmd = java_cmd(work, classpath) + \
        jvm_args(args, design, work, result_file, spans_file)
    t0, cpu0 = time.time(), cpu_times()
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {RUN_TIMEOUT_S} s; log in {log_file}")
        if rc != 0 or not os.path.exists(result_file):
            die(f"benchmark JVM failed (exit {rc}); log in {log_file}")
        res = load_json(result_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        spec, source = bench["per_layer"], res["layers"]
        exercised = design["workloads"][args.workload]["layers"]
    else:
        spec, source, exercised = bench["end_to_end"], res["e2e"], []
    metrics = {}
    for m in spec:
        v = source.get(m["name"])
        if v is None and not any(m["name"].startswith(p) for p in exercised):
            v = 0.0  # the workload does not run this layer
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            die(f"metric {m['name']} was not measured; log in {log_file}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    line = {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}

    cpu1 = cpu_times()
    steal = (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]) if cpu0 and cpu1 else None
    artifact = {"workload": args.workload, "seed": args.seed, "nproc": cores,
                "host_steal_share": steal,
                "commit": commit_id(), "source_id": src, "trace": args.trace,
                "seconds": args.seconds, "plant_fault": args.plant_fault,
                "wall_s": round(time.time() - t0, 3), "result": line, "jvm": res}
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
