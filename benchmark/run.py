#!/usr/bin/env python3
"""Benchmark entry point.

    python3 benchmark/run.py --workload er_ncvr|er_rl10k|gates \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark's own Scala
code from source on first use (sbt, into .bench_build/), generates the
workload's inputs from --seed, runs the workload in its own JVM at
local[nproc] with a fixed heap, checks every output against a computation
made apart from the program, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (listeners attached). See benchmark/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
# fixed heap and collector: under G1's adaptive sizing the peak resident
# set of identical runs differed by up to a third; the parallel collector
# repeats it within about 1%
JVM_OPTS = ["-Xmx4g", "-XX:+UseParallelGC"]
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
WORKLOADS = ("er_ncvr", "er_rl10k", "gates")
# the gate workload's tables: a warm pass over small tables off the clock,
# then the timed pass over sf0.01-sized ones; 100 documents instead of the
# gate tables' 500 keep one pass within the run budget (document lengths,
# which set the per-document text cost, are unchanged)
WARM_SF, WARM_DOCS, MAIN_SF, MAIN_DOCS = 0.001, 50, 0.01, 100
# ER quality floors checked on every job (the F1 floor is BASELINE.md's
# NCVR floor and applies to that workload only)
MIN_PRECISION = 0.99
MIN_F1 = {"er_ncvr": 0.80}

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gendata  # noqa: E402


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark's Scala code unless the
    sources are unchanged since the last build."""
    if not os.path.isdir(PROGRAM_SRC):
        sys.exit(f"program sources not found at {PROGRAM_SRC}: run from the "
                 "root of a full checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    log("building with sbt")
    opts = os.environ.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=dict(os.environ, SBT_OPTS=opts),
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_jvm(args, work):
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java"] + JVM_OPTS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "graftbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--work", work, "--cpus", str(cpus)])
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                              text=True, cwd=work, env=env)
    result = [ln for ln in proc.stdout.splitlines()
              if ln.startswith("BENCHRESULT ")]
    if proc.returncode != 0 or not result:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-4000:]
        sys.exit(f"benchmark JVM failed ({proc.returncode}):\n{tail}")
    return json.loads(result[-1][len("BENCHRESULT "):])


def prepare_gate_tables(seed, work):
    """Writes the warm and timed table sets, before the JVM starts."""
    gendata.generate(os.path.join(work, "data", "warm"), WARM_SF, seed,
                     WARM_DOCS)
    gendata.generate(os.path.join(work, "data", "main"), MAIN_SF, seed,
                     MAIN_DOCS)


def interquartile_mean(values):
    """Mean of the values between the first and third quartile."""
    v = sorted(values)
    q = len(v) // 4
    return statistics.mean(v[q:len(v) - q])


def check_er(res, workload):
    """Independent checks of every ER job; returns a list of problems."""
    problems = []
    truth = checks.read_truth(res["input"])
    for job in res["jobs"]:
        problems += checks.check_er_job(
            job["dir"], truth, job, MIN_PRECISION, MIN_F1.get(workload),
            res["sweeps"] // res["thin"])
    return problems


def summarize(res, workload, spec, trace, problems):
    """The result line from the JVM's raw measurements and the check
    problems. With no successful operation there is nothing to measure:
    every metric is null and the run is not correct."""
    if workload == "gates":
        rounds = [r["times"] for r in res["rounds"] if r["times"]]
        jobs = [sum(t.values()) for t in rounds]
        steps = [interquartile_mean(t.values()) for t in rounds]
    else:
        jobs = res["job_s"]
        steps = [s / res["sweeps"] for s in res["sample_s"]]
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    values = {}
    if not jobs:
        problems = problems + ["no operation succeeded"]
    elif trace:
        values = dict(res["trace"])
        if workload.startswith("er_"):
            values["er.partition_skew"] = checks.partition_skew(
                res["jobs"][-1]["dir"])
        # a layer a workload never calls reads 0 there
        values = {m["name"]: values.get(m["name"], 0.0) for m in metrics}
    else:
        values = {
            "job_s": statistics.median(jobs),
            "step_s": statistics.median(steps),
            # JVM start to session ready, plus the warm-up job or pass
            "setup_s": res["session_s"] + res["warm_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
    return {
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"]),
                                "unit": m["unit"]} for m in metrics},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build()

    work = os.path.join(BUILD, "work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "gates":
            prepare_gate_tables(args.seed, work)
        res = run_jvm(args, work)
        if args.workload == "gates":
            problems = checks.check_gates(ROOT, res)
        else:
            problems = check_er(res, args.workload)
        if args.workload == "gates":
            res["round_s"] = [sum(r["times"].values()) for r in res["rounds"]]
        log(f"session {res['session_s']:.2f} s; warm-up {res['warm_s']:.2f} s; "
            + "; ".join(f"{k} {[round(x, 2) for x in res[k]]}" for k in
                        ("round_s", "job_s", "init_s", "sample_s", "analyze_s")
                        if k in res)
            + f"; rss {res['peak_rss_mb']:.0f} MB"
            + (f"; domains {res['domains']}" if "domains" in res else ""))
        for p in problems:
            log(f"CHECK FAILED: {p}")
        out = summarize(res, args.workload, spec, args.trace, problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
