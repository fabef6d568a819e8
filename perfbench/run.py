#!/usr/bin/env python3
"""Run one benchmark run and print its metrics.

    python3 perfbench/run.py --workload <mf_sw|queries_sf01>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles the program
(src/main/scala) and the harness (perfbench/src) with the Scala compiler that
ships among the Spark jars, into .bench_build/; later runs of the same sources
reuse that build. The run itself is one JVM (graftbench.Main); the query
workload's outputs are then checked against their DuckDB oracles here.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`. The
line before it is the run's host stamp. The full result, spans included, is
kept in .bench_build/results/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.01")
RUN_LIMIT_S = 170
HEAP = "1536m"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
    sys.exit(1)


def spark_jars():
    """The jars of the first Spark distribution, by $SPARK_HOME and then by
    `spark-submit` on the PATH, that ships a Scala compiler."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    die("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program, "graft")):
        die(f"program sources not found under {program}")
    found = []
    for base in (program, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compiled classes of the current sources, compiling when needed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"scalac-{os.getpid()}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
             "-cp", jars, "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed", log)
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out


def java(classes, jars, work):
    """The JVM command line for the harness; every file it writes is under
    `work`."""
    # a fixed-size heap keeps heap resizing out of the measurements, and a
    # fixed set of JIT compiler threads lets cpu_s subtract all of their time
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", os.pathsep.join([classes, jars])]


def run_jvm(classes, jars, args, work, deadline):
    result = os.path.join(work, "result.json")
    cmd = java(classes, jars, work) + [
            "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--work", work, "--out", result]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("run exceeded its time limit", log)
        except BaseException:  # interrupted or terminated: stop the JVM too
            proc.kill()
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(result):
        die(f"benchmark JVM exited with {rc}", log)
    with open(result) as f:
        return json.load(f), log


def terminate(signum, frame):
    sys.exit(128 + signum)


def main():
    start = time.monotonic()
    signal.signal(signal.SIGTERM, terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes = build(jars)

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res, log = run_jvm(classes, jars, args, work, start + RUN_LIMIT_S)
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "queries_sf01":
            import oracle  # duckdb is only needed here
            stamp = res["stamp"]
            bad = oracle.check(DATA, os.path.join(work, "verify"))
            for q, why in bad.items():
                print(f"perfbench: {q} fails its oracle: {why}", file=sys.stderr)
                if q not in stamp["failed_queries"]:
                    failed += stamp["query_runs"][q]
            stamp["oracle_failures"] = bad
        res["metrics"]["ok_frac"] = 1.0 - failed / max(attempted, 1)
        res["attempted"], res["failed"] = attempted, failed
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        keep = os.path.join(BUILD, "results",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
        with open(keep, "w") as f:
            json.dump(res, f)
        if failed:
            shutil.copy(log, keep[: -len(".json")] + ".log")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            die(f"metric {m['name']} missing from the run's result")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"stamp": res["stamp"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
