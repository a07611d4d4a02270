#!/usr/bin/env python3
"""Benchmark of the candy pipeline and the query engine around it.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with the Scala compiler
that ships in Spark's jars, makes the workload's inputs from the seed,
runs the workload in one JVM at local[nproc] (closed loop, one client),
checks every output outside the timed region, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import candy

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
DEADLINE_S = 160
# Candy input size: the reference's 10 days and 36 products. One cold
# CandyMain job on it takes 18-32 s on 4 cores, most of it in the 200
# shuffle partitions of CandyMain's session, so a run times one job.
CANDY_DAYS, CANDY_TXNS_PER_DAY, CANDY_PRODUCTS = 10, 2000, 36
# per-layer metrics each workload measures; the others read 0 there,
# because the workload never calls that layer
LAYERS = {"candy_batch": ("candy.", "forecast."),
          "query_mix": ("tables.", "query.", "lake.", "streaming.")}
COMMON_LAYERS = ("setup.", "jvm.", "host.", "trace.")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Compile the program and the benchmark into <build_dir>/classes,
    unless the sources are unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "jvm.log")
    cmd = ["java", *JVM_OPENS, "-Xmx3g", "-Xss8m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dderby.system.home={work}",
           "-cp", f"{classes}{os.pathsep}{os.path.join(SPARK_JARS, '*')}",
           "org.apache.spark.perfbench.PerfBench", *map(str, args)]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        fail(f"benchmark JVM exited with {code}:\n{tail}")


def oracle_check(verify):
    """tools/oracle_check.py on each results dir; returns failed names."""
    failed = []
    for v in verify:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
                            v["out"], v["sf"]], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        lines = r.stdout.splitlines()
        failed += [l for l in lines if l.startswith("FAIL ")]
        if r.returncode not in (0, 1) or not any(l.startswith("== ") for l in lines):
            failed.append(f"oracle_check crashed on {v['out']}: {r.stdout[-500:]}")
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) \
            or not os.path.isfile(spec_path):
        fail(f"no program sources or BENCHMARK.json under {ROOT}")
    with open(spec_path) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    # a run that builds may take longer; the runs after it have this long
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.workload == "candy_batch":
            inp = os.path.join(work, "candy_in")
            candy.generate(inp, a.seed, CANDY_DAYS, CANDY_TXNS_PER_DAY, CANDY_PRODUCTS)
            exp = candy.expected(inp)
        else:
            inp = os.path.join(HERE, "data", "sf0.01")
        result = os.path.join(work, "result.json")
        run_jvm(classes, work, [a.workload, a.seed, a.seconds, a.trace, cores(), work,
                                inp, result], deadline)
        with open(result) as f:
            r = json.load(f)
        failures = list(r["failures"])
        for out in r["candy_outputs"]:
            failures += [f"{os.path.basename(out)}: {m}" for m in candy.check(out, exp)]
        failures += oracle_check(r["verify"])
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(build_dir, "traces",
                                                f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    own = LAYERS[a.workload] + COMMON_LAYERS
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = r["metrics"].get(m["name"])
        if v is None and m["name"].startswith(own):
            failures.append(f"metric {m['name']} not measured")
        metrics[m["name"]] = {"value": 0 if v is None else v, "unit": m["unit"]}
    for line in failures:
        print(f"perfbench: failed: {line}", file=sys.stderr)
    print(json.dumps({"correct": not failures, "attempted": r["attempted"],
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
