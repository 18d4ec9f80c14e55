#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source into .bench_build (once per
source state), runs one JVM on a fresh working directory under .bench_runs,
and prints one JSON result as the last line of stdout. The detailed run
record (workload figures, host load, failures) goes to stderr. Exits 1 when
any operation failed or any output was wrong.

    python3 perfbench/run.py --record <out.tsv> [--cores n]

writes the fingerprint of every SparkEntry query over perfbench/data/sf0.01.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing into the checkout but .bench_*
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
RUNS = ".bench_runs"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The jars of a Spark distribution, which also ship the Scala
    compiler: $SPARK_HOME's, else those of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    sys.exit("perfbench: no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        sys.exit("perfbench: src/main/scala not found; run from the repository root")
    return files + sorted(glob.glob(os.path.join(os.path.relpath(HERE), "src", "**", "*.scala"),
                                    recursive=True))


def build(jars):
    """Compile the engine and the harness once per source state."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "perfbench", "classes")
    stamp_file = os.path.join(BUILD, "perfbench", "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "perfbench", f"classes-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    proc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                           "-d", tmp, "-classpath", jars] + files,
                          stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def run_jvm(classes, jars, work, args, timeout=JVM_TIMEOUT_S):
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}", "graft.perfbench.Main"] + args
    # The JVM's stdout goes to stderr: our last stdout line is the result.
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: JVM did not finish within {timeout} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1))
    ap.add_argument("--record", help="write every query's fingerprint to this file and exit")
    ap.add_argument("--raw-out", help="also keep the raw run record, spans included, in this file")
    a = ap.parse_args()
    if not a.record and not a.workload:
        ap.error("--workload is required")
    data = os.path.join(os.path.relpath(HERE), "data")
    if not os.path.isdir(os.path.join(data, "sf0.01")):
        sys.exit(f"perfbench: {data}/sf0.01 not found")
    jars = spark_jars()
    classes = build(jars)

    work = os.path.abspath(os.path.join(RUNS, f"{a.workload or 'record'}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        base = ["--cores", str(a.cores), "--work", work, "--data", os.path.abspath(data)]
        if a.record:
            code = run_jvm(classes, jars, work, base + ["--record", os.path.abspath(a.record)], timeout=None)
            sys.exit(code)
        if a.workload == "query_pack":
            for r in (1, 2, 3):
                shutil.copytree(os.path.join(data, "sf0.01"), os.path.join(work, f"tables-{r}"))
        raw_path = os.path.join(work, "raw.json")
        load_before = loadavg()
        code = run_jvm(classes, jars, work, base + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", raw_path])
        load_after = loadavg()
        if code != 0 or not os.path.exists(raw_path):
            sys.exit(f"perfbench: JVM exited with code {code}")
        raw = metrics.load(raw_path)
        if a.raw_out:
            shutil.copyfile(raw_path, a.raw_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    e2e, extra = metrics.end_to_end(a.workload, raw)
    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    values = metrics.per_layer(a.workload, raw, list(units)) if a.trace else e2e
    if set(values) != set(units):
        sys.exit(f"perfbench: computed metrics differ from BENCHMARK.json {kind}")
    correct = raw["failed"] == 0
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": a.cores,
              "loadavg_before": load_before, "loadavg_after": load_after,
              "end_to_end": e2e, "workload_figures": extra, "problems": raw["problems"]}
    print("perfbench run record: " + json.dumps(record), file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
