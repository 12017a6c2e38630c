#!/usr/bin/env python3
"""Lifecycle benchmark of graft over a seeded SSTable lake.

Usage (from the root of a checkout):

    python3 lifecyclebench/run.py --workload <strip_rewrite|lww_compact|lake_read>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source (lifecyclebench/build.sh,
cached by content), then runs one workload in one JVM at local[nproc]. All
files stay under the build directory ($CARGO_TARGET_DIR, else .bench_build):
the lake and outputs in a per-run work directory removed at exit, the full
detail of each run in lifecyclebench/results/. The last stdout line is the
result object, its metrics named, and their units taken, from BENCHMARK.json;
the exit code is non-zero on a failed check or any error.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("strip_rewrite", "lww_compact", "lake_read")
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(build_root, "lifecyclebench")
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    spark_jars = spark_jars_dir()
    build = subprocess.run(["bash", os.path.join(HERE, "build.sh"), ROOT, out, spark_jars],
                           stdout=sys.stderr, timeout=850)
    if build.returncode != 0:
        print("lifecyclebench: build failed", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{out}/classes:{spark_jars}/*", "lifecyclebench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--results", results,
        "--cpus", str(len(os.sched_getaffinity(0))),
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(results, f"{tag}.log")
    t0 = time.time()
    proc = None

    def stop(signum, _frame):
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    env=env, cwd=work, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"lifecyclebench: run exceeded {RUN_LIMIT_S}s", file=sys.stderr)
                return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # the JVM's last line: checks and measured values by name; the
    # result object takes each metric's unit from BENCHMARK.json
    lines = stdout.splitlines()
    try:
        run = json.loads(lines[-1])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
        metrics = {m["name"]: {"value": run["values"][m["name"]], "unit": m["unit"]}
                   for m in spec}
        result = {"correct": run["correct"], "attempted": run["attempted"],
                  "failed": run["failed"], "metrics": metrics}
    except (IndexError, ValueError, KeyError, TypeError) as e:
        print("\n".join(lines))
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        print(f"lifecyclebench: no result ({e!r}, exit {proc.returncode}) "
              f"after {time.time() - t0:.0f}s", file=sys.stderr)
        return proc.returncode or 1
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
