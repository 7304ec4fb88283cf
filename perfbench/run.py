#!/usr/bin/env python3
"""Benchmark launcher: builds the program with the benchmark (perfbench/build.sh)
when its sources changed, then runs one benchmark JVM and prints its result.

usage (from the repository root):
  python3 perfbench/run.py --workload oneshot|verify_substring|incremental \
      --seed N --seconds S --trace 0|1 [--rebuild-truth]

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. Build output, inputs, outputs and the truth
cache live under .bench_build/perfbench in the current directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

WORKLOADS = ("oneshot", "verify_substring", "incremental")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
# the Spark distribution's jar directory: $SPARK_JARS, else $SPARK_HOME/jars
SPARK_JARS = os.environ.get("SPARK_JARS") or os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "1g"

# Spark 4 on JDK 17 outside spark-submit needs these module openings (the
# same list the program's build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files():
    files = ["perfbench/build.sh"]
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def jvm_command(jar, args, java_opts=()):
    tmp = os.path.join(os.path.abspath(BUILD_DIR), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Xmn{YOUNG}", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.abspath('perfbench/log4j2.properties')}"]
    cmd += list(java_opts)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cores = len(os.sched_getaffinity(0))
    return cmd + ["-cp", f"{os.path.abspath(jar)}:{SPARK_JARS}/*", "perfbench.Main",
                  "--cores", str(cores)] + args


def ensure_built():
    """Returns (jar, class-data archive), rebuilding both when any source
    changed. The archive (JDK class-data sharing) is dumped by one short
    training run of the benchmark itself; later runs map the archived
    classes instead of loading and verifying them, which takes several
    seconds off every run's set-up."""
    jar = os.path.join(BUILD_DIR, "perfbench.jar")
    jsa = os.path.join(BUILD_DIR, "perfbench.jsa")
    stamp = os.path.join(BUILD_DIR, "build.stamp")
    want = source_hash()
    if os.path.exists(jar) and os.path.exists(jsa) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                return jar, jsa
    os.makedirs(BUILD_DIR, exist_ok=True)
    for f in (stamp, jsa):
        if os.path.exists(f):
            os.remove(f)
    print("[perfbench] building program + benchmark", file=sys.stderr, flush=True)
    subprocess.run(["bash", "perfbench/build.sh", jar], check=True, timeout=BUILD_TIMEOUT_S,
                   env=dict(os.environ, SPARK_JARS=SPARK_JARS))
    train = os.path.abspath(os.path.join(BUILD_DIR, "train"))
    subprocess.run(jvm_command(jar, ["--workload", "oneshot", "--seed", "1", "--seconds", "1",
                                     "--trace", "0", "--work", train,
                                     "--result", os.path.join(train, "result.json")],
                               [f"-XX:ArchiveClassesAtExit={os.path.abspath(jsa)}"]),
                   check=True, timeout=BUILD_TIMEOUT_S, stdout=subprocess.DEVNULL)
    shutil.rmtree(train, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(want)
    return jar, jsa


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--rebuild-truth", action="store_true",
                    help="recompute the cached truth for this workload and seed")
    a = ap.parse_args()
    if not (os.path.isdir("src/main/scala") and os.path.isdir("perfbench/src")):
        print("[perfbench] run from the repository root: program sources not found",
              file=sys.stderr)
        return 2
    if not os.path.isdir(SPARK_JARS):
        print("[perfbench] Spark jars not found: set SPARK_HOME or SPARK_JARS", file=sys.stderr)
        return 2
    if not 1 <= a.seconds <= 600:
        print("[perfbench] --seconds must be in 1..600", file=sys.stderr)
        return 2
    try:
        jar, jsa = ensure_built()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.abspath(BUILD_DIR)
    result_file = os.path.join(work, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result_file]
    if a.rebuild_truth:
        args.append("--rebuild-truth")
    proc = subprocess.Popen(jvm_command(jar, args, [f"-XX:SharedArchiveFile={os.path.abspath(jsa)}"]))
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 3
    if code != 0 or not os.path.exists(result_file):
        print(f"[perfbench] benchmark JVM exited with code {code}", file=sys.stderr)
        return code or 4
    with open(result_file) as fh:
        result = json.load(fh)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
