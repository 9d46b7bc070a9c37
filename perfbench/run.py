#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The engine sources (src/main/scala) and the
benchmark's own sources (perfbench/src) are compiled with the Scala
compiler that ships in Spark's jar directory into .bench_build/, once per
source hash. The benchmark JVM's stdout is passed through; its last line is
the JSON result. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build")
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these outside spark-submit (the repo's build
# passes the same list to its forked test and run JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            fail(f"missing source directory {os.path.relpath(base, REPO)}; "
                 "run from a full checkout of the repository")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "perfbench", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    try:
        r = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compile failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.replace(tmp, classes)
    print(f"# built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java_cmd(jars, classes, main, args, work):
    mem = "2g"  # a run's heap peaks near 0.5 GB; every extra GB is first-touch page faults
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            # no hsperfdata file in the system temp dir: a run writes only
            # inside the checkout
            ["-XX:-UsePerfData", f"-Xmx{mem}", f"-Xms{mem}", f"-Djava.io.tmpdir={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)


def run_jvm(cmd, timeout):
    p = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {timeout} s")
    return p.returncode, out.decode(errors="replace"), err.decode(errors="replace")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "runs", f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    try:
        if a.self_test:
            main_cls, args = "graft.perfbench.SelfTest", ["--dir", work]
        else:
            main_cls = "graft.perfbench.Main"
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--dir", work]
        code, out, err = run_jvm(java_cmd(jars, classes, main_cls, args, work), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        tail = "\n".join(l for l in err.splitlines() if "WARN" not in l)[-3000:]
        sys.stderr.write(tail + "\n")
        sys.exit(code)


if __name__ == "__main__":
    main()
