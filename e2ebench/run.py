#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload medallion --seed 1 --seconds 15 --trace 0

Compiles `src/main/scala` and the harness in `e2ebench/src` with the Scala
compiler shipped in the Spark distribution (once per source state), then
runs one workload in a fresh JVM and prints a JSON result as the last line
of standard output. Everything it builds or writes stays under the build
directory (`$CARGO_TARGET_DIR`, default `.bench_build`) of the checkout.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion", "interactive")
HEAP = "3g"  # fixed: -Xms equals -Xmx
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The jars of $SPARK_HOME, else of the first spark-submit on the PATH
    that belongs to a full Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("no Spark distribution found; set SPARK_HOME")


def sources():
    srcs = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(d):
            fail(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            srcs += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def build(build_dir, jars):
    """Compile program and harness into build_dir/classes unless the
    sources are unchanged since the last build."""
    srcs = sources()
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir}", "-Xss8m", "-Xmx2g",
           "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write observed outputs here as the new expected ones")
    a = ap.parse_args()

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "e2ebench")
    classes = build(build_dir, jars)

    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)  # outputs of an earlier run
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.callstack.depth=200"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "e2e.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", os.path.join(HERE, "data"), "--work", work,
              "--expected", os.path.join(HERE, "expected.tsv")]
           + (["--record", os.path.abspath(a.record)] if a.record else []))
    log_path = os.path.join(build_dir, f"{a.workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"timed out after {RUN_TIMEOUT_S} s; see {log_path}")
    lines = out.splitlines()
    result = [l for l in lines if l.startswith("E2E_RESULT ")]
    if p.returncode != 0 or not result:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail(f"run failed with exit code {p.returncode}; see {log_path} and {work}")
    shutil.rmtree(work, ignore_errors=True)
    for l in lines:
        if l.startswith("E2E_CONTEXT "):
            print(l[len("E2E_CONTEXT "):])
    print(result[-1][len("E2E_RESULT "):])


if __name__ == "__main__":
    main()
