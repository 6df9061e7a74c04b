#!/usr/bin/env python3
"""Build and run one benchmark workload.

    python3 perfbench/run.py --workload sb_chat --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run compiles the engine sources
(src/main/scala) together with the benchmark (perfbench/src) into
.bench_build/classes with the Scala compiler shipped in Spark's jars
directory ($SPARK_HOME/jars, else the `unmanagedBase` that build.sbt
names); later runs reuse the build while the sources are unchanged. The benchmark JVM prints a
summary and, as its last line, one JSON object with the metrics; this
script relays its standard output and exit code.
"""

import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

WORKLOADS = ("sb_chat", "sb_ingest", "graph_analytics", "corpus_dedup")
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    files = []
    for base, pattern in (("src/main/scala", "**/*.scala"),
                          ("perfbench/src", "**/*.scala")):
        files += sorted(glob.glob(os.path.join(root, base, pattern),
                                  recursive=True))
    return files


def resources(root):
    res = os.path.join(root, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(res, "**/*"),
                                       recursive=True) if os.path.isfile(p))


def jars_dir(root):
    """Spark's jars: $SPARK_HOME/jars, else the build's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def build(root, build_dir, jars):
    """Compile engine + benchmark sources unless the build is current."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        fail("no engine sources under src/main/scala; run from the "
             "repository root")
    digest = hashlib.sha256()
    for p in srcs + resources(root):
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = "%s.tmp-%d" % (classes, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars), "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    res_root = os.path.join(root, "src/main/resources")
    for p in resources(root):
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        fail("src/main/scala not found; run from the repository root")
    jar_dir = jars_dir(root)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {jar_dir}")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build_dir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # C1 only: see perfbench/NOTES.md; no perf-data file outside the
    # checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" +
            os.path.join(root, "perfbench", "log4j2.properties")] + opens +
           ["-cp", classes + ":" + os.path.join(jar_dir, "*"),
            "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--state", os.path.join(build_dir, "state"),
            "--trace-out", os.path.join(build_dir, "traces", tag + ".jsonl")])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
