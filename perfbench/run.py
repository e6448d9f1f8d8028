#!/usr/bin/env python3
"""graft's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload curation|broker --seed N \
        --seconds S --trace 0|1

It builds the engine and the benchmark from source with the Scala compiler
that ships with Spark (once per checkout, into .bench_build/perfbench),
writes the input tables (once per checkout), runs one workload in a fresh JVM and
prints its metrics; the last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`. It exits non-zero,
without that line, when the engine's sources are missing, the build fails,
or the JVM fails or overruns; it exits 1 after printing the line when an
output check fails. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DEADLINE_S = 170
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
    """The Spark jars the engine builds against: the root build's
    unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    dirs = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) \
                and glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail(f"no Spark jars with a Scala compiler in {dirs or 'build.sbt or $SPARK_HOME'}")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "jvm", "src", "main", "scala")]
    return sorted(os.path.join(d, f) for r in roots for d, _, fs in os.walk(r)
                  for f in fs if f.endswith(".scala"))


def build(bdir, jars):
    """Compiles the engine's and the benchmark's sources with the Scala
    compiler that ships with Spark, into bdir/classes. It needs nothing
    outside the checkout but the JDK and the Spark jars: no sbt, no
    dependency cache, no network. Returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs + [os.path.join(ROOT, "build.sbt")]:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    fp = h.hexdigest()
    classes = os.path.join(bdir, "classes")
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = ":".join([classes] + ([resources] if os.path.isdir(resources) else [])
                  + [os.path.join(jars, "*")])
    stamp = os.path.join(bdir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                return cp
    fresh = classes + ".new"
    tmp = os.path.join(bdir, "tmp")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    scalac = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-2.*.jar"))[0]
                      for m in ("compiler", "library", "reflect"))
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                 "-cp", scalac, "scala.tools.nsc.Main", "-d", fresh,
                 "-classpath", os.path.join(jars, "*")] + srcs,
                cwd=bdir, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=600)
        except subprocess.TimeoutExpired:
            fail("the build ran past 600 s")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as f:
        f.write(fp)
    # write the build's output back now, not during the first timed run
    os.sync()
    return cp


def java():
    return os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"


def read_scale(expected):
    with open(expected) as f:
        for line in f:
            if line.startswith("# scale"):
                return line.split()[2]
    fail(f"{expected} names no scale")


def make_data(bdir, scale):
    data = os.path.join(bdir, f"data-{scale}")
    done = os.path.join(data, "_done")
    if not os.path.exists(done):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), data, scale],
                       check=True, timeout=300)
        open(done, "w").close()
        os.sync()
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["curation", "broker"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--derive", help="write result digests to this file instead of checking")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run this from the root of a graft checkout: build.sbt and src/main/scala/graft "
             "are missing")
    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    cp = build(bdir, spark_jars())
    expected = os.path.join(HERE, "expected.tsv")
    data = make_data(bdir, read_scale(expected))
    work = os.path.join(bdir, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    cmd = [java(), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--work", work,
            "--expected", expected, "--launched-at", repr(time.time())]
    if args.derive:
        cmd += ["--derive", os.path.abspath(args.derive)]
    log = os.path.join(work, "jvm.log")
    out = os.path.join(work, "out.txt")
    with open(log, "w") as err, open(out, "w") as so:
        p = subprocess.Popen(cmd, cwd=work, stdout=so, stderr=err, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM ran past {DEADLINE_S} s; log in {log}", 3)
    with open(out) as f:
        lines = f.read().splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the JVM exited {p.returncode} without a result", 4)
    print(result, flush=True)
    sys.exit(0 if p.returncode == 0 else 1)


if __name__ == "__main__":
    main()
