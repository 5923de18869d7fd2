#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload build|surface \
        --seed N --seconds S --trace 0|1

    python3 perfbench/run.py --write-references

The second form rewrites the committed reference outputs under
perfbench/reference/ from the current program (perfbench.Reference);
a change that alters the outputs on purpose commits the new files.

The program's main sources (src/main/scala) and the benchmark's own
sources (perfbench/src) are compiled together with the Scala compiler
that ships with Spark, into .bench_build/classes-<source digest>; a
later run over the same sources reuses that build. The JVM then runs
perfbench.Main, whose last standard-output line is the result object;
this script checks its shape and prints it as its own last line.

Exit status: 0 when every correctness check passed, 1 when the run
finished but a check failed, 2 when the program could not be built or
run (no result is printed then).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of an installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            fail("no Spark installation: set SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    if not main:
        fail(f"no program sources under {ROOT}/src/main/scala: run from "
             "the root of a graft checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                             recursive=True))
    return main + bench


def build(jars, srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, f"classes-{digest}")
    if os.path.isdir(out):
        return out, digest
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    argfile = os.path.join(BUILD_DIR, f"scalac-{os.getpid()}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", cp, "-d", tmp] + srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    try:
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                            "-cp", cp,
                            "scala.tools.nsc.Main", "@" + argfile],
                           timeout=800)
    finally:
        os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    os.rename(tmp, out)
    return out, digest


def declared_metrics(kind):
    """The metric list BENCHMARK.json declares, which a result must match."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def java(classes, jars, work, main, args, timeout):
    """Run `main` in a JVM at the benchmark's settings; its stdout."""
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", os.pathsep.join([classes] + jars), main,
            "--work", work, "--bench", HERE] + args)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out, proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["build", "surface"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-references", action="store_true")
    a = ap.parse_args()
    if not a.write_references and None in (a.workload, a.seed, a.seconds):
        fail("--workload, --seed and --seconds are required")
    if not a.write_references and a.seconds < 1:
        fail("--seconds must be >= 1")

    srcs = sources()
    jars = spark_jars()
    os.makedirs(BUILD_DIR, exist_ok=True)
    classes, digest = build(jars, srcs)
    if a.write_references:
        work = os.path.join(BUILD_DIR, "work", f"reference-{os.getpid()}")
        _, rc = java(classes, jars, work, "perfbench.Reference", [], 1800)
        sys.exit(0 if rc == 0 else 1)

    work = os.path.join(BUILD_DIR, "work", f"{a.workload}-{os.getpid()}")
    records = os.path.join(BUILD_DIR, "records")
    os.makedirs(records, exist_ok=True)
    out, rc = java(classes, jars, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--records", records, "--revision", f"src-{digest}",
        "--heap", HEAP], RUN_TIMEOUT_S)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln)
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    except (IndexError, ValueError, AssertionError):
        fail(f"no result line (JVM exit {rc})")
    declared = [(m["name"], m["unit"]) for m in
                declared_metrics("per_layer" if a.trace else "end_to_end")]
    printed = [(k, v["unit"]) for k, v in res["metrics"].items()]
    if printed != declared:
        fail(f"printed metrics {printed} differ from BENCHMARK.json's "
             f"{declared}")
    print(json.dumps(res))
    sys.exit(0 if res["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
