#!/usr/bin/env python3
"""Seeded crawl benchmark: build the engine and the benchmark from source,
then run one workload and print its result as the last stdout line.

    python3 crawlbench/run.py --workload crawl-mid --seed 1 --seconds 20 --trace 0
    python3 crawlbench/run.py --selftest

Run it from the root of a checkout. Everything it writes (classes, the
seeded inputs, crawl snapshots, Spark scratch) goes under .bench_build/ in
that checkout; a run's scratch directory is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "crawlbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
MAIN = "graft.crawlbench.CrawlBench"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"crawlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """jars/ of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on the PATH that sits in a distribution with a jars/."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    fail("no Spark distribution: set SPARK_HOME")


def scala_files(*dirs):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def build(name, sources, classpath):
    """Compile `sources` into BUILD/name.jar unless an identical build is there.
    Returns the jar and whether it was rebuilt."""
    stamp = hashlib.sha256()
    for f in sources:
        stamp.update(f.encode())
        with open(f, "rb") as fh:
            stamp.update(hashlib.sha256(fh.read()).digest())
    jar = os.path.join(BUILD, name + ".jar")
    stamp_file = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp.hexdigest():
        return jar, False
    classes = os.path.join(BUILD, name + "-classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", classes] + sources
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail(f"compiling {name} failed")
    # a jar, not a directory: the JVM's class-data archive only covers jars
    with zipfile.ZipFile(jar, "w") as z:
        for base, _, names in os.walk(classes):
            for n in names:
                z.write(os.path.join(base, n), os.path.relpath(os.path.join(base, n), classes))
    shutil.rmtree(classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp.hexdigest())
    return jar, True


def classpath(with_tests):
    if not os.path.isdir(ENGINE_SRC) or not scala_files(ENGINE_SRC):
        fail(f"no engine sources under {ENGINE_SRC}; run from the root of a checkout")
    os.makedirs(BUILD, exist_ok=True)
    spark = os.path.join(spark_jars(), "*")
    main, rebuilt = build("main", scala_files(ENGINE_SRC, os.path.join(BENCH, "src", "main")), spark)
    cp = main + ":" + spark
    if rebuilt and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if with_tests:
        return build("test", scala_files(os.path.join(BENCH, "src", "test")), cp)[0] + ":" + cp
    if not os.path.exists(ARCHIVE):
        # one traced crawl-mid run loads the classes every workload uses;
        # the archive halves the JVM's and Spark's start-up in every run
        code, _ = run_jvm(MAIN, ["--workload", "crawl-mid", "--seed", "0", "--seconds", "0",
                                 "--trace", "1", "--work", scratch_dir()], cp, scratch_dir(),
                          [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], timeout=600)
        if code != 0 and os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    return cp


def scratch_dir():
    return os.path.join(ROOT, ".bench_build", "work", str(os.getpid()))


def run_jvm(main_class, args, cp, work, jvm_flags=(), timeout=RUN_TIMEOUT_S):
    """Run a JVM to completion; returns (exit code, stdout), code None on timeout."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.sql.codegen.cache.maxEntries=10000"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + list(jvm_flags)
           + ["-cp", cp, main_class] + args)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"crawlbench: {main_class} did not finish within {timeout} s", file=sys.stderr)
        return None, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["crawl-mid", "frontier-round"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    cp = classpath(with_tests=a.selftest)
    if a.selftest:
        code, out = run_jvm("graft.crawlbench.SelfTest", ["--work", scratch_dir()], cp, scratch_dir())
        sys.stdout.write(out)
        sys.exit(1 if code is None else code)

    code, out = run_jvm(MAIN, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--work", scratch_dir()],
                        cp, scratch_dir(),
                        [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else [])
    lines = out.splitlines()
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
