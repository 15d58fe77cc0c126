#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. Builds the engine together with
the benchmark harness (sbt, offline, output in .bench_build/) when the
sources changed since the last build, then runs one measurement in one
JVM and prints its result as the last line of stdout. The JVM's log goes
to .bench_build/logs/. Exits non-zero, printing no result, when the
engine sources are missing, the build fails, or the run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdx_index", "frontier_crawl")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 800
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (exit code, stdout);
    (None, None) on timeout. The group is killed and reaped on timeout and
    when this process is interrupted or terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def spark_home():
    """$SPARK_HOME, else the first Spark install (a dir with bin/spark-submit
    and jars/) whose bin directory is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark install found: set SPARK_HOME", 2)


def build(root, home, spark):
    classes = os.path.join(home, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(home, "stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ, SPARK_HOME=spark)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(home, "build.log")
    t0 = time.time()
    with open(log, "wb") as fh:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"], BUILD_TIMEOUT_S,
                            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if code != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail("build failed" if code is not None else "build timed out", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"built in {time.time() - t0:.1f} s")
    return classes


def main():
    # a terminated run must not leave its JVM behind: exit through run_group's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; run from the root of a source checkout", 2)
    home = os.path.join(root, ".bench_build")
    for d in ("logs", "tmp"):
        os.makedirs(os.path.join(home, d), exist_ok=True)
    spark = spark_home()
    classes = build(root, home, spark)

    cores = len(os.sched_getaffinity(0))
    spark_jars = os.path.join(spark, "jars", "*")
    tmp = os.path.join(home, "tmp")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", f"{classes}{os.pathsep}{spark_jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores)]
    # the program runs with the defaults a user gets: no engine debug or bench switches
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    log = os.path.join(home, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    with open(log, "wb") as fh:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=root, env=env, stdout=subprocess.PIPE, stderr=fh)
    lines = (out or b"").decode("utf-8", "replace").splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    ok = isinstance(result, dict) and set(result) == {"correct", "attempted", "failed", "metrics"}
    for line in lines[:-1] if ok else lines:
        print(line)
    if not ok:
        with open(log, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail("run timed out" if code is None else f"run failed (exit {code}); log in {log}", 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
