#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload coeff_adp --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source (once per checkout, under
.bench_build/), generates the synthetic tables (once per scale), then runs
the harness in a fresh JVM. Its stdout ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("coeff_adp", "scan_shared", "scan_churn", "pipeline_ops")
DEFAULT_SF = "0.01"
XMX = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 540

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt javaOptions).
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
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles engine + harness unless the sources are unchanged; returns
    the harness classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.call([sbt, "--batch", "-Dsbt.log.noformat=true",
                              "compile", "writeClasspath"], cwd=BENCH,
                             env=sbt_env(), stdout=log, stderr=subprocess.STDOUT,
                             timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (rc={rc}), see {os.path.join(OUT, 'build.log')}")
    shutil.copy(os.path.join(BENCH, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip(), stamp


def java_cmd(cp, *args):
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xmx{XMX}", *opens,
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main", *args]


def call(cmd, log_path, timeout):
    """Runs cmd in its own process group; returns (rc, stdout). On timeout
    the whole group is killed and waited for."""
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # files inside the checkout either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "tmp"))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             start_new_session=True, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
    return p.returncode, out


def ensure_data(cp, stamp, sf):
    """Generates the tables of scale sf once per build."""
    data = os.path.join(OUT, "data", f"sf{sf}")
    marker = os.path.join(data, ".done")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == stamp:
                return data
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    rc, _ = call(java_cmd(cp, "gen", "--data", data, "--sf", sf),
                 os.path.join(OUT, "logs", f"gen-sf{sf}.log"), RUN_TIMEOUT_S)
    if rc != 0:
        fail(f"data generation failed (rc={rc})")
    with open(marker, "w") as f:
        f.write(stamp)
    return data


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--sf", default=DEFAULT_SF,
                    help="data scale factor (goldens exist for 0.01 and 0.001)")
    ap.add_argument("--record", action="store_true",
                    help="record the golden digests of every item at this scale")
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/")
    for d in ("logs", "traces", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    cp, stamp = build()
    data = ensure_data(cp, stamp, a.sf)
    goldens = os.path.join(BENCH, "goldens", f"sf{a.sf}.tsv")
    work = os.path.join(OUT, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(work)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        if a.record:
            rc, out = call(java_cmd(cp, "record", "--data", data, "--work", work,
                                    "--goldens", goldens),
                           os.path.join(OUT, "logs", "record.log"), 1800)
            if rc != 0:
                fail(f"recording failed (rc={rc})")
            return
        posture = {"cpus": len(os.sched_getaffinity(0)), "sf": a.sf,
                   "sf_dir": os.path.relpath(data, ROOT), "seed": a.seed,
                   "commit": git_commit(), "driver_xmx": XMX}
        rc, out = call(java_cmd(cp, "run", "--workload", a.workload,
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", a.trace, "--data", data, "--work", work,
                                "--goldens", goldens,
                                "--trace-out", os.path.join(OUT, "traces", tag + ".json"),
                                "--posture", json.dumps(posture)),
                       os.path.join(OUT, "logs", tag + ".log"), RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if rc != 0 or not lines:
            fail(f"run failed (rc={rc}), see .bench_build/logs/{tag}.log")
        result = json.loads(lines[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            fail("malformed result line")
        for l in lines:
            print(l)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
