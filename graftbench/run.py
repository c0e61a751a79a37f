#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 graftbench/run.py --workload <ingest_text|search_text|json> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine's sources
together with the benchmark code (sbt, offline); later runs reuse the
classes while the sources are unchanged. Each run starts one JVM at
local[nproc], prints a human-readable summary, and ends stdout with one JSON
result object. Scratch data lives under graftbench/.work and is removed when
the run ends; the full record of each run (metrics, input fingerprint,
spans, stage metrics) is kept under graftbench/results.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
WORKLOADS = ("ingest_text", "search_text", "json")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (Spark's own
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(home):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        # never resolve over the network: everything comes from local caches
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # sbt's scratch files stay inside the checkout too
    tmp = os.path.join(BENCH, "target", "tmp")
    opts += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dsbt.server.autostart=false"
    env["SBT_OPTS"] = opts.strip()
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(BENCH, "target", "build.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (log: {log_path})")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")

    home = spark_home()
    build(home)
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")

    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BENCH, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--results", results]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def on_term(signum, _frame):
        raise SystemExit(128 + signum)  # unwinds through the cleanup below
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, ".work"))
        except OSError:
            pass  # another run's scratch is still there

    lines = out.rstrip("\n").split("\n") if out else []
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not (isinstance(result, dict) and
            set(result) == {"correct", "attempted", "failed", "metrics"}):
        sys.stderr.write(out)
        fail(f"run did not produce a result (exit {proc.returncode})")
    print("\n".join(lines))
    sys.exit(0)


if __name__ == "__main__":
    main()
