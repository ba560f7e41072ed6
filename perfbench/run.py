#!/usr/bin/env python3
"""Benchmark command: builds the program and the harness from source, then
runs one workload in its own JVM and prints the result as the last line.

    python3 perfbench/run.py --workload luad_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("luad_wide", "ops_sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: program and harness sources,
    both build definitions."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, out, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    """The harness's runtime classpath, building first when any source
    changed since the last build."""
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        sys.exit("perfbench: sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files stay in the checkout; no JVM perf-data files under /tmp
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building program and harness (sbt compile)")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "wb") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S, out, env)
    with open(build_log, errors="replace") as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (exit {rc})")
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if not cps:
        sys.exit("perfbench: build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1] + "\n")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        sys.exit("perfbench: --seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit(f"perfbench: no program sources under {ROOT}; run from a full checkout")

    cp = classpath()
    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), repr(a.seconds),
             str(a.trace), BENCH]
    jvm_log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(jvm_log, "wb") as out:
        rc = run_bounded(java, work, RUN_TIMEOUT_S, out)
    with open(jvm_log, errors="replace") as f:
        lines = f.read().splitlines()
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not results:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        why = "timed out" if rc is None else f"exit {rc}"
        sys.exit(f"perfbench: {a.workload} run failed ({why}); log at {jvm_log}")
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    log(f"{a.workload} seed {a.seed}: {time.time() - t0:.1f} s in the JVM")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
