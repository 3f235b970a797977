#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_seed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into `target/` and
`perfbench/target/`; later runs reuse the build while the sources are
unchanged. Everything a run writes goes under `.bench_build/perfbench/`,
and each run's topic roots are deleted when it ends.

Workloads: cdc_seed, cdc_control, query_mix (see perfbench/README.md).
Exit code 0 and one JSON line on success; any other exit code and no
result line on failure.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("cdc_seed", "cdc_control", "query_mix")
BENCH = "perfbench"
OUT = os.path.join(".bench_build", "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.1")
EXPECTED = os.path.join(BENCH, "expected_query_mix.tsv")
# sources whose change requires a rebuild
BUILD_INPUTS = ("build.sbt", os.path.join("project", "build.properties"), os.path.join("src", "main"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
                os.path.join(BENCH, "src"))
RUN_LIMIT_S = 175  # a run must end within 180 s, not counting a build
BUILD_LIMIT_S = 720
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, log_path, env=None, cwd=None):
    """Run cmd in its own process group; kill the group on timeout. Returns the exit code."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            log(f"timed out after {limit_s:.0f} s: {cmd[0]}")
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(root):
    """Compile program + benchmark; return the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    build_log = os.path.join(OUT, "build.log")
    if os.path.exists(build_log):
        os.remove(build_log)
    # `export` prints the classpath as the last line of its output
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      f"-Dsbt.global.base={os.path.join(root, OUT, 'sbt-global')}",
                      "export perfbench/Runtime/fullClasspath"],
                     BUILD_LIMIT_S, build_log, env=env, cwd=os.path.join(root, BENCH))
    lines = [l.strip() for l in tail(build_log, 5).splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        log(f"build failed (exit {rc}); log tail:\n{tail(build_log)}")
        return None
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


def main():
    # a terminated run still stops the JVM or sbt it started (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    needed = ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join(BENCH, "build.sbt"), os.path.join(DATA, "lineitem.parquet"), EXPECTED]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"not a complete checkout (missing {', '.join(missing)}); run from the repository root")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on PATH")
        return 2
    os.makedirs(OUT, exist_ok=True)

    cp = build(root)
    if cp is None:
        return 3

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    tmp = os.path.join(OUT, "tmp", run_id)
    result = os.path.join(OUT, f"result-{run_id}.json")
    jvm_log = os.path.join(OUT, "logs", f"{run_id}.log")
    for d in (work, tmp, os.path.dirname(jvm_log)):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_GRAFT_SF_DIR", None)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--expected", EXPECTED,
            "--work", work, "--spans", os.path.join(OUT, "spans"), "--out", result])
    try:
        rc = run_bounded(cmd, RUN_LIMIT_S, jvm_log, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        log(f"run failed (exit {rc}); log tail:\n{tail(jvm_log)}")
        return 4
    with open(result) as f:
        out = json.load(f)
    os.remove(result)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
