#!/usr/bin/env python3
"""Runs one benchmark workload against the observation store.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark runner from source with sbt (offline) and caches the result under
perfbench/target, keyed by a hash of the sources; later runs start the
runner JVM directly. Each run prints a context line and, as its last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the `end_to_end` list of BENCHMARK.json, with
--trace 1 the `per_layer` list. The run record, spans and self-time table
of a run go to perfbench/.out/<workload>-s<seed>-t<trace>/.

Exit status: 0 when the run completed and every check passed; 1 when a
check failed or the runner crashed; 2 when the engine sources are missing;
3 when the build failed.
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
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "build.stamp")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits until it has ended. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
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


def build(out_dir):
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    log("building engine and runner with sbt (first run in this checkout)")
    os.makedirs(out_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    with open(os.path.join(out_dir, "build.log"), "wb") as logf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeLaunch"],
                       BENCH, BUILD_TIMEOUT_S, logf, subprocess.STDOUT, env)
    if rc != 0 or not os.path.exists(LAUNCH):
        log(f"build failed (exit {rc}); see {out_dir}/build.log")
        sys.exit(3)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        log(f"unknown workload {a.workload}; have {', '.join(names)}")
        sys.exit(1)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("engine sources (build.sbt, src/main/scala) not found next to "
            "perfbench/; run from a full checkout")
        sys.exit(2)

    out_dir = os.path.join(BENCH, ".out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    build(os.path.join(BENCH, ".out"))

    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(LAUNCH) as fh:
        launch = [l for l in fh.read().split("\n") if l]
    cp, jvm_opts = launch[0], launch[1:]
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"] + jvm_opts +
           ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--spec", spec_path, "--work", work, "--out", out_dir])
    stdout_path = os.path.join(out_dir, "stdout.txt")
    try:
        with open(stdout_path, "wb") as so, \
                open(os.path.join(out_dir, "run.log"), "wb") as se:
            rc = run_group(cmd, ROOT, RUN_TIMEOUT_S, so, se)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stdout_path, encoding="utf-8", errors="replace") as fh:
        lines = [l for l in fh.read().split("\n") if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if rc != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        log(f"runner failed (exit {rc}); see {out_dir}/run.log")
        sys.exit(1)
    for l in lines:
        print(l)
    sys.stdout.flush()
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
