#!/usr/bin/env python3
"""Benchmark launcher for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state), generates the inputs (once per checkout, regenerated if their bytes
change), then runs one workload in a fresh JVM. The harness prints a summary
and, as the last line of stdout, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The exit code is non-zero when an output
check or the ANN recall floor fails, or when the run cannot be made at all.

Everything the run writes goes under `.bench_build/` in the repository root.
See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# GenData input sets each workload reads (sync_churn generates its own)
INPUTS = {"sync_churn": [], "suite_sf0.1": ["sf0.1"]}
# heap fixed (initial = maximum) on both sides of a comparison: peak RSS
# and GC behaviour depend on it
HEAP = "4g"
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
HELD_OUT_SEED = 7919


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    """sha256 over the relative names and bytes of every file in `paths`."""
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(env):
    """Compile engine + harness; return (classpath, engine JVM options)."""
    sources = ["build.sbt", "project/build.properties", "src/main",
               "perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src/main"]
    stamp = digest([s for s in sources if os.path.exists(os.path.join(ROOT, s))])
    launch = os.path.join(BUILD, "launch.json")
    if os.path.exists(launch):
        with open(launch) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached, stamp
    log("building engine and harness with sbt")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp-sbt")
    os.makedirs(tmp, exist_ok=True)
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                    "perfbench/writeLaunch"],
                   os.path.join(ROOT, "perfbench"), env, BUILD_TIMEOUT_S, sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise RuntimeError(f"sbt build failed with exit code {rc}")
    with open(os.path.join(ROOT, "perfbench", "target", "launch.json")) as f:
        cached = json.load(f)
    cached["stamp"] = stamp
    with open(launch, "w") as f:
        json.dump(cached, f)
    log(f"build took {time.time() - t0:.1f} s")
    return cached, stamp


def java_cmd(launch, main, args, tmp):
    opts = [o for o in launch["javaOptions"] if not o.startswith(("-Xmx", "-Xms"))]
    return (["java"] + opts + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(launch["classpath"]), main] + args)


def file_sums(d):
    out = {}
    for base, _, fs in os.walk(d):
        for f in sorted(fs):
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def inputs(name, launch, env, cores):
    """Generate GenData input set `name` unless its bytes are unchanged."""
    out = os.path.join(BUILD, "data", name)
    stamp_file = out + ".json"
    gen_stamp = digest(["src/main/scala/graft/tools/GenData.scala"])
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            st = json.load(f)
        if st.get("generator") == gen_stamp and os.path.isdir(out) and file_sums(out) == st["files"]:
            return st["files"]
    log(f"generating input {name}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp-gen")
    os.makedirs(tmp, exist_ok=True)
    genv = dict(env, SPARK_GRAFT_CPUS=str(cores))
    rc = run_child(java_cmd(launch, "graft.tools.GenData", [name[2:], out], tmp),
                   ROOT, genv, BUILD_TIMEOUT_S, sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        raise RuntimeError(f"GenData {name} failed with exit code {rc}")
    for base, _, fs in os.walk(out):  # drop writer side files (_SUCCESS, .crc)
        for f in fs:
            if f.startswith(("_", ".")):
                os.remove(os.path.join(base, f))
    files = file_sums(out)
    with open(stamp_file, "w") as f:
        json.dump({"generator": gen_stamp, "files": files}, f)
    return files


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"not a graft source tree: {need} is missing under {ROOT}")
            return 2

    os.makedirs(BUILD, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP, COURSIER_MODE="offline")
    launch, stamp = build(env)
    sums = {n: inputs(n, launch, env, cores) for n in INPUTS[a.workload]}

    work = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    manifest = {
        "git_commit": git_commit(), "source_stamp": stamp, "nproc": cores, "heap": HEAP,
        "held_out_seed": HELD_OUT_SEED, "is_held_out": a.seed == HELD_OUT_SEED,
        "seconds": a.seconds, "trace": a.trace,
        "inputs": {n: hashlib.sha256(json.dumps(s, sort_keys=True).encode()).hexdigest()
                   for n, s in sums.items()},
    }
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.join(BUILD, "data"), "--work", work,
            "--cores", str(cores), "--expected", os.path.join(HERE, "expected"),
            "--manifest", json.dumps(manifest)]
    rc = run_child(java_cmd(launch, "perfbench.Main", args, tmp), ROOT, env, RUN_TIMEOUT_S, None)
    # keep the run record and manifest, drop the catalogs and scratch data
    for entry in os.listdir(work):
        p = os.path.join(work, entry)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    return rc


if __name__ == "__main__":
    # a terminated launcher must not leave its JVM behind: turn SIGTERM into
    # an exception so run_child kills the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"benchmark failed: {e}")
        sys.exit(3)
