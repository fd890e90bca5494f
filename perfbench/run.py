#!/usr/bin/env python3
"""Seeded paper-workload benchmark for the experiment and data-integration
entry points.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload kg-models --seed 1 --seconds 20 --trace 0

The first run builds the program and the benchmark from source with sbt
(offline) into .bench_build/, later runs reuse that build while the
sources are unchanged. Each run starts one JVM that generates the
workload's inputs from the seed, calls the entry point in a closed loop
and checks its outputs. With --trace 0 two more short JVMs sample the
set-up time. The heap is fixed (-Xms = -Xmx, sized from MemTotal) so that
heap growth does not vary from run to run. The last line of standard
output is the result JSON; the line before it carries sample counts,
calibration and host sizing.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

WORKLOADS = ["kg-models", "etl-kcore"]
SETUP_PROBES = 2
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 140
PROBE_TIMEOUT_S = 15
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def driver_mem():
    """Half of MemTotal in GiB, clamped to [2, 8]: the test command's rule."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def build(root, out):
    launch = os.path.join(out, "launch")
    stamp = os.path.join(launch, "stamp")
    digest = source_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return launch
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    repos = os.path.expanduser("~/.sbt/repositories")
    sbt_opts = os.environ.get("SBT_OPTS") or " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        + ([f"-Dsbt.repository.config={repos}"] if os.path.exists(repos) else []))
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=sbt_opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "benchLaunchSpec"]
    try:
        res = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                             stdin=subprocess.DEVNULL, stdout=sys.stderr,
                             stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if res.returncode != 0:
        fail(f"build failed with exit code {res.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return launch


def java_command(out, launch):
    with open(os.path.join(launch, "classpath.txt")) as fh:
        cp = [l.strip() for l in fh if l.strip()]
    with open(os.path.join(launch, "java_options.txt")) as fh:
        opts = [l.strip() for l in fh if l.strip() and not l.strip().startswith("-Xmx")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_mem()
    return (["java"] + opts +
            [f"-Xmx{mem}", f"-Xms{mem}", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(out, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
             "-cp", os.pathsep.join(cp), "perfbench.Main"])


def run_jvm(cmd, cwd, timeout):
    """Runs one JVM to completion; returns the JSON of its last stdout line."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {timeout} s")
    if proc.returncode != 0:
        fail(f"JVM exited with code {proc.returncode}")
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        fail("JVM printed no result line")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink the generated inputs (self-test only)")
    ap.add_argument("--fault", default="none", choices=["none", "train-item", "drop-uri"],
                    help="plant an output fault the checks must catch (self-test only)")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a source checkout (build.sbt and src/main/scala not found)")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    launch = build(root, out)
    java = java_command(out, launch)

    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(java + ["--workload", args.workload, "--seed", str(args.seed),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--scale", str(args.scale), "--fault", args.fault,
                              "--work", work], root, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = res["metrics"]
    info = res["info"]
    info["driver_mem"] = driver_mem()
    if args.trace == 0:
        samples = [metrics["setup_s"]["value"]]
        for _ in range(SETUP_PROBES):
            samples.append(run_jvm(java + ["--setup-only"], root, PROBE_TIMEOUT_S)["setup_s"])
        metrics["setup_s"] = {"value": statistics.median(samples), "unit": "s",
                              "samples": len(samples)}
        info["setup_samples_s"] = samples

    correct = res["failed"] == 0 and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"detail": {"metrics": metrics, "info": info}}))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
