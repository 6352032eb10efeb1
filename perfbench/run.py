#!/usr/bin/env python3
"""News-pipeline benchmark runner.

Run from the root of the repository:

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark with sbt on first use (or when a
source changed), then runs one workload in a fresh JVM on local[4]. The
JVM prints a report line and the result line; the result line
({"correct", "attempted", "failed", "metrics"}) is always the last line of
standard output, and only appears when the run completed. Everything the
run writes stays under .bench_build/ in the repository root.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g"]
# Build inputs: a change to any of these rebuilds before the next run.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build():
    """Compiles engine + benchmark; returns (classpath, JVM options)."""
    stamp = source_stamp()
    if not (os.path.exists(LAUNCH) and os.path.exists(STAMP)
            and open(STAMP).read() == stamp):
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
        log("building engine and benchmark with sbt")
        t0 = time.time()
        code, _ = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             f"-Dperfbench.launch={LAUNCH}", "perfbench/writeLaunch"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
            stdout=sys.stderr)
        if code != 0:
            sys.exit(f"build failed (exit {code})")
        with open(STAMP, "w") as fh:
            fh.write(stamp)
        log(f"built in {time.time() - t0:.0f} s")
    lines = open(LAUNCH).read().splitlines()
    return lines[0], lines[1:]


def java_env():
    # Spark would put its scratch space in SPARK_LOCAL_DIRS over the
    # spark.local.dir the benchmark sets inside its build directory
    return {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}


def java_cmd(classpath, engine_opts, main, args, scratch):
    # keep the engine's module opens and session options; heap, temp and
    # derby locations are the benchmark's own, inside its build directory
    opts = [o for o in engine_opts
            if not o.startswith(("-Xmx", "-Dderby.system.home", "-Djava.io.tmpdir"))]
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", *HEAP, "-XX:-UsePerfData", *opts, f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
             "-cp", classpath, main, *args])


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala", "perfbench/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            sys.exit(f"run from the repository root: {rel} not found")
    if not a.selftest and not a.workload:
        sys.exit("--workload is required")

    classpath, engine_opts = build()
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    scratch = os.path.join(BUILD, "run", name)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spans = os.path.join(BUILD, "spans", f"{a.workload}-seed{a.seed}.jsonl")
    try:
        if a.selftest:
            code, _ = run_bounded(
                java_cmd(classpath, engine_opts, "perfbench.SelfTest", [], scratch),
                RUN_TIMEOUT_S, cwd=ROOT, env=java_env(), stdin=subprocess.DEVNULL)
            sys.exit(0 if code == 0 else 1)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--dir", os.path.join(scratch, "work"), "--spans", spans,
                "--python", sys.executable or "python3",
                "--oracle", os.path.join(BENCH, "oracle.py")]
        code, out = run_bounded(
            java_cmd(classpath, engine_opts, "perfbench.Main", args, scratch),
            RUN_TIMEOUT_S, cwd=ROOT, env=java_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code is None:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    for line in lines:
        if line not in results:
            print(line)
    if code != 0 or not results:
        sys.exit(f"run failed (exit {code})")
    result = json.loads(results[-1])
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}")
    if a.trace:
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
