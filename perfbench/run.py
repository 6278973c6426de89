#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload etl_ingest|query_mix \
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. The first run builds the engine and the
benchmark from source (see build.py). Each run works in a private
directory, `.bench_work/<workload>`, emptied first, so no committed
store from an earlier run or another tool is reused. With `--trace 0`
the result carries every end-to-end metric of BENCHMARK.json, with
`--trace 1` every per-layer metric; the run's span tree and session
config are left in `.bench_work/<workload>/trace.json`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl_ingest", "query_mix")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECT = os.path.join(HERE, "data", "expect_sf0.01.tsv")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java_cmd(classes, work, main, args):
    """The JVM command line for one of the benchmark's main classes."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.callstack.depth=80",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        main] + args)


def fresh_workdir(root, name):
    """Empty `.bench_work/<name>`; the engine's staged stores live in its
    `target/`, so they are rebuilt every run."""
    work = os.path.join(root, ".bench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "target"):
        os.makedirs(os.path.join(work, d))
    return work


def run_jvm(cmd, cwd, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle files
    # outside the working directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        raise SystemExit(f"perfbench: JVM exceeded {timeout} s")
    except BaseException:  # interrupted or terminated: take the JVM down too
        os.killpg(p.pid, 9)
        p.wait()
        raise


def main():
    # a TERM becomes SystemExit, so run_jvm still stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        raise SystemExit("perfbench: run from the repository root (no BENCHMARK.json)")
    with open(spec_path) as f:
        spec = json.load(f)
    metrics = spec["per_layer" if a.trace == "1" else "end_to_end"]

    classes = build.build(root, os.path.join(root, ".bench_build", "perfbench"))
    work = fresh_workdir(root, a.workload)
    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores), "--work", work, "--size", a.size,
            "--metrics", ",".join(m["name"] for m in metrics)]
    if a.workload == "query_mix":
        args += ["--data", DATA, "--expect", EXPECT]
    t0 = time.time()
    code = run_jvm(java_cmd(classes, work, "graft.perfbench.Main", args), work, JVM_TIMEOUT_S)
    print("perfbench: JVM ran %.1f s" % (time.time() - t0), file=sys.stderr)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: {a.workload} failed (JVM exit {code})")
    with open(result_path) as f:
        r = json.load(f)
    with open(os.path.join(work, "trace.json")) as f:
        t = json.load(f)
    for p in r["problems"]:
        print("perfbench: check failed: " + p, file=sys.stderr)
    print("# perfbench %s seed=%d nproc=%s op_latency_s=%s session=%s not_exercised=%s" % (
        a.workload, a.seed, t["nproc"], t["values"].get("op_latency_s"),
        json.dumps(t["session"], sort_keys=True), ",".join(r["not_exercised"]) or "-"))
    print(json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {m["name"]: {"value": r["values"][m["name"]], "unit": m["unit"]}
                    for m in metrics}}))


if __name__ == "__main__":
    main()
