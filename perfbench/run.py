#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout: it builds the program and the harness there
(perfbench/build.py), starts one JVM on local[<cores>] with all state under a
per-run temp root inside .bench_build/, and removes that root at exit.
See perfbench/WORKLOADS.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("frontier_bulk", "crawl_campaign", "maintenance_queries")
JVM_TIMEOUT_S = 165


def run_jvm(classpath, args, root, cores):
    out = os.path.join(root, "result.json")
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    cmd = build.jvm(classpath, tmp) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--out", out, "--cores", str(cores)]
    log_path = os.path.join(root, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=build.clean_env(),
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"{args.workload}: JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-8000:])
        raise SystemExit(f"{args.workload}: JVM exited with code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--raw", help="also write the harness's raw record to this file")
    args = ap.parse_args()

    checkout = os.getcwd()
    classpath = build.ensure_built(checkout)
    cores = len(os.sched_getaffinity(0))
    runs = os.path.join(checkout, ".bench_build", "runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        raw = run_jvm(classpath, args, root, cores)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if args.raw:
        with open(args.raw, "w") as fh:
            json.dump(raw, fh)
    modules = benchlib.source_modules(os.path.join(checkout, "src/main/scala"))
    result = benchlib.result(raw, modules)
    for line in benchlib.summary(raw, result):
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
