#!/usr/bin/env python3
"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--save results.jsonl]

Builds the program and the benchmark if needed, runs the workload in one
JVM (Spark local mode, 4 cores), checks its outputs and prints the result
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the run's spans are
kept under <build dir>/traces/. The line before the result records the
realised input properties. --save appends both to a JSON-lines file for
compare.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
# the documents and embeddings tables of the ops-gated workload
DATA = HERE / "data"
sys.path.insert(0, str(HERE))

import build  # noqa: E402

WORKLOADS = ["mixed", "ops-gated"]
JVM_TIMEOUT_S = 150


def run_jvm(root, args, work, out):
    jvm = ["java"] + build.jvm_options(work)
    archive = build.out_dir(root) / "app.jsa"
    if archive.is_file():
        jvm.append(f"-XX:SharedArchiveFile={archive}")
    cmd = jvm + ["-cp", os.pathsep.join(build.classpath(root)), "perfbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--data", str(DATA), "--work", str(work), "--out", str(out)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--save", help="append the result to this JSON-lines file")
    args = ap.parse_args()

    root = Path.cwd()
    try:
        out_dir = build.build(root)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = out_dir / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        out = work / "result.json"
        code = run_jvm(root, args, work.resolve(), out.resolve())
        if code != 0 or not out.is_file():
            print(f"[perfbench] JVM exited with {code} and no result", file=sys.stderr)
            return 1
        res = json.loads(out.read_text())
        problems = list(res["problems"])
        if args.workload == "ops-gated" and (work / "oracle_sql.json").is_file():
            import oracle
            problems += oracle.check(DATA, work.resolve(), out_dir / "oracle")
        if args.trace and (work / "spans.jsonl").is_file():
            traces = out_dir / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces / f"{args.workload}-{args.seed}.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"[perfbench] check failed: {p}", file=sys.stderr)
    result = {"correct": res["correct"] and not problems, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": res["metrics"]}
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "inputs": res["inputs"], "problems": problems}
    if args.save:
        with open(args.save, "a") as f:
            f.write(json.dumps({**detail, **result}) + "\n")
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
