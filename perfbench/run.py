#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 6 --trace 0

Builds the engine and harness (perfbench/build.py), runs one workload in a
fresh JVM and prints two JSON lines on stdout:

  1. a report: the workload's own metrics (search_p95_ms, join_rows_per_s,
     ...), input sizes, checks and, with --trace 1, the span file path;
  2. last, the result: {"correct", "attempted", "failed", "metrics"}, where
     metrics are the end-to-end metrics of BENCHMARK.json (--trace 0) or
     its per-layer metrics (--trace 1).

`--workload all` runs every workload in turn. The exit code is non-zero
when an output check fails or the run does not complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["search_serve", "join_batch", "ingest_refresh", "dedup_pipeline"]
JVM_TIMEOUT_S = 170


def metric_spec(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(build_dir, workload, seed, seconds, trace):
    """Runs one workload; returns the JVM's result object."""
    work = os.path.join(build.BUILD_ROOT, "run-%d-%s" % (os.getpid(), workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_out = os.path.join(build.BUILD_ROOT, "traces", "%s-seed%d.jsonl" % (workload, seed))
    cmd = build.java_cmd(build_dir, work, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit("perfbench: %s did not finish within %ds" % (workload, JVM_TIMEOUT_S))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit("perfbench: %s exited with %d and no result" % (workload, proc.returncode))
    result = json.loads(lines[-1])
    if trace:
        result["trace_file"] = os.path.relpath(trace_out, ROOT)
    return result


def contract_metrics(result, trace):
    """The BENCHMARK.json metrics of one run, in its order and units. A
    per-layer metric the workload did not produce is 0: that layer did
    no work in this workload."""
    source = result["layers" if trace else "end_to_end"]
    metrics = {}
    for m in metric_spec(trace):
        got = source.get(m["name"])
        if got is None and not trace:
            raise SystemExit("perfbench: %s did not report %s" % (result["workload"], m["name"]))
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build_dir = build.build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = []
    for w in names:
        t0 = time.time()
        r = run_jvm(build_dir, w, args.seed, args.seconds, args.trace)
        r["metrics"] = contract_metrics(r, args.trace)
        results.append(r)
        print(json.dumps({
            "workload": w, "seed": args.seed, "trace": args.trace, "correct": r["correct"],
            "report": r["report"], "inputs": r["inputs"], "checks_run": r["checks_run"],
            "check_failures": r["check_failures"], "op_failures": r["op_failures"],
            "error": r["error"], "trace_file": r.get("trace_file"),
            "wall_s": round(time.time() - t0, 3)}), flush=True)

    correct = all(r["correct"] for r in results)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {"%s.%s" % (r["workload"], k): v for r in results for k, v in r["metrics"].items()}
    print(json.dumps({"correct": correct,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": sum(r["failed"] for r in results),
                      "metrics": metrics}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
