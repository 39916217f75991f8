#!/usr/bin/env python3
"""Streaming-ingest benchmark of the log demux and CDC micro-batch pipelines.

    python3 ingestbench/run.py --workload log_bulk --seed 1 --seconds 10 --trace 0
    python3 ingestbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark from
source on first use (see build.py), runs one workload of spec.json for
`--seconds`, checks every emitted record against the single-threaded
oracle, and prints the result object as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`
(the span file goes to .bench_out/). Untraced results are kept in
.bench_out/ so a traced run can report its tracing overhead.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170
OUT_DIR = os.path.join(ROOT, ".bench_out")


def fail(msg, code=2):
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_java(classpath, main, args, timeout):
    os.makedirs(os.path.join(OUT_DIR, "tmp"), exist_ok=True)
    cmd = build.java_command(classpath, main, args, tmpdir=os.path.join(OUT_DIR, "tmp"))
    sys.stdout.flush()
    try:
        return subprocess.run(cmd, cwd=ROOT, timeout=timeout, env=build.java_env(OUT_DIR)).returncode
    except subprocess.TimeoutExpired:
        fail(f"{main} did not finish within {timeout:.0f} s")


def report_overhead(workload, traced):
    """Traced end-to-end figures against the median of untraced runs."""
    path = os.path.join(OUT_DIR, f"untraced-{workload}.jsonl")
    if not os.path.exists(path):
        print(f"[ingestbench] tracing overhead: no untraced run of {workload} in this checkout yet")
        return
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    for e2e, tr, better in (("throughput_eps", "trace.throughput_eps", "higher"),
                            ("latency_p50_ms", "trace.latency_p50_ms", "lower")):
        base = statistics.median(r[e2e]["value"] for r in runs)
        val = traced[tr]["value"]
        cost = (base - val) / base if better == "higher" else (val - base) / base
        print(f"[ingestbench] tracing overhead on {e2e}: {cost * 100:+.1f}% "
              f"(traced {val:.4g} vs median {base:.4g} of {len(runs)} untraced runs)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if a.seconds is not None and not 1 <= a.seconds <= 60:
        ap.error("--seconds must be within 1..60")
    try:
        cp = build.ensure_built(tests=a.selftest)
    except (build.BuildError, subprocess.TimeoutExpired, OSError) as e:
        fail(f"build failed: {e}")
    spec = os.path.join(HERE, "spec.json")
    if a.selftest:
        sys.exit(run_java(cp, "ingestbench.SelfTest", ["--spec", spec, "--out-dir", OUT_DIR], 600))

    result = os.path.join(OUT_DIR, f"result-{os.getpid()}.json")
    if os.path.exists(result):
        os.remove(result)
    code = run_java(cp, "ingestbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--spec", spec, "--out-dir", OUT_DIR, "--result", result,
    ], RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(result):
        fail(f"benchmark exited with {code} and no result", code or 2)
    with open(result) as fh:
        res = json.load(fh)
    os.remove(result)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        wanted = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    values = res.pop("values")
    missing = [m["name"] for m in wanted
               if not isinstance(values.get(m["name"]), (int, float)) or not math.isfinite(values[m["name"]])]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    res["metrics"] = metrics
    line = json.dumps(res)
    if a.trace:
        report_overhead(a.workload, metrics)
    else:
        with open(os.path.join(OUT_DIR, f"untraced-{a.workload}.jsonl"), "a") as fh:
            fh.write(json.dumps(metrics) + "\n")
    print(line, flush=True)


if __name__ == "__main__":
    main()
