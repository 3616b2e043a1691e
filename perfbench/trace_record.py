#!/usr/bin/env python3
"""Writes perfbench/TRACE_LOCAL.json: for each workload, one untraced
and one traced run on the same seed, their metrics, and the tracing
overhead as the traced end-to-end value over the untraced one, minus 1.

  python3 perfbench/trace_record.py [--seed N] [--seconds S]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    records = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "records")
    out = {}
    e2e = [m["name"] for m in run.SPEC["end_to_end"]]
    per_layer = [m["name"] for m in run.SPEC["per_layer"]]
    for workload in run.WORKLOADS:
        runs = {}
        for trace in (0, 1):
            subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(trace)], cwd=ROOT, check=True)
            with open(os.path.join(records, f"{workload}-{a.seed}-{trace}.json")) as fh:
                runs[trace] = json.load(fh)
        untraced, traced = runs[0]["result"], runs[1]["result"]
        out[workload] = {
            "provenance": {k: runs[1][k] for k in
                           ("git_sha", "source_sha256", "nproc", "seed", "seconds")}
            | {"calib_spark_floor": traced["calib_spark_floor"]},
            "correct": {"untraced": runs[0]["correct"], "traced": runs[1]["correct"]},
            "untraced": {k: untraced[k] for k in e2e},
            "traced": {k: traced[k] for k in [*e2e, *per_layer]},
            "tracing_overhead": {k: traced[k] / untraced[k] - 1 for k in e2e},
        }
    with open(os.path.join(HERE, "TRACE_LOCAL.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
