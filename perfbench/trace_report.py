#!/usr/bin/env python3
"""Write the committed traced record of one or more workloads.

Usage (from the root of a checkout):
    python3 perfbench/trace_report.py --seed N [--seconds S] WORKLOAD...

For each workload, runs run.py untraced and traced with the same seed
and writes perfbench/results/traced_<workload>.json: the traced run's
record (per-layer metrics, span self times, spans, checks, box stamp)
plus the tracing overhead, i.e. each end-to-end metric of the traced
run minus the untraced one.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    with open(os.path.join(build_dir, "records", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="+")
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        overhead = {}
        for k, v in traced["end_to_end"].items():
            base = plain["end_to_end"][k]
            overhead[k] = {"untraced": base, "traced": v, "delta": v - base,
                           "delta_ratio": (v - base) / base if base else None}
        traced["untraced_end_to_end"] = plain["end_to_end"]
        traced["tracing_overhead"] = overhead
        out = os.path.join(HERE, "results", f"traced_{w}.json")
        with open(out, "w") as f:
            json.dump(traced, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{w}: wrote {os.path.relpath(out, ROOT)}", file=sys.stderr)


if __name__ == "__main__":
    main()
