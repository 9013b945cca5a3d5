#!/usr/bin/env python3
"""Tracing overhead from stored run records.

    python3 perfbench/overhead.py <workload> <seed> [<seed> ...]

For each seed that has both an untraced and a traced record of the workload
in .bench_build/results/ (written by run.py --trace 0 and --trace 1), prints
the untraced and traced op_p50_ms and work_per_s and the overhead of the
traced run, then the medians over the seeds. On serve it also prints
query.plan_ms + query.exec_ms as a share of query.p50_ms.
"""
import json
import os
import statistics
import sys

RESULTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build", "results")


def load(workload, seed, trace):
    path = os.path.join(RESULTS, f"{workload}-seed{seed}-trace{trace}.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return {k: v["value"] for k, v in json.load(f)["metrics"].items()}


def main():
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    workload, seeds = sys.argv[1], sys.argv[2:]
    lat, thr, split = [], [], []
    for seed in seeds:
        plain, traced = load(workload, seed, 0), load(workload, seed, 1)
        if plain is None or traced is None:
            print(f"seed {seed}: missing a traced or an untraced record")
            continue
        lat.append(traced["trace.op_p50_ms"] / plain["op_p50_ms"] - 1)
        thr.append(1 - traced["trace.work_per_s"] / plain["work_per_s"])
        line = (f"seed {seed}: op_p50_ms {plain['op_p50_ms']:.1f} -> "
                f"{traced['trace.op_p50_ms']:.1f} ({lat[-1]:+.1%}), work_per_s "
                f"{plain['work_per_s']:.3f} -> {traced['trace.work_per_s']:.3f} "
                f"({-thr[-1]:+.1%})")
        if traced.get("query.p50_ms"):
            split.append((traced["query.plan_ms"] + traced["query.exec_ms"])
                         / traced["query.p50_ms"])
            line += f", (plan+exec)/p50 {split[-1]:.1%}"
        print(line)
    if lat:
        print(f"median over {len(lat)} seeds: op_p50_ms {statistics.median(lat):+.1%}, "
              f"work_per_s lost {statistics.median(thr):+.1%}"
              + (f", (plan+exec)/p50 {statistics.median(split):.1%}" if split else ""))


if __name__ == "__main__":
    main()
