#!/usr/bin/env python3
"""Assemble one trajectory point of the benchmark from result lines.

Reads the JSON lines `spread.py --out` writes: untraced runs (end-to-end
metrics) and traced runs (per-layer metrics), any number of seeds per
workload. Writes, per workload: the median of every end-to-end metric,
the first traced run's per-layer record, whether each count metric
repeated exactly across the traced runs of one seed, the tracing
overhead (median traced warm_s minus median untraced warm_s), and the three
dominance ratios the workloads were chosen for.

    python3 perfbench/record.py --commit <id> --untraced u.jsonl --traced t.jsonl \
        --out perfbench/records/<id>.json
"""
import argparse
import json
import os
import statistics

import workloads

COUNTS = ("scheduler.jobs", "scheduler.stages", "catalyst.executions", "codegen.classes")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--commit", required=True)
    ap.add_argument("--untraced", required=True)
    ap.add_argument("--traced", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    untraced, traced = load(a.untraced), load(a.traced)
    point = {"commit": a.commit, "cores": len(os.sched_getaffinity(0)), "workloads": {}}
    for name, wl in workloads.WORKLOADS.items():
        us = [r for r in untraced if r["workload"] == name]
        ts = [r for r in traced if r["workload"] == name]
        if not us or not ts:
            continue
        e2e = {n: statistics.median(r["metrics"][n]["value"] for r in us)
               for n in us[0]["metrics"]}
        layers = {n: m["value"] for n, m in ts[0]["metrics"].items()}
        repeat = {}
        for r in ts[1:]:
            if r["seed"] != ts[0]["seed"]:
                continue
            for n in COUNTS:
                for phase in ("cold", "warm"):
                    k = f"{n}.{phase}"
                    repeat[k] = repeat.get(k, True) and r["metrics"][k]["value"] == layers[k]
        warm = layers["trace.warm_s"]
        traced_warm = statistics.median(r["metrics"]["trace.warm_s"]["value"] for r in ts)
        point["workloads"][name] = {
            "queries": wl.names,
            "untraced_runs": len(us), "untraced_seeds": sorted(r["seed"] for r in us),
            "failed_ops": sum(r["failed"] for r in us + ts),
            "end_to_end": e2e,
            "end_to_end_runs": {n: [r["metrics"][n]["value"] for r in us]
                                for n in us[0]["metrics"]},
            "traced_seed": ts[0]["seed"], "per_layer": layers,
            "counts_repeat": repeat,
            "trace_overhead_s": traced_warm - e2e["warm_s"],
            "dominance": {
                "jobs_per_query": layers["scheduler.jobs.warm"] / len(wl.names),
                "executor_run_share": layers["executor.run_s.warm"] / warm,
                "build_and_catalyst_share": sum(
                    layers[f"{n}.warm"] for n in (
                        "operators.build_s", "catalyst.analysis_s",
                        "catalyst.optimization_s", "catalyst.planning_s")) / warm,
            },
        }
    with open(a.out, "w") as f:
        json.dump(point, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
