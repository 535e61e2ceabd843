#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's metrics.

Runs the benchmark once per seed on each named workload and prints, per
metric, the median with its unit and the distance between the first and
third quartiles as a share of the median, next to the metric's bound
from BENCHMARK.json. With one seed it is the one command that prints
every metric of every workload. Every run's result line is appended
to `--out` (JSON lines) so two sets can be compared afterwards.

    python3 perfbench/spread.py --seeds 1-10 [--workloads rdf_etl,fixpoint] [--out FILE]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import build


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in a.workloads.split(","):
        values, units = {}, {}
        for seed in seeds(a.seeds):
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(a.trace)]
            r = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                sys.exit(f"{wl} seed {seed}: exit {r.returncode}")
            line = json.loads(r.stdout.strip().splitlines()[-1])
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, **line}) + "\n")
            if not line["correct"]:
                print(f"{wl} seed {seed}: {line['failed']} failed ops")
            for n, m in line["metrics"].items():
                values.setdefault(n, []).append(m["value"])
                units[n] = m["unit"]
        for n, vs in values.items():
            med = statistics.median(vs)
            spread = "-"
            if len(vs) > 1 and med:
                q1, _, q3 = statistics.quantiles(vs, n=4)
                spread = f"{(q3 - q1) / med:6.3f}"
            print(f"{wl:9s} {n:24s} median {med:10.4f} {units[n]:6s} spread {spread}"
                  f"  bound {bounds.get(n)}")


if __name__ == "__main__":
    main()
