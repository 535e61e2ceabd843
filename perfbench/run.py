#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rdf_etl --seed 1 --seconds 10 --trace 0

Builds the program and the input tables on first use (`build.py`), then
measures set-up in separate JVM launches and runs the workload's passes
in one more JVM: a single closed-loop client, one query at a time. After
the timed passes every query's output is checked against the stored
oracle expectation (`expected.json`). With `--trace 0` the last stdout
line carries the end-to-end metrics, with `--trace 1` the per-layer
metrics, and the traced run's spans are written beside its record.
See README.md for the workloads, metrics and seed semantics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build
import canon
import metrics
import workloads

SF = 0.001
SETUP_LAUNCHES = 3     # set-up is measured in this many JVM launches, the run's included
HEAP = "1g"
JVM_TIMEOUT_S = 150


def telemetry():
    """Load average, sibling JVM count and the CPU time the hypervisor
    stole (/proc/stat): reported so that a contended run identifies
    itself; it changes no number."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        load, cpu = None, None
    javas = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    javas += f.read().strip() == "java"
            except OSError:
                pass
    return {"loadavg": load, "jvms": javas, "cpu_jiffies": cpu}


def steal_share(before, after):
    """Share of all CPU time in between that the hypervisor stole."""
    if not before["cpu_jiffies"] or not after["cpu_jiffies"]:
        return None
    d = [a - b for a, b in zip(after["cpu_jiffies"], before["cpu_jiffies"])]
    return d[7] / sum(d) if sum(d) and len(d) > 7 else None


def java(classes, cfg_path, work, log_path):
    cp = ":".join([classes] + build.spark_classpath())
    cmd = (["java", "-XX:-UsePerfData"] + build.ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/jtmp",
            "-Dfile.encoding=UTF-8", "-cp", cp, "perfbench.Harness", cfg_path])
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise RuntimeError(f"harness JVM failed ({rc}), log: {log_path}")
    return t0


def write_config(path, **kv):
    passes = kv.pop("passes", [])
    with open(path, "w") as f:
        for k, v in kv.items():
            f.write(f"{k}={v}\n")
        for order in passes:
            f.write("pass=" + ",".join(order) + "\n")


def check_outputs(check_dir, dumped, expected):
    """Names of the dumped queries whose output could not be written or
    fails its expectation. `dumped` maps each name to its write error."""
    import duckdb
    con = duckdb.connect()
    bad = []
    for name, error in dumped.items():
        exp = expected.get(name)
        if exp is None or error is not None:
            bad.append(name)
            continue
        rows, digest = canon.fingerprint(
            con.sql(f"SELECT * FROM '{check_dir}/{name}/*.parquet'"))
        if rows != exp["rows"] or digest != exp["sha256"]:
            bad.append(name)
    return bad


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    wl = workloads.WORKLOADS[a.workload]
    try:
        classes = build.classes()
        data = build.data(SF)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(build.HERE, "expected.json")) as f:
        expected = json.load(f)["queries"]

    work = os.path.join(build.WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("wh", "local", "tmp", "jtmp", "check"):
        os.makedirs(os.path.join(work, d))
    common = dict(cores=len(os.sched_getaffinity(0)), data=f"file://{data}",
                  warehouse=f"file://{work}/wh", local=f"{work}/local",
                  tmpRoot=f"file://{work}/tmp")
    before = telemetry()

    setups = []
    for k in range(SETUP_LAUNCHES - 1):
        cfg = os.path.join(work, f"setup{k}.cfg")
        out = os.path.join(work, f"setup{k}.json")
        write_config(cfg, mode="setup", out=out, **common)
        t0 = java(classes, cfg, work, os.path.join(work, f"setup{k}.log"))
        with open(out) as f:
            setups.append(json.load(f)["ready_us"] / 1e6 - t0)

    passes = wl.pass_orders(a.seed, a.seconds)
    cfg = os.path.join(work, "run.cfg")
    rec_path = os.path.join(work, "record.json")
    write_config(cfg, mode="run", out=rec_path, trace=a.trace, check=f"{work}/check",
                 passes=passes, **common)
    t0 = java(classes, cfg, work, os.path.join(work, "run.log"))
    with open(rec_path) as f:
        record = json.load(f)
    setups.append(record["ready_us"] / 1e6 - t0)
    after = telemetry()

    # A query that failed in a pass counts once, as an error; the others
    # were dumped in the last pass and count once more if their output
    # is wrong.
    errors = [s for s in record["samples"] if s["error"]]
    mismatched = check_outputs(f"{work}/check",
                               {c["name"]: c["error"] for c in record["check"]}, expected)
    failed = len(errors) + len(mismatched)
    e2e, extras = metrics.end_to_end(record, setups)
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "sf": SF, "cores": record["cores"], "setups_s": setups,
              "passes": len(passes), **extras,
              "errors": [[s["qid"], s["name"], s["error"]] for s in errors],
              "mismatched": mismatched,
              "telemetry": {"loadavg": [before["loadavg"], after["loadavg"]],
                            "jvms": [before["jvms"], after["jvms"]],
                            "steal": steal_share(before, after)},
              "record": os.path.relpath(rec_path, build.ROOT)}
    if a.trace:
        metrics.attribute(record)
        layer = metrics.per_layer(record, wl.families)
        spans = metrics.spans(record)
        sp_path = os.path.join(work, "spans.json")
        with open(sp_path, "w") as f:
            json.dump(spans, f)
        selfs = metrics.self_times(spans)
        by_name = {}
        for s in spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        detail.update(spans=os.path.relpath(sp_path, build.ROOT),
                      self_s=by_name, traced_e2e=e2e)
        out = {n: {"value": layer[n], "unit": u} for n, u in metrics.per_layer_names()}
    else:
        out = {n: {"value": v, "unit": metrics.E2E_UNITS[n]} for n, v in e2e.items()}
    for d in ("wh", "local", "tmp", "jtmp", "check"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for n, m in out.items():
        print(f"{a.workload} {n} {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} attempted {len(record['samples'])} ops, failed {failed} ops")
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": len(record["samples"]),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
