#!/usr/bin/env python3
"""Regenerate `expected.json`, the oracle-certified expectation of every
benchmark query's output.

For each query in any workload, the program's own oracle SQL
(`SparkEntry.oracleSql`) runs in DuckDB over the generated tables and
its result is fingerprinted (`canon.py`). Run it after changing the
workloads, the generator or the scale factor:

    python3 perfbench/make_expected.py
"""
import json
import os
import tempfile

import build
import canon
import run
import workloads

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    classes, data = build.classes(), build.data(run.SF)
    names = sorted({n for w in workloads.WORKLOADS.values() for n in w.names})
    with tempfile.TemporaryDirectory(dir=build.WORK) as tmp:
        cfg, out = os.path.join(tmp, "oracles.cfg"), os.path.join(tmp, "oracles.json")
        run.write_config(cfg, mode="oracles", out=out, passes=[names])
        run.java(classes, cfg, tmp, os.path.join(tmp, "oracles.log"))
        with open(out) as f:
            oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    expected = {}
    for name in names:
        if oracles.get(name) is None:
            raise SystemExit(f"{name} has no oracle SQL")
        rows, digest = canon.fingerprint(con.sql(oracles[name]))
        expected[name] = {"rows": rows, "sha256": digest}
    with open(os.path.join(build.HERE, "expected.json"), "w") as f:
        json.dump({"sf": run.SF, "queries": expected}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
