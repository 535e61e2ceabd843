"""Unit tests of the benchmark's metric code.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def span(sid, start, end, parent=None):
    return {"id": sid, "start": start, "end": end, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_leaf_keeps_its_duration(self):
        self.assertEqual(metrics.self_times([span("a", 0, 5)]), {"a": 5})

    def test_nested_children_count_once(self):
        # c is inside b, b inside a: a loses only b's interval.
        st = metrics.self_times([span("a", 0, 10), span("b", 2, 6, "a"),
                                 span("c", 3, 4, "b")])
        self.assertEqual(st, {"a": 6, "b": 3, "c": 1})

    def test_overlapping_children_are_unioned(self):
        # Two jobs overlap on [3, 5]; the parent loses [2, 7] once.
        st = metrics.self_times([span("q", 0, 10), span("j1", 2, 5, "q"),
                                 span("j2", 3, 7, "q")])
        self.assertEqual(st["q"], 5)

    def test_children_are_clipped_to_the_parent(self):
        st = metrics.self_times([span("q", 0, 10), span("j", 8, 14, "q"),
                                 span("k", -3, 1, "q")])
        self.assertEqual(st["q"], 7)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 1), (5, 6), (0.5, 2)]), 3)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([]), 0)


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, pct in ((20, 50), (40, 75), (100, 90), (1000, 99), (30, 66)):
            value, p, beyond = metrics.tail(range(1, n + 1))
            self.assertEqual(p, pct, n)
            self.assertGreaterEqual(beyond, 10)
            self.assertEqual(beyond, n - value)     # values are ranks here
            # One percentile higher leaves fewer than ten beyond.
            if p < 99:
                k = -(-(p + 1) * n // 100)
                self.assertLess(n - k, 10)

    def test_too_few_samples_fall_back_to_the_median(self):
        value, p, beyond = metrics.tail([5.0, 1.0, 3.0, 2.0])
        self.assertEqual((value, p, beyond), (2.0, 50, 2))

    def test_tail_is_never_below_the_median(self):
        for n in range(1, 60):
            xs = [float(i) for i in range(n)]
            self.assertGreaterEqual(metrics.tail(xs)[0],
                                    metrics.nearest_rank(xs, 50))


def sample(p, i, start, end, build_end=None):
    return {"pass": p, "i": i, "qid": f"p{p}.{i}", "name": f"q{i}",
            "start_us": start * 1e6, "end_us": end * 1e6,
            "build_end_us": (build_end if build_end is not None else end) * 1e6,
            "error": None}


class Passes(unittest.TestCase):
    record = {"samples": [sample(0, 0, 0, 8), sample(0, 1, 9, 10),
                          sample(1, 0, 11, 12), sample(1, 1, 13, 15),
                          sample(2, 0, 16, 16.5), sample(2, 1, 17, 18),
                          sample(3, 0, 19, 21), sample(3, 1, 22, 23)],
              "vm_hwm_kb": 2048}

    def test_cold_is_pass_zero_and_warm_the_rest(self):
        cold, warm = metrics.split_passes(self.record["samples"])
        self.assertEqual([s["qid"] for s in cold], ["p0.0", "p0.1"])
        self.assertEqual(sorted(warm), [1, 2, 3])

    def test_end_to_end(self):
        e2e, extras = metrics.end_to_end(self.record, [2.0, 4.0, 3.0])
        self.assertEqual(e2e["setup_s"], 3.0)
        self.assertEqual(e2e["cold_s"], 9.0)          # 8 + 1
        self.assertEqual(e2e["warm_s"], 3.0)          # passes 3, 1.5, 3
        self.assertEqual(e2e["query_p50_s"], 1.0)     # 6 warm samples
        self.assertEqual(e2e["peak_rss_mb"], 2.0)
        self.assertEqual(extras["warm_samples"], 6)
        self.assertEqual(extras["warm_passes"], 3)


class Traced(unittest.TestCase):
    """A two-query traced record: q0 builds with one job, writes with a
    job from a thread without the query's property; q1 has a stage whose
    job the listener never reported."""

    def record(self):
        stage = {"tasks": 2, "wait_ms": 5, "run_ms": 300, "cpu_ns": 2e8, "gc_ms": 0,
                 "task_failures": 0, "shuffle_write_b": 0, "shuffle_read_b": 0,
                 "fetch_wait_ms": 0, "spill_b": 0, "input_b": 0, "input_rows": 10,
                 "output_b": 100, "output_rows": 4}
        probes = {"codegen_ns": 0, "codegen_classes": 0, "persistent_rdds": 0,
                  "cached_mb": 0.0, "gc_ms": 0, "heap_peak_mb": 1.0}
        return {
            "jvm_start_us": 0, "ready_us": 1e6, "cores": 2,
            "samples": [dict(sample(0, 0, 10, 12, 11), **probes),
                        dict(sample(1, 0, 13, 14, 13.5), **probes)],
            "jobs": [{"id": 0, "qid": "p0.0", "start_ms": 10100, "end_ms": 10600},
                     {"id": 1, "qid": None, "start_ms": 11200, "end_ms": 11800}],
            "stages": [dict(stage, id=0, attempt=0, job=0, qid="p0.0",
                            submit_ms=10100, end_ms=10600),
                       dict(stage, id=1, attempt=0, job=1, qid=None,
                            submit_ms=11200, end_ms=11800),
                       dict(stage, id=2, attempt=0, job=7, qid="p1.0",
                            submit_ms=13100, end_ms=13200)],
            "executions": [{"phases": {"analysis": [11100, 11100],
                                       "optimization": [11100, 11150],
                                       "planning": [11150, 11160]},
                            "rows": 4, "func": "overwrite", "failed": False}],
        }

    def test_spans_hierarchy(self):
        r = self.record()
        metrics.attribute(r)
        sp = {s["id"]: s for s in metrics.spans(r)}
        self.assertEqual(sp["j0"]["parent"], "p0.0/build")
        self.assertEqual(sp["j1"]["parent"], "p0.0/write")     # placed by time
        self.assertEqual(sp["s1.0"]["parent"], "j1")
        self.assertEqual(sp["s2.0"]["parent"], "p1.0/build")   # job unknown
        self.assertEqual(sp["x0.optimization"]["parent"], "p0.0/write")
        self.assertEqual({s["trace"] for s in sp.values() if s["parent"] == "p0.0/write"},
                         {"p0.0"})
        parents = {s["parent"] for s in sp.values()} - {None}
        self.assertLessEqual(parents, set(sp))

    def test_per_layer(self):
        r = self.record()
        metrics.attribute(r)
        m = metrics.per_layer(r, {"q0": "rdf"})
        self.assertEqual(m["scheduler.jobs.cold"], 2)
        self.assertEqual(m["operators.build_jobs.cold"], 1)
        self.assertAlmostEqual(m["operators.build_s.cold"], 1.0)
        self.assertAlmostEqual(m["rdf.build_s.cold"], 1.0)
        self.assertAlmostEqual(m["scheduler.driver_gap_s.cold"], 2.0 - 1.1)
        self.assertAlmostEqual(m["executor.busy_ratio.cold"], 0.6 / (2 * 1.1))
        self.assertEqual(m["sink.rows.cold"], 4)
        self.assertEqual(m["catalyst.executions.cold"], 1)
        self.assertAlmostEqual(m["catalyst.optimization_s.cold"], 0.05)
        self.assertEqual(m["scheduler.stages.warm"], 1)


class Seeds(unittest.TestCase):
    def test_orders_repeat_per_seed(self):
        for wl in workloads.WORKLOADS.values():
            self.assertEqual(wl.pass_orders(7, 20), wl.pass_orders(7, 20))

    def test_cold_pass_keeps_the_listed_order(self):
        for wl in workloads.WORKLOADS.values():
            for seed in range(5):
                self.assertEqual(wl.pass_orders(seed, 20)[0], wl.names)

    def test_every_pass_is_a_permutation(self):
        for wl in workloads.WORKLOADS.values():
            for order in wl.pass_orders(3, 20):
                self.assertEqual(sorted(order), sorted(wl.names))

    def test_seeds_differ(self):
        wl = workloads.WORKLOADS["rdf_etl"]
        orders = {tuple(map(tuple, wl.pass_orders(s, 20))) for s in range(20)}
        self.assertGreater(len(orders), 1)

    def test_pass_count_depends_on_seconds_only(self):
        wl = workloads.WORKLOADS["fixpoint"]
        self.assertEqual(len(wl.pass_orders(1, 20)), len(wl.pass_orders(2, 20)))
        self.assertGreaterEqual(len(wl.pass_orders(1, 1)), 1 + workloads.MIN_WARM)
        self.assertGreater(len(wl.pass_orders(1, 200)), len(wl.pass_orders(1, 20)))


class OutputCheck(unittest.TestCase):
    def test_mismatches_and_write_errors_are_reported(self):
        import tempfile
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(build.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build.WORK) as tmp:
            os.makedirs(f"{tmp}/qa")
            pq.write_table(pa.table({"b": ["x", None], "a": [2, 1]}), f"{tmp}/qa/part.parquet")
            # Same rows, other row and column order: same fingerprint.
            con = duckdb.connect()
            rows, digest = run.canon.fingerprint(
                con.sql("SELECT * FROM (VALUES (1, NULL), (2, 'x')) t(a, b)"))
            good = {"qa": {"rows": rows, "sha256": digest}}
            self.assertEqual(run.check_outputs(tmp, {"qa": None}, good), [])
            bad = {"qa": {"rows": rows, "sha256": "0" * 64}}
            self.assertEqual(run.check_outputs(tmp, {"qa": None}, bad), ["qa"])
            self.assertEqual(run.check_outputs(tmp, {"qa": "IOException"}, good), ["qa"])
            self.assertEqual(run.check_outputs(tmp, {"qa": None}, {}), ["qa"])


if __name__ == "__main__":
    unittest.main()
