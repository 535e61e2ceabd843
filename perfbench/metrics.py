"""Metrics from the harness record (see harness/Harness.scala).

All times in the record are epoch microseconds (queries) or epoch
milliseconds (listener and planning-tracker events); everything below is
converted to seconds on one clock.

A pass's wall time is the sum of its queries' wall times: the untimed
hygiene between queries is excluded, as in `graft.Bench`.
"""
import math
import statistics

US = 1e6
MB = 1024.0 * 1024.0
PHASES = ("analysis", "optimization", "planning")


# -- generic helpers ------------------------------------------------------

def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.

    Children may nest, overlap each other or run past the parent's end;
    only the covered part of the parent's own interval is subtracted."""
    kids = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def nearest_rank(xs, p):
    """The p-th percentile of sorted xs by the nearest-rank rule."""
    return xs[max(1, math.ceil(p * len(xs) / 100)) - 1]


def tail(values, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by the nearest-rank rule: (value, percentile, samples beyond).
    With too few samples for any percentile from 50 up, the median is
    returned with the samples that do lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 49, -1):
        k = math.ceil(p * n / 100)
        if n - k >= beyond:
            return xs[k - 1], p, n - k
    k = max(1, math.ceil(n / 2))
    return xs[k - 1], 50, n - k


def split_passes(samples):
    """(cold samples, {warm pass: samples}): pass 0 is the cold pass."""
    cold = [s for s in samples if s["pass"] == 0]
    warm = {}
    for s in samples:
        if s["pass"] > 0:
            warm.setdefault(s["pass"], []).append(s)
    return cold, warm


def wall(s):
    return (s["end_us"] - s["start_us"]) / US


def pass_time(samples):
    return sum(wall(s) for s in samples)


# -- end to end ------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "query_p50_s": "s",
             "query_tail_s": "s", "peak_rss_mb": "MB"}


def end_to_end(record, setups):
    cold, warm = split_passes(record["samples"])
    warm_samples = [wall(s) for ps in warm.values() for s in ps]
    t, p, beyond = tail(warm_samples)
    return {
        "setup_s": statistics.median(setups),
        "cold_s": pass_time(cold),
        "warm_s": statistics.median(pass_time(ps) for ps in warm.values()),
        "query_p50_s": nearest_rank(sorted(warm_samples), 50),
        "query_tail_s": t,
        "peak_rss_mb": record["vm_hwm_kb"] / 1024.0,
    }, {"query_tail_pct": p, "query_tail_beyond": beyond,
        "warm_samples": len(warm_samples), "warm_passes": len(warm)}


# -- traced run: attribution and spans -------------------------------------

def _query_of(samples, t_us):
    """The sample whose [start, end] holds t_us (queries never overlap)."""
    for s in samples:
        if s["start_us"] <= t_us <= s["end_us"]:
            return s
    return None


def attribute(record):
    """Sets `qid` (the query execution an event belongs to, or None) on
    every planning execution, job and stage of a traced record, and `t_us`
    (its start) on executions. Jobs carry the qid the harness set as a
    local property; jobs from threads without it, and planning
    executions, are placed by their start time; stages follow their job."""
    samples = record["samples"]
    qids = {s["qid"] for s in samples}
    for ex in record["executions"]:
        ex["t_us"] = min(v[0] for v in ex["phases"].values()) * 1000 \
            if ex["phases"] else None
        s = _query_of(samples, ex["t_us"]) if ex["t_us"] is not None else None
        ex["qid"] = s and s["qid"]
    for j in record["jobs"]:
        if j["qid"] not in qids:
            s = _query_of(samples, j["start_ms"] * 1000)
            j["qid"] = s and s["qid"]
    job_qid = {j["id"]: j["qid"] for j in record["jobs"]}
    for st in record["stages"]:
        st["qid"] = job_qid.get(st["job"], st["qid"] if st["qid"] in qids else None)


def _step(s, t_us):
    """The build or write span of sample s that holds t_us."""
    return s["qid"] + ("/build" if t_us < s["build_end_us"] else "/write")


def spans(record):
    """Span list of an attributed record: run > pass > query > build |
    write > catalyst.* and job > stage. `trace` is the id shared by all
    spans of one query execution (a pass's own id for run and pass)."""
    out = []
    samples = record["samples"]
    by_qid = {s["qid"]: s for s in samples}

    def add(sid, name, start, end, parent, trace):
        out.append({"id": sid, "name": name, "start": start / US,
                    "end": end / US, "parent": parent, "trace": trace})

    add("run", "run", samples[0]["start_us"], samples[-1]["end_us"], None, "run")
    passes = {}
    for s in samples:
        passes.setdefault(s["pass"], []).append(s)
    for p, ps in sorted(passes.items()):
        add(f"p{p}", "pass", ps[0]["start_us"], ps[-1]["end_us"], "run", f"p{p}")
    for s in samples:
        q = s["qid"]
        add(q, "query", s["start_us"], s["end_us"], f"p{s['pass']}", q)
        add(q + "/build", "build", s["start_us"], s["build_end_us"], q, q)
        add(q + "/write", "write", s["build_end_us"], s["end_us"], q, q)
    for i, ex in enumerate(record["executions"]):
        if ex["qid"] is None:
            continue
        s = by_qid[ex["qid"]]
        for ph in PHASES:
            if ph in ex["phases"]:
                a, b = ex["phases"][ph]
                add(f"x{i}.{ph}", f"catalyst.{ph}", a * 1000, b * 1000,
                    _step(s, ex["t_us"]), s["qid"])
    for j in record["jobs"]:
        if j["qid"] is None:
            continue
        add(f"j{j['id']}", "job", j["start_ms"] * 1000, j["end_ms"] * 1000,
            _step(by_qid[j["qid"]], j["start_ms"] * 1000), j["qid"])
    jobs = {f"j{j['id']}" for j in record["jobs"] if j["qid"] is not None}
    for st in record["stages"]:
        if st["qid"] is None:
            continue
        parent = f"j{st['job']}"
        if parent not in jobs:
            parent = _step(by_qid[st["qid"]], st["submit_ms"] * 1000)
        add(f"s{st['id']}.{st['attempt']}", "stage", st["submit_ms"] * 1000,
            st["end_ms"] * 1000, parent, st["qid"])
    return out


# -- traced run: per-layer metrics -----------------------------------------

LAYER_METRICS = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("rdf.build_s", "s"), ("cube.build_s", "s"), ("catalog.build_s", "s"),
    ("scalar.build_s", "s"), ("llm.build_s", "s"), ("relational.build_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.executions", "count"),
    ("codegen.compile_s", "s"), ("codegen.classes", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_gap_s", "s"),
    ("scheduler.task_wait_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_ratio", "ratio"), ("executor.task_failures", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_mb", "MB"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"),
    ("store.bytes_written", "bytes"), ("store.rows_written", "count"),
    ("checkpoint.rdds", "count"), ("checkpoint.cached_mb", "MB"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("sink.write_s", "s"), ("sink.rows", "count"),
]
RUN_METRICS = [("session.build_s", "s"), ("trace.warm_s", "s")]


def per_layer_names():
    """Every per-layer metric name with its unit, in output order."""
    names = list(RUN_METRICS)
    for phase in ("cold", "warm"):
        names += [(f"{n}.{phase}", u) for n, u in LAYER_METRICS]
    return names


def _pass_layers(samples, record, families):
    """Per-layer totals for the samples of one pass."""
    m = {n: 0.0 for n, _ in LAYER_METRICS}
    by_qid = {s["qid"]: s for s in samples}
    for s in samples:
        b = (s["build_end_us"] - s["start_us"]) / US
        m["operators.build_s"] += b
        m[f"{families[s['name']]}.build_s"] += b
        m["sink.write_s"] += (s["end_us"] - s["build_end_us"]) / US
        m["codegen.compile_s"] += s["codegen_ns"] / 1e9
        m["codegen.classes"] += s["codegen_classes"]
        m["checkpoint.rdds"] += s["persistent_rdds"]
        m["checkpoint.cached_mb"] = max(m["checkpoint.cached_mb"], s["cached_mb"])
        m["jvm.gc_s"] += s["gc_ms"] / 1e3
        m["jvm.heap_peak_mb"] = max(m["jvm.heap_peak_mb"], s["heap_peak_mb"])
    jobs = [j for j in record["jobs"] if j["qid"] in by_qid]
    m["scheduler.jobs"] = len(jobs)
    job_cover = 0.0
    for s in samples:
        mine = [j for j in jobs if j["qid"] == s["qid"]]
        covered = union_length([(j["start_ms"] * 1000, j["end_ms"] * 1000)
                                for j in mine], s["start_us"], s["end_us"]) / US
        job_cover += covered
        m["scheduler.driver_gap_s"] += wall(s) - covered
        m["operators.build_jobs"] += sum(
            j["start_ms"] * 1000 < s["build_end_us"] for j in mine)
    for st in record["stages"]:
        if st["qid"] not in by_qid:
            continue
        m["scheduler.stages"] += 1
        m["scheduler.tasks"] += st["tasks"]
        m["scheduler.task_wait_s"] += st["wait_ms"] / 1e3
        m["executor.run_s"] += st["run_ms"] / 1e3
        m["executor.cpu_s"] += st["cpu_ns"] / 1e9
        m["executor.gc_s"] += st["gc_ms"] / 1e3
        m["executor.task_failures"] += st["task_failures"]
        m["shuffle.write_mb"] += st["shuffle_write_b"] / MB
        m["shuffle.read_mb"] += st["shuffle_read_b"] / MB
        m["shuffle.fetch_wait_s"] += st["fetch_wait_ms"] / 1e3
        m["shuffle.spill_mb"] += st["spill_b"] / MB
        m["scan.input_mb"] += st["input_b"] / MB
        m["scan.input_rows"] += st["input_rows"]
        m["store.bytes_written"] += st["output_b"]
        m["store.rows_written"] += st["output_rows"]
    if job_cover > 0:
        m["executor.busy_ratio"] = m["executor.run_s"] / (record["cores"] * job_cover)
    for ex in record["executions"]:
        s = by_qid.get(ex["qid"])
        if s is None:
            continue
        m["catalyst.executions"] += 1
        for ph in PHASES:
            if ph in ex["phases"]:
                a, b = ex["phases"][ph]
                m[f"catalyst.{ph}_s"] += (b - a) / 1e3
        if ex["t_us"] >= s["build_end_us"] and ex["rows"] >= 0:
            m["sink.rows"] += ex["rows"]
    return m


def per_layer(record, families):
    """Per-layer metrics of an attributed traced record: the cold pass's
    totals and, for each warm-pass metric, the median of the warm passes'
    totals."""
    cold, warm = split_passes(record["samples"])
    out = {"session.build_s": (record["ready_us"] - record["jvm_start_us"]) / US,
           "trace.warm_s": statistics.median(pass_time(ps) for ps in warm.values())}
    c = _pass_layers(cold, record, families)
    ws = [_pass_layers(ps, record, families) for ps in warm.values()]
    for n, _ in LAYER_METRICS:
        out[f"{n}.cold"] = c[n]
        out[f"{n}.warm"] = statistics.median(w[n] for w in ws)
    return out
