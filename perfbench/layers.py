"""Turns a harness record into metrics.

end_to_end(rec)  the user-visible numbers, from an untraced run.
per_layer(rec)   the layer numbers, from a traced run: Spark job/stage
                 counters, Catalyst phases, cache occupancy, self time per
                 layer, uncovered share and tracing overhead; and, apart,
                 the time per call into the workload's own layers.

Attribution is by time. The harness runs one closed-loop client on one
thread, so a Spark job or a Catalyst phase belongs to the innermost
harness span open when it started. A span's self time is its duration
minus the union of its children's intervals; an operation span's self
time is the part of the operation no layer span covers.

Per-operation values are means over the traced operations (the harness
traces every other latency operation, and every cf pipeline pass). A
`<layer>.<call>_s` value is the time spent in that call per operation that
made it.
"""
import statistics

# The printed per-layer metrics, in BENCHMARK.json order, with their units.
# Each applies to every workload: a layer a workload never calls would read
# 0 on every run. So the program's own layers (graft.collab for cf, the
# SparkEntry registry for relational) appear here as self.program_s, and by
# name, per call, in the record's "layer_calls".
PER_LAYER = [
    ("spark.jobs", "count/op"), ("spark.tasks", "count/op"),
    ("spark.job_busy_s", "s/op"), ("spark.driver_gap_s", "s/op"),
    ("spark.shuffle_write_bytes", "B/op"), ("spark.shuffle_read_bytes", "B/op"),
    ("spark.shuffle_records", "count/op"), ("spark.spill_bytes", "B/op"),
    ("spark.input_bytes", "B/op"), ("spark.executor_cpu_s", "s/op"),
    ("spark.executor_run_s", "s/op"),
    ("catalyst.analysis_s", "s/op"), ("catalyst.optimization_s", "s/op"),
    ("catalyst.planning_s", "s/op"), ("catalyst.actions", "count/op"),
    ("cache.storage_bytes", "B"), ("cache.rdds", "count"),
    ("self.harness_s", "s/op"), ("self.program_s", "s/op"),
    ("self.spark_s", "s/op"), ("self.catalyst_s", "s/op"),
    ("setup.session_s", "s"), ("setup.artifacts_s", "s"),
    ("setup.warm_s", "s"), ("setup.inputs_s", "s"),
    ("trace.uncovered_share", "ratio"), ("trace.overhead_share", "ratio"),
    ("trace.spans", "count/op"),
]
# the layer calls each workload makes (spans named <layer>.<call>)
CALLS = {
    "cf_pipeline": ["collab.ingest", "collab.scan", "collab.train",
                    "collab.save", "collab.load", "collab.score",
                    "collab.validate", "collab.report"],
    "relational_mix": ["registry.build", "registry.action"],
}
LAYERS = ["collab", "registry"]
# Spark's listener events carry whole milliseconds; a job or phase may
# read up to 1 ms earlier than the span it started in
SLACK_MS = 1.0
# the operation kind whose latency the end-to-end metrics report
LATENCY_KIND = {"cf_pipeline": "score", "relational_mix": "query"}


def union(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def clip(iv, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    k = (len(xs) - 1) * q
    f = int(k)
    return xs[f] if f + 1 >= len(xs) else xs[f] + (xs[f + 1] - xs[f]) * (k - f)


def ops_of(rec):
    keys = ["id", "kind", "name", "t0", "t1", "ok", "traced", "units"]
    return [dict(zip(keys, o)) for o in rec["ops"]]


def latency_sample(rec, traced=False):
    kind = LATENCY_KIND[rec["workload"]]
    return [(o["t1"] - o["t0"]) / 1e3 for o in ops_of(rec)
            if o["kind"] == kind and o["ok"] and o["traced"] == traced]


def end_to_end(rec):
    ops = [o for o in ops_of(rec) if o["ok"]]
    s = rec["setup"]
    lat = latency_sample(rec)
    if rec["workload"] == "cf_pipeline":
        passes = [o for o in ops if o["kind"] == "pass"]
        work = sum(o["units"] for o in passes)
        wall = sum(o["t1"] - o["t0"] for o in passes) / 1e3
        rate = work / wall
    else:
        rate = statistics.median(pass_rates(rec))
    return {
        "setup_s": (s["session_s"] + s["artifacts_s"] + s["warm_s"], "s"),
        "throughput_per_s": (rate, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB"),
    }


def pass_rates(rec):
    """Queries per second of each relational pass: the harness runs whole
    passes, each of every row once, one after another."""
    done = [o for o in ops_of(rec) if o["kind"] == "query"]
    k = len({o["name"] for o in done})
    rates = []
    for i in range(0, len(done) - k + 1, k):
        p = done[i:i + k]
        rates.append(sum(o["units"] for o in p if o["ok"])
                     / ((p[-1]["t1"] - p[0]["t0"]) / 1e3))
    return rates


def tail(rec):
    """Sample count and p90 of the latency operations (p90 only when the
    run has >= 100 samples, so at least ten lie beyond it)."""
    lat = latency_sample(rec)
    return {"latency_samples": len(lat),
            "latency_p90_s": percentile(lat, 0.9) if len(lat) >= 100 else None}


def per_layer(rec, facts):
    ops = [o for o in ops_of(rec) if o["traced"] and o["ok"]]
    n = max(1, len(ops))
    spans = {s[0]: {"id": s[0], "name": s[1], "parent": s[2], "t0": s[3],
                    "t1": s[4], "kids": []} for s in rec["spans"]}
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["kids"].append((s["t0"], s["t1"]))
    roots = [s for s in spans.values() if s["name"].startswith("op.")]
    in_ops = [s for s in spans.values() if s["name"].startswith("op.")
              or _root(spans, s)["name"].startswith("op.")]

    def innermost(t):
        best = None
        for s in in_ops:
            if s["t0"] - SLACK_MS <= t <= s["t1"] and (
                    best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    jobs = [dict(zip(["id", "t0", "t1", "stages", "tasks", "sr", "sw", "srec",
                      "spill", "input", "cpu", "run"], j)) for j in rec["jobs"]]
    jobs = [j for j in jobs if j["t1"] >= j["t0"]]
    phases = [{"name": p[0], "t0": p[1], "t1": p[2]} for p in rec["phases"]]
    job_by_span, phase_by_span, job_by_op = {}, {}, {}
    op_phases = []
    for j in jobs:
        s = innermost(j["t0"])
        if s is not None:
            job_by_span.setdefault(s["id"], []).append(j)
            job_by_op.setdefault(_root(spans, s)["id"], []).append(j)
    for p in phases:
        s = innermost(p["t0"])
        if s is not None:
            phase_by_span.setdefault(s["id"], []).append(p)
            op_phases.append(p)

    m = {k: 0.0 for k, _ in PER_LAYER}
    op_jobs = []
    for o in roots:
        js = job_by_op.get(o["id"], [])
        op_jobs += js
        busy = union(clip([(j["t0"], j["t1"]) for j in js], o["t0"], o["t1"])) / 1e3
        m["spark.job_busy_s"] += busy
        m["spark.driver_gap_s"] += (o["t1"] - o["t0"]) / 1e3 - busy
    for key, field in [("spark.tasks", "tasks"), ("spark.shuffle_read_bytes", "sr"),
                       ("spark.shuffle_write_bytes", "sw"),
                       ("spark.shuffle_records", "srec"),
                       ("spark.spill_bytes", "spill"), ("spark.input_bytes", "input"),
                       ("spark.executor_cpu_s", "cpu"),
                       ("spark.executor_run_s", "run")]:
        m[key] = sum(j[field] for j in op_jobs)
    m["spark.jobs"] = len(op_jobs)
    for p in op_phases:
        key = f"catalyst.{p['name']}_s"
        if key in m:
            m[key] += (p["t1"] - p["t0"]) / 1e3
        if p["name"] == "planning":  # one planning phase per action
            m["catalyst.actions"] += 1

    # self time per layer
    self_t = {k: 0.0 for k in ["harness", "spark", "catalyst"] + LAYERS}
    for s in in_ops:
        j_iv = [(j["t0"], j["t1"]) for j in job_by_span.get(s["id"], [])]
        p_iv = [(p["t0"], p["t1"]) for p in phase_by_span.get(s["id"], [])]
        lo, hi = s["t0"], s["t1"]
        covered = union(clip(s["kids"] + j_iv + p_iv, lo, hi))
        layer = s["name"].split(".")[0]
        layer = "harness" if layer == "op" else layer
        if layer in self_t:
            self_t[layer] += (hi - lo - covered) / 1e3
        self_t["spark"] += union(clip(j_iv, lo, hi)) / 1e3
        self_t["catalyst"] += (union(clip(j_iv + p_iv, lo, hi))
                               - union(clip(j_iv, lo, hi))) / 1e3
    for k in ["harness", "spark", "catalyst"]:
        m[f"self.{k}_s"] = self_t[k]
    m["self.program_s"] = sum(self_t[k] for k in LAYERS)
    op_wall = sum(o["t1"] - o["t0"] for o in roots) / 1e3
    m["trace.uncovered_share"] = self_t["harness"] / op_wall if op_wall else 0.0
    m["trace.spans"] = len(in_ops) + len(op_jobs)

    for key in m:
        if key.startswith(("spark.", "catalyst.", "self.")) or key == "trace.spans":
            m[key] /= n

    # time per layer call, per operation that made the call
    calls = {}
    for call in CALLS[rec["workload"]]:
        per_op = {}
        for s in in_ops:
            if s["name"] == call:
                r = _root(spans, s)["id"]
                per_op[r] = per_op.get(r, 0.0) + (s["t1"] - s["t0"]) / 1e3
        calls[f"{call}_s"] = statistics.mean(per_op.values()) if per_op else 0.0
    for k in LAYERS:
        if self_t[k]:
            calls[f"self.{k}_s"] = self_t[k] / n

    cache = rec.get("cache", [])
    m["cache.storage_bytes"] = max((c[1] for c in cache), default=0)
    m["cache.rdds"] = max((c[2] for c in cache), default=0)

    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1e3)
    for key, row in [("plans.asof_native_s", "q_asof_native"),
                     ("plans.range_join_native_s", "q_range_join_native")]:
        if row in by_name:
            calls[key] = statistics.mean(by_name[row])
    if rec["workload"] == "cf_pipeline":
        calls["collab.store_bytes_per_csv_byte"] = (
            rec["outputs"]["store_bytes"] / facts["csv_bytes"])
    s = rec["setup"]
    m["setup.session_s"] = s["session_s"]
    m["setup.artifacts_s"] = s["artifacts_s"]
    m["setup.warm_s"] = s["warm_s"]
    m["setup.inputs_s"] = facts.get("inputs_s", 0.0)

    # traced against untraced latency, compared within each operation name
    # (relational passes give every query both kinds, in varying numbers)
    kind = LATENCY_KIND[rec["workload"]]
    pairs = {}
    for o in ops_of(rec):
        if o["kind"] == kind and o["ok"]:
            pairs.setdefault(o["name"], ([], []))[o["traced"]].append(o["t1"] - o["t0"])
    ratios = [statistics.median(t) / statistics.median(u)
              for u, t in pairs.values() if t and u]
    if ratios:
        m["trace.overhead_share"] = statistics.median(ratios) - 1
    return {k: (m[k], u) for k, u in PER_LAYER}, calls


def _root(spans, s):
    while s["parent"] in spans:
        s = spans[s["parent"]]
    return s
