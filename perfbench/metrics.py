"""Metric arithmetic of the benchmark: percentiles, span self times, and the
end-to-end and per-layer metrics of one run's result file."""
import math
import statistics

# Percentiles tried for a tail figure, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10
ITERATIVE = {"q62_connected_dups", "q82_component_stats", "q155_pagerank",
             "q231_bfs_distances", "q232_kcore_peel"}
FLOOR_MODULES = ("queries", "operators", "llm", "streaming", "sources", "functions")
PIPELINE_STEPS = ("selftest", "preprocess", "fit", "save_load", "eval", "infer")
MB = 1e6
# layer metrics of the knn-serve workload (run by hand; see README.md)
KNN_LAYER = {"llm.search_s": "s", "llm.probes": "count", "llm.probe_ids": "count",
             "llm.buckets_read_frac": "ratio", "llm.recall_at_10": "ratio",
             "streaming.ingest_s": "s", "streaming.changelog_s": "s",
             "streaming.write_mb": "MB", "streaming.buckets_rewritten_frac": "ratio"}


def tail(values):
    """(percentile, value) for the highest ladder percentile that leaves at
    least MIN_BEYOND samples strictly above its nearest rank, or None when
    there are too few samples for any."""
    vals = sorted(values)
    n = len(vals)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= MIN_BEYOND:
            return p, vals[k - 1]
    return None


def union_length(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def job_spans(op, clock_base):
    """The op's Spark jobs as (start_ns, end_ns) on the span timeline."""
    nano0, epoch0 = clock_base
    out = []
    for j in op.get("jobs", []):
        a = nano0 + (j["submit_ms"] - epoch0) * 1_000_000
        b = nano0 + (j["end_ms"] - epoch0) * 1_000_000
        out.append((a, max(a, b)))
    return out


def self_times(op, layers, jobs):
    """Per-operation breakdown in ns: each layer span's self time (its span
    minus the part its Spark jobs cover), the part Spark jobs cover inside
    layer spans (`spark.job`), and `unattributed` (operation wall minus its
    layer spans). The parts add up to the operation wall when layer spans
    do not overlap, which holds for one driver thread."""
    lo, hi = op["start_ns"], op["end_ns"]
    out = {}
    job_total = 0
    for s in layers:
        a, b = max(s["start_ns"], lo), min(s["end_ns"], hi)
        if b <= a:
            continue
        in_jobs = union_length(jobs, a, b)
        out[s["name"]] = out.get(s["name"], 0) + (b - a) - in_jobs
        job_total += in_jobs
    out["spark.job"] = job_total
    out["unattributed"] = (hi - lo) - union_length(
        [(s["start_ns"], s["end_ns"]) for s in layers], lo, hi)
    return out


def span_tree(result):
    """All spans of a traced run in three levels (operation, layer call,
    Spark job), and the per-operation self-time report."""
    base = result["clock_base"]
    by_op = {}
    for s in result["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    spans, report = [], []
    for op in result["ops"]:
        spans.append({"id": op["span"], "parent": None, "op": op["id"], "level": "operation",
                      "name": f'{op["kind"]}:{op["name"]}',
                      "start_ns": op["start_ns"], "end_ns": op["end_ns"]})
        layers = by_op.get(op["id"], [])
        for s in layers:
            spans.append(dict(s, level="layer"))
        jobs = job_spans(op, base)
        for j, (a, b) in zip(op.get("jobs", []), jobs):
            parent = next((s["id"] for s in layers
                           if s["start_ns"] <= (a + b) // 2 <= s["end_ns"]), op["span"])
            spans.append({"id": f'job-{j["id"]}', "parent": parent, "op": op["id"],
                          "level": "job", "name": f'spark.job.{j["id"]}',
                          "start_ns": a, "end_ns": b})
        parts = self_times(op, layers, jobs)
        report.append({"op": op["id"], "name": op["name"],
                       "wall_ms": (op["end_ns"] - op["start_ns"]) / 1e6,
                       "self_ms": {k: v / 1e6 for k, v in parts.items()}})
    return spans, report


def _walls_ms(ops, kinds=None):
    return [(o["end_ns"] - o["start_ns"]) / 1e6 for o in ops
            if kinds is None or o["kind"] in kinds]


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def setup_s(result):
    """JVM start to the first timed operation: session start, the median of
    the repeated input generations, and the one-time warm-up."""
    return result["boot_s"] + statistics.median(result["generate_reps_s"]) + result["warm_s"]


def ops_wall_s(result):
    """Summed walls of the timed operations. The work between operations
    (cache and RDD isolation, output checks, listener drains) is not in it."""
    return sum(o["end_ns"] - o["start_ns"] for o in result["ops"]) / 1e9


def end_to_end(result):
    """The gated metrics every workload reports (name -> (value, unit))."""
    done = [o for o in result["ops"] if o["ok"]]
    return {
        "setup_s": (setup_s(result), "s"),
        "requests_per_s": (len(done) / ops_wall_s(result), "1/s"),
    }


def detail(result, failed_frac):
    """Every end-to-end figure of the workload, by the names of the
    benchmark's documentation (ungated; printed beside the gated line)."""
    wl, ops, facts = result["workload"], result["ops"], result["facts"]
    done = [o for o in ops if o["ok"]]
    wall = ops_wall_s(result)
    d = {"setup_s": setup_s(result),
         "failed_frac": failed_frac,
         "pinned_peak_mb": result["pinned_peak_b"] / MB,
         "ops": len(ops)}

    def with_tail(prefix, walls):
        d[f"{prefix}_p50_ms"] = _median(walls)
        t = tail(walls)
        d[f"{prefix}_tail_ms"] = t[1] if t else None
        d[f"{prefix}_tail_pct"] = t[0] if t else None

    if wl == "floor":
        d["queries_per_s"] = len(done) / wall
        with_tail("query", _walls_ms(done))
    elif wl == "knn-serve":
        d["requests_per_s"] = len(done) / wall
        with_tail("search", _walls_ms(done, {"search"}))
        d["write_p50_ms"] = _median(_walls_ms(done, {"write"}))
        d["stored_mb"] = facts["stored_b"] / MB
    elif wl == "prep":
        c = [o["counters"] for o in done]
        d["records_per_s"] = sum(x["records"] for x in c) / sum(x["chain_s"] for x in c) if c else None
        d["docs_per_s"] = sum(x["docs"] for x in c) / sum(x["prepare_s"] for x in c) if c else None
        d["stored_mb"] = facts["stored_b"] / MB
    return d


def per_layer(result, names):
    """Per-layer metrics of a traced run; every name in `names` is reported,
    0 where the workload does not exercise the layer."""
    ops, facts = result["ops"], result["facts"]
    base = result["clock_base"]
    m = {n: 0.0 for n in names}
    if not ops:
        return m
    n_ops = len(ops)
    eng = [o["engine"] for o in ops]
    wall_s = ops_wall_s(result)

    def per_op(key, scale=1.0):
        return sum(e[key] for e in eng) * scale / n_ops

    m["spark.plan_ms"] = per_op("plan_ns", 1e-6)
    m["spark.codegen_ms"] = per_op("codegen_ns", 1e-6)
    m["spark.jobs"] = sum(len(o["jobs"]) for o in ops) / n_ops
    m["spark.stages"] = sum(j["stages"] for o in ops for j in o["jobs"]) / n_ops
    m["spark.tasks"] = per_op("tasks")
    it = [o for o in ops if o["name"] in ITERATIVE]
    m["spark.jobs_iterative"] = sum(len(o["jobs"]) for o in it) / len(it) if it else 0.0
    m["spark.sched_ms"] = sum(j["first_task_ms"] - j["submit_ms"] for o in ops for j in o["jobs"]
                              if j["first_task_ms"] >= 0) / n_ops
    m["spark.driver_ms"] = sum(
        (o["end_ns"] - o["start_ns"]) - union_length(job_spans(o, base), o["start_ns"], o["end_ns"])
        for o in ops) / 1e6 / n_ops
    m["spark.exec_cpu_s"] = per_op("cpu_ns", 1e-9)
    m["spark.exec_run_s"] = per_op("run_ms", 1e-3)
    m["spark.gc_s"] = per_op("gc_ms", 1e-3)
    m["spark.slot_util"] = sum(e["run_ms"] for e in eng) / 1e3 / (wall_s * 4) if wall_s else 0.0
    m["spark.shuffle_write_mb"] = per_op("shuffle_write_b", 1 / MB)
    m["spark.shuffle_read_mb"] = per_op("shuffle_read_b", 1 / MB)
    m["spark.fetch_wait_s"] = per_op("fetch_wait_ms", 1e-3)
    m["spark.spill_mb"] = per_op("spill_b", 1 / MB)
    m["spark.input_mb"] = per_op("input_b", 1 / MB)
    m["spark.output_mb"] = per_op("output_b", 1 / MB)

    spans = {}
    for s in result["spans"]:
        spans.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e9)

    def mean_span(name):
        xs = spans.get(name, [])
        return sum(xs) / len(xs) if xs else 0.0

    wl = result["workload"]
    if wl == "floor":
        for mod in FLOOR_MODULES:
            m[f"{mod}.floor_s"] = sum((o["end_ns"] - o["start_ns"]) / 1e9
                                      for o in ops if o["module"] == mod)
    elif wl == "knn-serve":
        m["llm.search_s"] = mean_span("llm.searchIndexed")
        m["streaming.ingest_s"] = mean_span("streaming.ingestBatch")
        m["streaming.changelog_s"] = mean_span("streaming.applyChangelog")
        s_ops = [o["counters"] for o in ops if o["kind"] == "search"]
        w_ops = [o["counters"] for o in ops if o["kind"] == "write"]
        if s_ops:
            m["llm.probes"] = sum(c.get("probes", 0) for c in s_ops) / len(s_ops)
            m["llm.probe_ids"] = sum(c.get("probe_ids", 0) for c in s_ops) / len(s_ops)
            # the "buckets" counter grows by the bucket count at every probe
            slots = sum(c.get("buckets", 0) for c in s_ops)
            m["llm.buckets_read_frac"] = (sum(c.get("buckets_read", 0) for c in s_ops) /
                                          slots if slots else 0.0)
        if w_ops:
            m["streaming.write_mb"] = sum(c.get("write_b", 0) for c in w_ops) / MB / len(w_ops)
            m["streaming.buckets_rewritten_frac"] = (
                sum(c.get("buckets_rewritten", 0) for c in w_ops) /
                sum(c.get("buckets", 0) for c in w_ops))
        r = facts.get("recall_at_10") or []
        m["llm.recall_at_10"] = sum(r) / len(r) if r else 0.0
    elif wl == "prep":
        for step in PIPELINE_STEPS:
            m[f"pipeline.{step}_s"] = mean_span(f"pipeline.{step}")
        m["llm.prepare_s"] = mean_span("llm.prepareTraining")
        rows = facts.get("encoded_rows") or []
        m["core.records_ratio"] = (sum(rows) / len(rows) / facts["records"]) if rows else 0.0
        for k in ("dedup_recall", "false_drop_frac"):
            xs = facts.get(k) or []
            m[f"llm.{k}"] = sum(xs) / len(xs) if xs else 0.0
    return {k: m[k] for k in names}
