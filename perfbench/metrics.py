"""Turns a harness record (raw samples and spans) into the benchmark's
metrics. Percentiles are computed here and nowhere else."""
import statistics

UNITS = {
    # end to end
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cycle_s": "s",
    "throughput_per_s": "1/s",
    # per layer
    "registry.lookup_s": "s",
    "artifact.first_touch_s": "s",
    "tables.load_s": "s",
    "compose_s": "s",
    "compose_jobs": "count",
    "plan.analysis_s": "s",
    "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "codegen.compile_s": "s",
    "codegen.classes": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.job_wall_s": "s",
    "exec.driver_gap_s": "s",
    "exec.task_failures": "count",
    "exec.stage_skew": "ratio",
    "exec.parallel_speedup": "ratio",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.bytes": "B",
    "input.bytes": "B",
    "ckpt.jobs": "count",
    "stream.batch_s": "s",
    "stream.source_s": "s",
    "stream.plan_s": "s",
    "stream.exec_s": "s",
    "stream.commit_s": "s",
    "stream.empty_batch_ratio": "ratio",
    "source.backlog_files": "count",
    "state.rows": "count",
    "state.memory_bytes": "B",
    "state.commit_s": "s",
    "maint.text_s": "s",
    "maint.dedup_s": "s",
    "maint.jobs": "count",
    "index.bytes": "B",
    "index.files": "count",
    "serve.read_s": "s",
    "serve.rank_s": "s",
    "serve.p50_s": "s",
    "serve.tail_s": "s",
    "event.latency_p50_s": "s",
    "event.latency_tail_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.heap_after_gc_mb": "MB",
    "trace.overhead_ratio": "ratio",
    "trace.spans": "count",
}
END_TO_END = ["setup_s", "latency_p50_s", "latency_tail_s", "cycle_s", "throughput_per_s"]
PER_LAYER = [k for k in UNITS if k not in END_TO_END]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile): the 11th-largest sample, but never below the
    median (with fewer than 21 samples the tail is the median)."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    n = len(s)
    i = max(n // 2, n - 11)
    return s[i], 100.0 * i / max(1, n - 1)


def measured_serves(rec):
    """Serve calls after the open loop's micro-batches (not the set-up's or
    the backlog's)."""
    batches = {p["batch"] for p in sample_batches(rec)}
    return [s for s in rec.get("serves", []) if s["batch"] in batches]


def per_kind_medians(workload, rec):
    """The median latency of each query (query_short) or each ranker
    (index_ingest): a run has a few samples of each, and pooled they jump
    between one kind and the next from run to run."""
    if workload == "query_short":
        groups = rec.get("per_query_s", {})
    else:
        groups = {}
        for s in measured_serves(rec):
            groups.setdefault(s["name"], []).append(s["latency_s"])
    return {k: median(xs) for k, xs in groups.items()}


def latency(workload, rec):
    """(p50, tail, how the tail was taken, N). On query_short and
    index_ingest p50 is the median kind's median and the tail the slowest
    kind's; on activity_stream both are taken over the emitted window rows
    (`tail`)."""
    if workload == "activity_stream":
        xs = rec.get("latency_s", [])
        v, pct = tail(xs)
        return median(xs), v, f"p{pct:.1f}", len(xs)
    meds = per_kind_medians(workload, rec)
    n = (len(rec.get("latency_s", [])) if workload == "query_short"
         else len(measured_serves(rec)))
    return median(list(meds.values())), max(meds.values(), default=0.0), "slowest median", n


def tail_info(workload, rec):
    _, v, how, n = latency(workload, rec)
    out = {"latency": {"value": v, "tail": how, "n": n}}
    if workload == "index_ingest":
        xs = rec.get("latency_s", [])
        v, pct = tail(xs)
        out["event"] = {"value": v, "tail": f"p{pct:.1f}", "n": len(xs)}
    return out


def phase_batches(rec):
    """Micro-batches that started in the open loop or the drain, empty
    ones included."""
    loop = rec.get("loop", {})
    return [p for p in rec.get("progress", [])
            if loop.get("start", 0) <= p["start"] <= loop.get("drain_end", 0)]


def batch_seconds(ps):
    return [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in ps]


def measured_batches(rec):
    """Non-empty micro-batches of the open loop and the drain."""
    return [p for p in phase_batches(rec) if p["rows"] > 0]


def sample_batches(rec):
    """The micro-batches `cycle_s` and the serve latencies are taken over:
    on index_ingest the open loop's, which read only open-loop files (the
    backlog's comes first and is their warm-up), else every measured one."""
    if "open_batches" not in rec:
        return measured_batches(rec)
    ids = set(rec["open_batches"])
    return [p for p in rec.get("progress", []) if p["batch"] in ids]


def end_to_end(workload, rec):
    p50, tail_v, _, _ = latency(workload, rec)
    if workload == "query_short":
        cycle = median(rec.get("cycle_s", []))
        thr = rec.get("ops", 0) / max(1e-9, sum(rec.get("cycle_s", [])))
    else:
        cycle = median(batch_seconds(sample_batches(rec)))
        thr = rec.get("throughput_per_s", 0.0)
    return {
        "setup_s": rec.get("setup_s", 0.0),
        "latency_p50_s": p50,
        "latency_tail_s": tail_v,
        "cycle_s": cycle,
        "throughput_per_s": thr,
    }


# ---------------------------------------------------------------- spans

def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, lo, hi = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if hi is None or a > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    return total + (hi - lo if hi is not None else 0.0)


def spans_of(rec):
    """Spans by id with trace ids filled down from their parents, the
    children of each span, and self time: duration minus the part of the
    interval the span's children cover."""
    spans = {s["id"]: dict(s) for s in rec.get("spans", [])}
    kids = {}
    for s in spans.values():
        if s["end"] is None:
            s["end"] = s["start"]
        kids.setdefault(s["parent"], []).append(s)

    def trace_of(s):
        if not s["trace"] and s["parent"] in spans:
            s["trace"] = trace_of(spans[s["parent"]])
        return s["trace"]

    for s in spans.values():
        trace_of(s)
        lo, hi = s["start"], s["end"]
        covered = union_ms([(max(lo, c["start"]), min(hi, c["end"])) for c in kids.get(s["id"], [])])
        s["self_ms"] = (hi - lo) - covered
    return spans, kids


def descendants(sid, kids, layer):
    out, todo = [], list(kids.get(sid, []))
    while todo:
        s = todo.pop()
        if s["layer"] == layer:
            out.append(s)
        todo += kids.get(s["id"], [])
    return out


def span_summary(rec, tolerance_ms=2.0):
    """Per-layer counts and self time, plus the nesting invariants the
    self-check asserts."""
    spans, kids = spans_of(rec)
    by_layer = {}
    bad_nest, bad_self, bad_sum = [], [], []
    for s in spans.values():
        d = by_layer.setdefault(s["layer"], {"spans": 0, "self_s": 0.0, "total_s": 0.0})
        d["spans"] += 1
        d["self_s"] += s["self_ms"] / 1000.0
        d["total_s"] += (s["end"] - s["start"]) / 1000.0
        if s["self_ms"] < -1e-6:
            bad_self.append(s["id"])
        p = spans.get(s["parent"])
        if s["parent"] and p is None:
            bad_nest.append(s["id"])
        elif p is not None and (s["start"] < p["start"] - tolerance_ms or
                                s["end"] > p["end"] + tolerance_ms):
            bad_nest.append(s["id"])
        cs = kids.get(s["id"], [])
        if cs and union_ms([(c["start"], c["end"]) for c in cs]) > (s["end"] - s["start"]) + tolerance_ms:
            bad_sum.append(s["id"])
    traces = {s["trace"] for s in spans.values() if s["layer"] not in ("run",)}
    return {"spans": len(spans), "traces": len(traces), "layers": by_layer,
            "not_nested": bad_nest[:20], "negative_self": bad_self[:20],
            "children_exceed_parent": bad_sum[:20]}


def per_layer(workload, rec):
    spans, kids = spans_of(rec)
    all_spans = list(spans.values())

    def layer(name):
        return [s for s in all_spans if s["layer"] == name]

    def dur(s):
        return (s["end"] - s["start"]) / 1000.0

    op_layer = "query" if workload == "query_short" else "batch"
    ops = layer(op_layer)
    n_ops = max(1, len(ops))
    jobs, stages = layer("job"), layer("stage")

    def per_op(xs):
        return sum(xs) / n_ops

    def attr(ss, k):
        return [s["attrs"].get(k, 0.0) for s in ss]

    gap_parent = "action" if workload == "query_short" else "batch"
    gaps = [dur(a) - union_ms([(j["start"], j["end"]) for j in descendants(a["id"], kids, "job")]) / 1000.0
            for a in layer(gap_parent)]
    plan = {n: [dur(s) for s in layer("plan") if s["name"] == n]
            for n in ("analysis", "optimization", "planning")}
    skews = [s["attrs"].get("skew", 1.0) for s in stages if s["attrs"].get("tasks", 0) >= 2]
    compose = layer("compose")
    maint_spans = layer("maintainer")
    L = rec.get("layers", {})

    out = {
        "registry.lookup_s": median([dur(s) for s in layer("registry")]),
        "artifact.first_touch_s": L.get("artifact.first_touch_s", 0.0),
        "tables.load_s": median([dur(s) for s in layer("model")]),
        "compose_s": median([dur(s) for s in compose]),
        "compose_jobs": sum(len(descendants(c["id"], kids, "job")) for c in compose) / max(1, len(compose)),
        "plan.analysis_s": per_op(plan["analysis"]),
        "plan.optimization_s": per_op(plan["optimization"]),
        "plan.planning_s": per_op(plan["planning"]),
        "codegen.compile_s": per_op(attr(ops, "codegen_s")),
        "codegen.classes": per_op(attr(ops, "codegen_classes")),
        "exec.jobs": len(jobs) / n_ops,
        "exec.stages": len(stages) / n_ops,
        "exec.tasks": per_op(attr(stages, "tasks")),
        "exec.task_run_s": per_op(attr(stages, "task_run_s")),
        "exec.task_cpu_s": per_op(attr(stages, "task_cpu_s")),
        "exec.job_wall_s": per_op([dur(j) for j in jobs]),
        "exec.driver_gap_s": median(gaps),
        "exec.task_failures": sum(attr(stages, "task_failures")),
        "exec.stage_skew": median(skews) if skews else 1.0,
        "exec.parallel_speedup": L.get("exec.parallel_speedup", 0.0),
        "shuffle.write_bytes": per_op(attr(stages, "shuffle_write_bytes")),
        "shuffle.read_bytes": per_op(attr(stages, "shuffle_read_bytes")),
        "spill.bytes": per_op(attr(stages, "spill_bytes")),
        "input.bytes": per_op(attr(stages, "input_bytes")),
        "ckpt.jobs": per_op(attr(jobs, "ckpt")),
    }

    ps = phase_batches(rec)
    dm = [p["duration_ms"] for p in ps]
    fpb = rec.get("files_per_batch", {})
    loop_batches = {str(p["batch"]) for p in ps}
    out.update({
        "stream.batch_s": median(batch_seconds(ps)),
        "stream.source_s": median([(d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0 for d in dm]),
        "stream.plan_s": median([d.get("queryPlanning", 0) / 1000.0 for d in dm]),
        "stream.exec_s": median([d.get("addBatch", 0) / 1000.0 for d in dm]),
        "stream.commit_s": median([(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0 for d in dm]),
        "stream.empty_batch_ratio": (sum(1 for p in ps if p["rows"] == 0) / len(ps)) if ps else 0.0,
        "source.backlog_files": median([n for b, n in fpb.items() if b in loop_batches]),
        "state.rows": median([p["state_rows"] for p in ps]),
        "state.memory_bytes": median([p["state_bytes"] for p in ps]),
        "state.commit_s": median([p["state_commit_ms"] / 1000.0 for p in ps]),
    })

    maint = rec.get("maint", [])
    serves = measured_serves(rec)
    serve_p50, serve_tail, _, _ = (latency(workload, rec) if workload == "index_ingest"
                                   else (0.0, 0.0, None, 0))
    event_lat = rec.get("latency_s", []) if workload != "query_short" else []
    out.update({
        "maint.text_s": median([m["text_s"] for m in maint]),
        "maint.dedup_s": median([m["dedup_s"] for m in maint]),
        "maint.jobs": sum(len(descendants(m["id"], kids, "job")) for m in maint_spans) / n_ops
        if maint_spans else 0.0,
        "index.bytes": rec.get("index_bytes", 0),
        "index.files": rec.get("index_files", 0),
        "serve.read_s": median([s["read_s"] for s in serves]),
        "serve.rank_s": median([s["rank_s"] for s in serves]),
        "serve.p50_s": serve_p50,
        "serve.tail_s": serve_tail,
        "event.latency_p50_s": median(event_lat),
        "event.latency_tail_s": tail(event_lat)[0],
        "jvm.gc_s": rec.get("gc_s", 0.0),
        "jvm.heap_peak_mb": rec.get("heap_peak_mb", 0.0),
        "jvm.heap_after_gc_mb": rec.get("heap_after_gc_mb", 0.0),
        "trace.spans": len(all_spans),
    })

    if workload == "query_short":
        base, traced = median(rec.get("cycle_s", [])), median(rec.get("traced_cycle_s", []))
    else:
        loop = rec.get("loop", {})
        mb = sample_batches(rec)
        if loop.get("trace_batch", -1) >= 0:
            # tracing started with this micro-batch
            before = [p for p in mb if p["batch"] < loop["trace_batch"]]
        else:
            before = [p for p in mb if p["start"] < (loop.get("trace_start") or 0.0)]
        base = median(batch_seconds(before))
        traced = median(batch_seconds([p for p in mb if p not in before]))
    out["trace.overhead_ratio"] = (traced / base - 1.0) if base > 0 else 0.0
    return {k: out[k] for k in PER_LAYER}
