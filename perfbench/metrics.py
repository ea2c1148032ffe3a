"""Turns a run's raw record (written by graft.perfbench.Main) into the
end-to-end metrics, the per-layer metrics and the trace spans."""

from benchmath import driver_gap, median, percentile, self_time, union

MB = 1024.0 * 1024.0

END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "op/s",
    "items_per_s": "item/s", "live_heap_mb": "MB",
}

PER_LAYER_UNITS = {
    "core.scan_tasks": "count", "core.input_mb": "MB", "core.leaked_rdds": "count",
    "ops.construct_s": "s", "ops.exec_s": "s", "ops.eager_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_gap_s": "s", "sched.slot_util": "fraction",
    "task.cpu_s": "s", "task.run_s": "s", "task.cpu_ratio": "fraction", "task.gc_s": "s",
    "task.deser_s": "s", "task.skew": "ratio", "task.result_mb": "MB",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "stream.batches": "count", "stream.rows_per_batch": "row", "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.fold_ms": "ms", "stream.feeder_late_ms": "ms",
    "stream.lag_p50_ms": "ms", "stream.lag_p90_ms": "ms",
    "jvm.gc_s": "s", "jvm.heap_used_mb": "MB",
    "trace.overhead": "ratio",
}


def counts(rec):
    ops = rec["ops"]
    return len(ops), sum(1 for o in ops if not o["ok"])


def _phase(rec, name):
    """Ops of every segment called `name`, and those segments' total seconds."""
    ops = [o for o in rec["ops"] if o["phase"] == name]
    return ops, sum(p["seconds"] for p in rec["phases"] if p["phase"] == name)


def _lags_s(op):
    """Paced op: lag of each batch, from the due time of its oldest item to
    the end of the batch. Chunk k is due at t0 + k * chunk / rate."""
    out = []
    for b in op["batches"]:
        oldest = b["start_offset"] + 1
        due_ms = op["t0_ms"] + oldest * op["chunk"] / op["rate"] * 1000.0
        out.append((b["timestamp"] + b["trigger_ms"] - due_ms) / 1000.0)
    return out


def end_to_end(rec):
    """Closed loop: ops_per_s counts public calls per second and items_per_s
    the points or stream items they consume. Latency is an op's wall time on
    hw12_points and a drained batch's round trip on hw3_stream."""
    if rec["workload"] == "hw3_stream":
        ops, seconds = _phase(rec, "drain")
        latencies = [b["trigger_ms"] / 1000.0 for o in ops for b in o["batches"]]
    else:
        ops, seconds = _phase(rec, "timed")
        latencies = [o["wall_s"] for o in ops]
    ops_per_s = len(ops) / seconds
    items_per_s = ops_per_s * rec["input_size"]
    values = {
        "setup_s": median(rec["setup_s"]),
        "op_p50_s": percentile(latencies, 0.5),
        "op_p90_s": percentile(latencies, 0.9),
        "ops_per_s": ops_per_s,
        "items_per_s": items_per_s,
        "live_heap_mb": rec["live_heap_mb"],
    }
    return values, END_TO_END_UNITS


# ------------------------------------------------------------------ trace

def _attribute(rec):
    """Group the recorder's events by traced op: jobs by the op id they
    carry, SQL executions and planned queries by the op whose wall interval
    they started in (ops run one at a time)."""
    ev = rec["trace_events"]
    stages = {}
    for s in ev["stages"]:
        stages.setdefault(s["stage"], []).append(s)
    traced = [o for o in rec["ops"] if o["phase"].startswith("traced")]
    out = []
    for o in traced:
        lo, hi = o["start_ms"], o["end_ms"]
        jobs = [j for j in ev["jobs"] if j["op"] == str(o["id"]) and "end" in j]
        execs = [e for e in ev["executions"] if lo <= e.get("start", -1) <= hi]
        queries = [q for q in ev["queries"] if lo <= q["start"] <= hi]
        # a stage id can recur in later jobs (skipped, its shuffle reused):
        # count each stage run once, and only runs submitted in this op
        st = {(s["stage"], s["start"]): s for j in jobs for sid in j["stages"]
              for s in stages.get(sid, []) if s["start"] >= lo}
        out.append((o, jobs, list(st.values()), execs, queries))
    return out


def _op_layers(rec, o, jobs, stages, execs, queries):
    cores = rec["cores"]
    inputs = set(rec["input_rdds"])
    scans = [s for s in stages if s["input_b"] > 0 or any(c["id"] in inputs for c in s["cached_rdds"])]
    construct_end = o["start_ms"] + o["construct_s"] * 1000.0
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    cpu_s = sum(s["cpu_ns"] for s in stages) / 1e9
    longest = max(stages, key=lambda s: s["end"] - s["start"], default=None)
    skew = 0.0
    if longest and longest["task_run_ms"]:
        skew = max(longest["task_run_ms"]) / max(1.0, median(longest["task_run_ms"]))
    batches = o.get("batches", [])
    by_batch = {}
    for j in jobs:
        if j.get("batch") is not None:
            by_batch.setdefault(int(j["batch"]), []).append((j["start"], j["end"]))
    fold = [b["add_batch_ms"] - sum(e - s for s, e in union(by_batch.get(b["batch"], []))) for b in batches]
    return {
        "core.scan_tasks": sum(s["tasks"] for s in scans),
        "core.input_mb": sum(s["input_b"] + sum(c["bytes"] for c in s["cached_rdds"] if c["id"] in inputs)
                             for s in scans) / MB,
        "core.leaked_rdds": o["leaked_rdds"],
        "ops.construct_s": o["construct_s"],
        "ops.exec_s": o["exec_s"],
        "ops.eager_jobs": sum(1 for j in jobs if j["start"] <= construct_end),
        "catalyst.analysis_s": sum(q.get("analysis_ms", 0) for q in queries) / 1000.0,
        "catalyst.optimization_s": sum(q.get("optimization_ms", 0) for q in queries) / 1000.0,
        "catalyst.planning_s": sum(q.get("planning_ms", 0) for q in queries) / 1000.0,
        "catalyst.executions": len(execs),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": sum(s["tasks"] for s in stages),
        "sched.driver_gap_s": driver_gap((o["start_ms"], o["end_ms"]),
                                         [(j["start"], j["end"]) for j in jobs]) / 1000.0,
        "sched.slot_util": run_s / (o["wall_s"] * cores),
        "task.cpu_s": cpu_s,
        "task.run_s": run_s,
        "task.cpu_ratio": cpu_s / run_s if run_s > 0 else 0.0,
        "task.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "task.deser_s": sum(s["deser_ms"] for s in stages) / 1000.0,
        "task.skew": skew,
        "task.result_mb": sum(s["result_b"] for s in stages) / MB,
        "shuffle.write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1000.0,
        "shuffle.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        # the last batch of an op may end without a progress event; its jobs
        # still carry its batch id
        "stream.batches": len(set(by_batch) | {b["batch"] for b in batches}),
        "stream.rows_per_batch": median(b["rows"] for b in batches),
        "stream.trigger_ms": median(b["trigger_ms"] for b in batches),
        "stream.add_batch_ms": median(b["add_batch_ms"] for b in batches),
        "stream.query_planning_ms": median(b["query_planning_ms"] for b in batches),
        "stream.wal_commit_ms": median(b["wal_commit_ms"] for b in batches),
        "stream.fold_ms": median(fold),
        # paced ops only; None keeps drain and batch ops out of the median
        "stream.feeder_late_ms": median(o["feeder_late_ms"]) if o.get("feeder_late_ms") else None,
        "stream.lag_p50_ms": median(_lags_s(o)) * 1000.0 if o.get("feeder_late_ms") else None,
        # a per-op p90 may lack samples; per_layer pools the paced batches
        "stream.lag_p90_ms": None,
        "jvm.gc_s": o["gc_s"],
        "jvm.heap_used_mb": o["heap_used_mb"],
    }


def per_op_layers(rec):
    return [dict(op=a[0]["id"], name=a[0]["name"], phase=a[0]["phase"], **_op_layers(rec, *a))
            for a in _attribute(rec)]


def _throughput(rec, phase):
    ops, seconds = _phase(rec, phase)
    return len(ops) / seconds


def per_layer(rec, rows):
    """Median over the traced ops of each per-op value (`rows` from
    per_op_layers), plus the tracing overhead."""
    values = {k: median(r[k] for r in rows if r[k] is not None)
              for k in PER_LAYER_UNITS if k != "trace.overhead"}
    lags = [x * 1000.0 for o in _phase(rec, "traced_paced")[0] for x in _lags_s(o)]
    values["stream.lag_p50_ms"] = percentile(lags, 0.5) if lags else 0.0
    values["stream.lag_p90_ms"] = percentile(lags, 0.9) if lags else 0.0
    values["trace.overhead"] = _throughput(rec, "traced") / _throughput(rec, "untraced")
    return values, PER_LAYER_UNITS


def spans(rec):
    """op -> construct/exec -> SQL execution -> job -> stage. Every span of an
    op carries the op's id; self time excludes the part children cover."""
    out = []

    def add(kind, name, op, start, end, parent, **extra):
        out.append(dict(id=len(out), parent=parent, op=op, kind=kind, name=name,
                        start_ms=start, end_ms=end, **extra))
        return out[-1]["id"]

    for o, jobs, stages, execs, _ in _attribute(rec):
        mid = o["start_ms"] + o["construct_s"] * 1000.0
        root = add("op", o["name"], o["id"], o["start_ms"], o["end_ms"], None)
        phases = [(add("construct", "construct", o["id"], o["start_ms"], mid, root), o["start_ms"], mid),
                  (add("exec", "exec", o["id"], mid, o["end_ms"], root), mid, o["end_ms"])]

        def phase_of(t):
            return next((sid for sid, s, e in phases if s <= t <= e), phases[-1][0])

        exec_ids = {}
        for e in execs:
            exec_ids[e["id"]] = add("execution", str(e["id"]), o["id"], e["start"],
                                    e.get("end", e["start"]), phase_of(e["start"]))
        stage_rec = {s["stage"]: s for s in stages}
        for j in jobs:
            parent = exec_ids.get(int(j["exec"])) if j.get("exec") is not None else None
            jid = add("job", str(j["job"]), o["id"], j["start"], j["end"],
                      parent if parent is not None else phase_of(j["start"]))
            for sid in j["stages"]:
                s = stage_rec.get(sid)
                if s and s["start"] >= 0:
                    add("stage", str(sid), o["id"], s["start"], s["end"], jid, tasks=s["tasks"])
    children = {}
    for s in out:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in out:
        s["self_ms"] = self_time((s["start_ms"], s["end_ms"]), children.get(s["id"], []))
    return out
