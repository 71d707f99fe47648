"""Per-layer metrics and the span tree of a traced perfbench run.

The harness records, in traced runs only, its own spans (workload, pass,
query, build call, execution, Loader call) and the raw events of Spark's
listener APIs (jobs, stages, tasks, RDD block updates, planning phases,
streaming progress, codegen counters). This module derives the remaining
spans (job, stage, trigger and trigger phases), the per-layer metrics and
the self time of each span kind.

Each counter is taken per measured window (a pass of a batch workload, a
cycle of tick_ingest) and reported as the median over the windows.
"""
import json

import stats

MB = 1048576.0

# Trigger phases in the order MicroBatchExecution runs them.
TRIGGER_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                  "addBatch", "commitOffsets"]

# Span kinds whose self time is reported. A query span is exactly covered
# by its build call and execution, and the workload span by its passes, so
# their self time is 0 by construction and is not reported.
SPAN_KINDS = ["pass", "build", "execute", "job", "stage", "trigger", "phase", "loader"]


def windows(res, kind, warm_cycles=0):
    """Measured windows: (start_us, end_us, ops) per timed pass or per
    measured cycle."""
    if kind == "batch":
        ops = res.get("ops", [])
        return [(p["start_us"], p["end_us"], [o for o in ops if o["pass"] == p["pass"]])
                for p in res.get("passes", [])]
    cyc = sorted(res.get("cycles", []), key=lambda c: c["cycle"])[warm_cycles:]
    return [(a["start_us"], b["start_us"], []) for a, b in zip(cyc, cyc[1:])]


def _in(t, w):
    return t is not None and w[0] <= t < w[1]


def _per_window(ws, fn):
    return stats.median([fn(w) for w in ws]) if ws else 0


def job_intervals(res):
    ends = {j["job"]: j["end_us"] for j in res.get("job_ends", [])}
    return [(j["start_us"], ends[j["job"]], j) for j in res.get("jobs", []) if j["job"] in ends]


def derived_spans(res):
    """Harness spans plus job, stage, trigger, phase spans from the events."""
    spans = [dict(s, kind=s["name"].split(":")[0].rstrip("0123456789"))
             for s in res.get("spans", [])]
    next_id = [max([s["id"] for s in spans], default=0) + 1]

    def new(name, kind, start, end, parent, group):
        sid = next_id[0]
        next_id[0] += 1
        spans.append({"id": sid, "name": name, "kind": kind, "start_us": start,
                      "end_us": end, "parent": parent, "group": group})
        return sid

    passes = [s for s in spans if s["kind"] == "pass"]
    triggers = []  # (start, end, batch, trigger span id, addBatch span id)
    for p in res.get("progress", []):
        d = p.get("durations", {})
        start = p["start_us"]
        end = start + d.get("triggerExecution", 0) * 1000
        container = next((s["id"] for s in passes if s["start_us"] <= start < s["end_us"]), 0)
        tid = new(f"trigger:{p['batch']}", "trigger", start, end, container, -p["batch"] - 1)
        t, add = start, None
        for ph in TRIGGER_PHASES:
            if ph in d:
                pid = new(ph, "phase", t, t + d[ph] * 1000, tid, -p["batch"] - 1)
                if ph == "addBatch":
                    add = pid
                t += d[ph] * 1000
        triggers.append((start, end, p["batch"], tid, add))
    for s in spans:  # Loader calls hang under their trigger's addBatch phase
        if s["kind"] == "loader":
            b = -s["group"] - 1
            hit = [x for x in triggers if x[2] == b and x[0] <= s["start_us"] <= x[1]]
            if hit:
                s["parent"] = hit[0][4] or hit[0][3]
    # a query's jobs hang under its build call or its execution
    by_group = {}
    for s in spans:
        if s["kind"] in ("build", "execute"):
            by_group.setdefault(s["group"], []).append(s)
    stage_job = {}
    for start, end, j in job_intervals(res):
        if j.get("group") is not None:
            inner = [s for s in by_group.get(j["group"], [])
                     if s["start_us"] <= start <= s["end_us"]]
            parent = inner[0]["id"] if inner else j["group"]
        elif j.get("batch") is not None:
            hit = [x for x in triggers if x[2] == j["batch"] and x[0] <= start <= x[1]]
            parent = (hit[0][4] or hit[0][3]) if hit else 0
        else:
            parent = next((s["id"] for s in passes if s["start_us"] <= start < s["end_us"]), 0)
        jid = new(f"job:{j['job']}", "job", start, end, parent,
                  j.get("group") if j.get("group") is not None else 0)
        for st in j.get("stages", []):
            stage_job.setdefault(st, jid)
    for st in res.get("stages", []):
        jid = stage_job.get(st["stage"])
        if jid and st.get("start_us") and st.get("end_us"):
            new(f"stage:{st['stage']}", "stage", st["start_us"], st["end_us"], jid, 0)
    return spans


def layer_metrics(res, kind, ticks=None, warm_cycles=0):
    ws = windows(res, kind, warm_cycles)
    tasks = res.get("tasks", [])
    jobs = job_intervals(res)
    stage_end = {s["stage"]: s.get("end_us") for s in res.get("stages", [])}
    prog = res.get("progress", [])
    out = {}

    def put(name, value, unit):
        out[name] = (float(value), unit)

    def task_sum(field, w, cond=lambda t: True):
        return sum(t[field] for t in tasks if _in(t["end_us"], w) and cond(t))

    put("model.scan_mb", _per_window(ws, lambda w: task_sum("in_bytes", w) / MB), "MB")
    put("model.scan_rows", _per_window(ws, lambda w: task_sum("in_rows", w)), "count")
    put("model.scan_task_s", _per_window(
        ws, lambda w: task_sum("run_ms", w, lambda t: t["in_bytes"] > 0) / 1e3), "s")

    ops = [o for w in ws for o in w[2]]
    put("queries.build_ms", stats.median(
        [(o["built_us"] - o["start_us"]) / 1e3 for o in ops if not o["name"].startswith("shared.")]),
        "ms")
    put("queries.plan_ms", stats.median(
        [p["plan_ms"] for p in res.get("plans", [])
         if any(_in(p.get("start_us"), w) for w in ws)]), "ms")
    put("queries.shared_stage_s", _per_window(ws, lambda w: sum(
        o["end_us"] - o["start_us"] for o in w[2] if o["name"].startswith("shared.")) / 1e6), "s")

    def gap(w):
        iv = [(s, e) for s, e, _ in jobs]
        if w[2]:  # batch: only the timed operations, not the checks between them
            return sum(stats.driver_gap((o["start_us"], o["end_us"]), iv) for o in w[2]) / 1e6
        return stats.driver_gap((w[0], w[1]), iv) / 1e6
    put("spark.driver_gap_s", _per_window(ws, gap), "s")
    put("spark.job_count", _per_window(ws, lambda w: sum(1 for s, _, _ in jobs if _in(s, w))),
        "count")
    put("spark.stage_count", _per_window(
        ws, lambda w: sum(1 for e in stage_end.values() if _in(e, w))), "count")
    put("spark.task_count", _per_window(
        ws, lambda w: sum(1 for t in tasks if _in(t["end_us"], w))), "count")
    put("spark.shuffle_write_mb", _per_window(ws, lambda w: task_sum("sw_bytes", w) / MB), "MB")
    put("spark.shuffle_read_mb", _per_window(ws, lambda w: task_sum("sr_bytes", w) / MB), "MB")
    put("spark.fetch_wait_ms", _per_window(ws, lambda w: task_sum("fetch_ms", w)), "ms")
    put("spark.spill_mb", _per_window(ws, lambda w: task_sum("spill_bytes", w) / MB), "MB")
    put("spark.cpu_s", _per_window(ws, lambda w: task_sum("cpu_ns", w) / 1e9), "s")
    put("spark.gc_s", _per_window(ws, lambda w: task_sum("gc_ms", w) / 1e3), "s")

    cg = sorted(res.get("codegen", []), key=lambda c: c["t_us"])

    def codegen(w, field):
        before = [c for c in cg if c["t_us"] <= w[0] + 1]
        after = [c for c in cg if c["t_us"] >= w[1] - 1]
        if not before or not after:
            return 0
        a, b = before[-1], after[0]
        if field == "count":
            return b["count"] - a["count"]
        return max(0.0, b["count"] * b["mean_ms"] - a["count"] * a["mean_ms"])
    put("spark.codegen_classes", _per_window(ws, lambda w: codegen(w, "count")), "count")
    put("spark.codegen_compile_ms", _per_window(ws, lambda w: codegen(w, "ms")), "ms")

    put("operators.block_mb", _per_window(ws, lambda w: sum(
        b["bytes"] for b in res.get("blocks", []) if _in(b["t_us"], w)) / MB), "MB")
    put("operators.write_mb", _per_window(ws, lambda w: task_sum("out_bytes", w) / MB), "MB")

    trig = [p for p in prog if any(_in(p["start_us"], w) for w in ws)]
    dur = lambda key: [p["durations"].get(key, 0) for p in trig]
    put("streaming.trigger_count", _per_window(
        ws, lambda w: sum(1 for p in prog if _in(p["start_us"], w))), "count")
    put("streaming.trigger_p50_ms", stats.percentile_or_max(dur("triggerExecution"), 0.5), "ms")
    put("streaming.add_batch_p50_ms", stats.percentile_or_max(dur("addBatch"), 0.5), "ms")
    put("streaming.planning_p50_ms", stats.percentile_or_max(dur("queryPlanning"), 0.5), "ms")
    put("streaming.wal_commit_p50_ms", stats.percentile_or_max(dur("walCommit"), 0.5), "ms")
    put("streaming.state_rows", stats.median([p["state_rows"] for p in trig]), "count")
    loads = [(l["end_us"] - l["start_us"]) / 1e3 for l in res.get("loads", [])
             if any(_in(l["start_us"], w) for w in ws)]
    put("streaming.loader_write_p50_ms", stats.percentile_or_max(loads, 0.5), "ms")
    put("streaming.loader_write_p95_ms", stats.percentile_or_max(loads, 0.95), "ms")

    lat_offset, rows, lag, late = [], [], [], []
    if kind == "ingest" and ticks:
        lat_offset = dur("latestOffset")
        rows = [p["rows"] for p in trig]
        due = sorted(t["due_us"] for t in ticks)
        backlog_due = sorted({t["due_us"] for t in ticks if t["phase"] == 2})
        for p in trig:
            # live phases only: during a backlog drain the lag is the
            # backlog by construction
            cycle_start = max(w[0] for w in ws if w[0] <= p["start_us"])
            if stats.due_before(backlog_due, p["start_us"]) > stats.due_before(backlog_due, cycle_start):
                continue
            start = int(p["src_start"]) if p.get("src_start") not in (None, "null") else 0
            lag.append(max(0, stats.due_before(due, p["start_us"]) - start))
        live = [t for t in ticks if t["phase"] == 1 and t["cycle"] > warm_cycles]
        late = stats.lateness_ms([t["due_us"] for t in live], [t["sent_us"] for t in live])
    put("sources.latest_offset_p50_ms", stats.percentile_or_max(lat_offset, 0.5), "ms")
    put("sources.rows_per_trigger", stats.median(rows), "count")
    put("sources.lag_ticks_p95", stats.percentile_or_max(lag, 0.95), "count")
    put("gen.late_p95_ms", stats.percentile_or_max(late, 0.95), "ms")

    spans = derived_spans(res)
    self_us = stats.self_times(spans)
    n = max(1, len(ws))
    for k in SPAN_KINDS:
        total = sum(self_us[s["id"]] for s in spans if s["kind"] == k
                    and any(_in(s["start_us"], w) for w in ws))
        put(f"span.{k}.self_s", total / 1e6 / n, "s")
    return out


def write_trace(path, res):
    """Writes the span tree and the raw events of a traced run."""
    doc = {"spans": derived_spans(res),
           "events": {k: res.get(k, []) for k in
                      ("jobs", "job_ends", "stages", "plans", "progress", "loads",
                       "codegen", "passes", "cycles", "ops")}}
    with open(path, "w") as f:
        json.dump(doc, f)
