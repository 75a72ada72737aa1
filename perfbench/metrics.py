"""End-to-end and per-layer metrics from one run's raw record.

A metric that cannot be measured is left out and named in `missing`; it is
never reported as 0.
"""
import re
import statistics

from spans import children_of, link, percentile, self_ms, tail_percentile, union_ms
from workloads import ETS

HEADLINE = {
    "interactive": "geometric mean over the scripts of each script's median latency",
    "stream_ingest": "median paced micro-batch latency",
}


def _ops(rec):
    """The workload's measured ops: not the stream read-back, not the
    traced run's probe pass."""
    return [o for o in rec["ops"] if o["name"] != "stream_result" and not o.get("probe")]


def _lat(o):
    return o["end"] - o["start"]


def _paced_batches(rec):
    """(release record, latency ms) per paced file: from when the file was
    due to the arrival of the progress event of the micro-batch that read
    it. Files are read one per micro-batch, in order."""
    s = rec["stream"]
    data = sorted((p for p in s["progress"] if p["rows"] > 0), key=lambda p: p["batch"])
    n_backlog = len(data) - len(s["releases"])
    out = []
    for k, r in enumerate(s["releases"]):
        i = n_backlog + k
        if 0 <= i < len(data) and n_backlog >= 0:
            out.append((r, data[i]["received"] - r["due"]))
    return out, data


def _headline(workload, ops, rec):
    """The workload's headline latency (ms) over the given ops. For the
    script mix it is the geometric mean over scripts of each script's
    median: it does not depend on how many of each script a run happened
    to finish, and a script's relative change counts the same whether the
    script takes 0.2 s or 3 s."""
    if workload == "stream_ingest":
        lats = [lat for _, lat in _paced_batches(rec)[0]]
        return statistics.median(lats) if lats else None
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(_lat(o))
    return statistics.geometric_mean(statistics.median(v) for v in by.values()) if by else None


def end_to_end(workload, rec, checks):
    ops = _ops(rec)
    detail, missing = {}, []
    m = {"setup_s": (rec["setup_s"], "s")}
    t0 = rec["window_ms"][0]
    head = _headline(workload, ops, rec)
    if head is not None:
        m["latency_ms"] = (head, "ms")
    n = len(ops)
    if workload == "stream_ingest":
        paced, data = _paced_batches(rec)
        backlog = len(data) - len(paced)
        s = rec["stream"]
        if backlog > 1:
            # steady-state drain: from the first backlog batch's progress
            # to the last one's (query start-up is its own cost, in
            # drain_start_ms)
            drain_s = (data[backlog - 1]["received"] - data[0]["received"]) / 1000
            m["ops_per_s"] = ((backlog - 1) / drain_s, "1/s")
            rows = sum(p["rows"] for p in data[1:backlog])
            detail["stream_rows_per_s"] = (rows / drain_s, "rows/s")
            detail["drain_start_ms"] = (data[0]["received"] - s["started"], "ms")
        lats = [lat for _, lat in paced]
        detail["batch_p50_ms"] = (head, "ms")
        _tail(detail, missing, "batch", lats, 90)
        detail["paced_batches"] = (len(lats), "count")
        detail["paced_interval_ms"] = (rec["stream"]["releases"][1]["due"] - rec["stream"]["releases"][0]["due"]
                                       if len(rec["stream"]["releases"]) > 1 else None, "ms")
    elif n:
        span_s = (max(o["end"] for o in ops) - t0) / 1000
        m["ops_per_s"] = (n / span_s, "1/s")
        lats = [_lat(o) for o in ops]
        if workload == "interactive":
            detail["script_p50_ms"] = (statistics.median(lats), "ms")
            _tail(detail, missing, "script", lats, 95)
            detail["scripts_per_s"] = m["ops_per_s"]
    if rec.get("peak_rss_mb"):
        m["peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    detail["fail_ratio"] = (checks["failed"] / checks["attempted"] if checks["attempted"] else None,
                            "ratio")
    detail["samples"] = (n, "count")
    for name in ("setup_s", "latency_ms", "ops_per_s", "peak_rss_mb"):
        if name not in m:
            missing.append(name)
    return {"metrics": m, "detail": {k: v for k, v in detail.items() if v[0] is not None},
            "missing": missing + [k for k, v in detail.items() if v[0] is None]}


def _tail(detail, missing, prefix, lats, want):
    """Median's companion: the highest percentile up to `want` that has ten
    samples beyond it; missing when there are too few samples."""
    q = tail_percentile(len(lats), [c for c in (99, 95, 90, 75) if c <= want])
    if q is None:
        missing.append(f"{prefix}_p{want}_ms")
    else:
        detail[f"{prefix}_p{q}_ms"] = (percentile(lats, q), "ms")


def per_layer(workload, rec, checks, cores):
    """Per-layer metrics of a traced run. Counts and times are per op of
    the probe pass, where every script of the mix runs once per tenant
    wholly traced (per micro-batch for streaming.*)."""
    loop = _ops(rec)
    traced = [o for o in rec["ops"] if o.get("probe")]
    # the loop's traced and untraced slices give the tracing overhead
    on = [o for o in loop if o["traced"] and not o["epoch_changed"]]
    off = [o for o in loop if not o["traced"] and not o["epoch_changed"]]
    both = {o["name"] for o in on} & {o["name"] for o in off}
    op_ids = {o["id"] for o in traced}
    spans = link(rec["spans"], rec["ops"])
    batches = [s for s in spans if s["name"] == "streaming.batch"]
    # keep the trees of the probe pass's ops and of streaming micro-batches
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s.get("parent") in by_id:
            s = by_id[s["parent"]]
        return s["id"]
    roots = {f"op:{i}" for i in op_ids} | {b["id"] for b in batches}
    keep = [s for s in spans if root(s) in roots]
    kids = children_of(keep)
    n = len(traced) if workload != "stream_ingest" else max(len(batches), 1)
    per = (lambda x: x / n) if n else (lambda x: None)
    m, missing = {}, []

    def put(name, value, unit):
        if value is None:
            missing.append(name)
        else:
            m[name] = (value, unit)

    def spans_named(prefix):
        return [s for s in keep if s["name"].startswith(prefix)]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def self_sum(ss):
        return sum(self_ms(s, kids.get(s["id"], [])) for s in ss)

    # client
    put("client.ops", len(traced) if workload != "stream_ingest" else len(batches), "count")
    late = [r["released"] - r["due"] for r in rec["stream"]["releases"]] if workload == "stream_ingest" else [0.0]
    put("client.late_ms", max(late) if late else None, "ms")
    put("client.fail_ratio", checks["failed"] / checks["attempted"], "ratio")
    if workload == "stream_ingest":
        h_on, h_off = _stream_split(rec, True), _stream_split(rec, False)
    else:  # compare the same scripts on both sides
        h_on = _headline(workload, [o for o in on if o["name"] in both], rec)
        h_off = _headline(workload, [o for o in off if o["name"] in both], rec)
    put("client.trace_overhead_pct", (h_on / h_off - 1) * 100 if h_on and h_off else None, "%")
    put("client.self_ms", per(self_sum(spans_named("client."))), "ms")
    # dsl
    runs = spans_named("dsl.run")
    put("dsl.run_ms", per(dur(runs)), "ms")
    put("dsl.self_ms", per(self_sum(runs)), "ms")
    put("dsl.statements", per(sum(o["statements"] for o in traced)) if traced else 0.0, "count")
    put("dsl.split_ms", per(sum(o["split_ms"] for o in traced)) if traced else 0.0, "ms")
    # catalyst
    actions = spans_named("catalyst.action")  # points: no duration, no self time
    put("catalyst.actions", per(len(actions)), "count")
    for phase in ("analysis", "optimization", "planning"):
        put(f"catalyst.{phase}_ms", per(dur(spans_named(f"catalyst.{phase}"))), "ms")
    put("catalyst.self_ms", per(self_sum(spans_named("catalyst."))), "ms")
    # exec
    jobs, stages = spans_named("exec.job"), spans_named("exec.stage")

    def stage_sum(k):
        return sum(s.get(k, 0.0) for s in stages)
    put("exec.jobs", per(len(jobs)), "count")
    put("exec.stages", per(len(stages)), "count")
    put("exec.tasks", per(stage_sum("tasks")), "count")
    put("exec.tasks_per_stage", stage_sum("tasks") / len(stages) if stages else None, "count")
    put("exec.job_wall_ms", per(dur(jobs)), "ms")
    put("exec.task_run_ms", per(stage_sum("task_run_ms")), "ms")
    put("exec.task_cpu_ms", per(stage_sum("task_cpu_ms")), "ms")
    busy = union_ms([(s["start"], s["end"]) for s in jobs])
    put("exec.core_busy_ratio", stage_sum("task_run_ms") / (busy * cores) if busy else None, "ratio")
    mb = 1024 * 1024
    put("exec.shuffle_read_mb", per(stage_sum("shuffle_read_bytes") / mb), "MB")
    put("exec.shuffle_write_mb", per(stage_sum("shuffle_write_bytes") / mb), "MB")
    put("exec.spill_mb", per(stage_sum("spill_bytes") / mb), "MB")
    put("exec.task_failures", stage_sum("task_failures"), "count")
    put("exec.self_ms", per(self_sum(jobs)), "ms")
    # sources
    put("sources.read_mb", per(stage_sum("read_bytes") / mb), "MB")
    put("sources.read_rows", per(stage_sum("read_rows")), "rows")
    put("sources.write_mb", per(stage_sum("write_bytes") / mb), "MB")
    put("sources.write_rows", per(stage_sum("write_rows")), "rows")
    put("sources.write_tasks", per(stage_sum("write_tasks")), "count")
    put("sources.save_ms", per(sum(a["duration_ms"] for a in actions if WRITE_PLAN.search(a["plan"]))), "ms")
    # cache
    c = rec["cache"]
    put("cache.peak_storage_mb", c["peak_storage_bytes"] / mb, "MB")
    put("cache.blocks_written", per(stage_sum("blocks_written")), "count")
    put("cache.leaked_rdds", c["leaked_rdds"], "count")
    # streaming: per traced micro-batch; zero where the workload has none
    nb = len(batches)

    def bmean(k, scale=1.0):
        return sum(b.get(k, 0.0) for b in batches) / nb / scale if nb else 0.0
    put("streaming.batches", nb, "count")
    put("streaming.trigger_ms", bmean("d_triggerExecution"), "ms")
    put("streaming.add_batch_ms", bmean("d_addBatch"), "ms")
    put("streaming.query_planning_ms", bmean("d_queryPlanning"), "ms")
    put("streaming.wal_commit_ms", bmean("d_walCommit"), "ms")
    put("streaming.latest_offset_ms", bmean("d_latestOffset"), "ms")
    put("streaming.state_rows", bmean("state_rows"), "rows")
    put("streaming.state_mem_mb", bmean("state_mem_bytes", mb), "MB")
    put("streaming.late_rows", sum(p["late_rows"] for p in rec["stream"]["progress"])
        if workload == "stream_ingest" else 0.0, "rows")
    # ets: per op of the script that runs each ET; zero where the workload
    # runs no ET
    job_count = {}
    for s in spans:
        if s["name"] == "exec.job" and s["op"]:
            job_count[s["op"]] = job_count.get(s["op"], 0) + 1
    for et in sorted(set(ETS.values())):
        eo = [o for o in traced if ETS.get(o["name"]) == et]
        if workload != "interactive":
            put(f"ets.{et}_ms", 0.0, "ms")
            put(f"ets.{et}_jobs", 0.0, "count")
        else:
            put(f"ets.{et}_ms", statistics.mean(o["run_end"] - o["start"] for o in eo) if eo else None, "ms")
            put(f"ets.{et}_jobs", statistics.mean(job_count.get(o["id"], 0) for o in eo) if eo else None,
                "count")
    # jvm: over the whole measured window, per op
    total = len(loop) if workload != "stream_ingest" else max(len(rec["stream"]["progress"]), 1)
    put("jvm.gc_ms", rec["jvm"]["gc_ms"] / total if total else None, "ms")
    put("jvm.jit_ms", rec["jvm"]["jit_ms"] / total if total else None, "ms")

    layers = {}
    for s in keep:
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + self_ms(s, kids.get(s["id"], []))
    return {"metrics": m, "missing": missing, "spans": keep,
            "self_ms": {k: per(v) for k, v in sorted(layers.items())}}


# Writes reach the QueryExecutionListener as "command" actions, like temp
# view creation; the command's plan node tells them apart.
WRITE_PLAN = re.compile(r"Insert|Save|Write|Append|Overwrite")


def _stream_split(rec, traced):
    lats = [lat for r, lat in _paced_batches(rec)[0] if r["traced"] == traced]
    return statistics.median(lats) if len(lats) >= 2 else None
