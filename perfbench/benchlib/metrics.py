"""Turn the JVM's raw record into end-to-end and per-layer metrics.

Times in the raw record: operations and spans carry `System.nanoTime`;
Spark's job and task events carry epoch milliseconds. `clock` pairs one
reading of each, which converts spans onto the event clock.
"""
import math
import statistics

END_TO_END = [
    ("setup_s", "s"), ("cold_pass_s", "s"), ("latency_p50_ms", "ms"),
    ("throughput_ops_s", "1/s"), ("rss_peak_mb", "MB"), ("space_amp", "ratio"),
]

PER_LAYER = [
    ("engine.sql_ms", "ms"), ("engine.calls", "count"),
    ("operators.build_ms", "ms"), ("operators.jobs", "count"), ("operators.task_ms", "ms"),
    ("plan.optimize_ms", "ms"), ("plan.physical_ms", "ms"),
    ("prepare.ms", "ms"), ("prepare.jobs", "count"), ("prepare.codegen_compiles", "count"),
    ("prepare.codegen_compile_ms", "ms"), ("prepare.executor_idle_ms", "ms"),
    ("run.ms", "ms"), ("run.codegen_compiles", "count"), ("run.codegen_compile_ms", "ms"),
    ("run.jobs", "count"), ("run.stages", "count"), ("run.tasks", "count"),
    ("run.task_ms", "ms"), ("run.executor_idle_ms", "ms"),
    ("run.shuffle_write_bytes", "bytes"), ("run.spill_bytes", "bytes"),
    ("run.peak_exec_mem_bytes", "bytes"), ("run.rows_read_per_row_out", "ratio"),
    ("run.persisted_rdd_delta", "count"),
    ("io.load_ms", "ms"), ("io.write_ms", "ms"), ("io.compact_ms", "ms"),
    ("io.bytes_written", "bytes"), ("io.write_amp", "ratio"), ("io.files_live", "count"),
    ("io.log_commits", "count"),
    ("streaming.refresh_ms", "ms"), ("streaming.rows_read_per_row_appended", "ratio"),
    ("trace.overhead_frac", "ratio"), ("trace.self_time_gap_max", "ratio"),
]


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_times(spans):
    """span id -> duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) -
            union_length(clip(children.get(s["id"], []), s["t0"], s["t1"]))
            for s in spans}


def executor_idle(t0, t1, task_intervals):
    """Wall time of [t0, t1] during which none of the tasks ran."""
    return (t1 - t0) - union_length(clip(task_intervals, t0, t1))


def attribute_jobs(windows, jobs):
    """job id -> index of the innermost window (t0, t1) holding its
    submission time, or None. Windows nest, so innermost is shortest."""
    out = {}
    for j in jobs:
        best = None
        for i, (a, b) in enumerate(windows):
            if a <= j["submitted"] <= b and (best is None or
                                             b - a < windows[best][1] - windows[best][0]):
                best = i
        out[j["id"]] = best
    return out


def tasks_by_job(jobs, tasks):
    """job id -> its tasks, a task belonging to the job that lists its stage
    and was running when the task launched."""
    by_stage = {}
    for j in jobs:
        for st in j["stages"]:
            by_stage.setdefault(st, []).append(j)
    out = {j["id"]: [] for j in jobs}
    for t in tasks:
        owners = by_stage.get(t["stage"], [])
        owner = next((j for j in owners if j["submitted"] <= t["launch"] <= j["completed"]),
                     owners[0] if owners else None)
        if owner is not None:
            out[owner["id"]].append(t)
    return out


def _ms(ns):
    return ns / 1e6


def end_to_end(raw):
    ops = raw["ops"]
    warm = [o for o in ops if o["phase"] == "warm" and not o["traced"]]
    cold = [o for o in ops if o["phase"] == "cold"]
    lat = [_ms(o["t1"] - o["t0"]) for o in warm]
    reads = [_ms(o["t1"] - o["t0"]) for o in warm if o["kind"] == "read"]
    writes = [_ms(o["t1"] - o["t0"]) for o in warm if o["kind"] == "write"]
    fp = raw["footprint"]
    metrics = {
        "setup_s": statistics.median(raw["setup_s"]),
        "cold_pass_s": sum(o["t1"] - o["t0"] for o in cold) / 1e9,
        "latency_p50_ms": statistics.median(lat),
        "throughput_ops_s": len(lat) / (sum(lat) / 1e3),
        "rss_peak_mb": raw["rss_peak_kb"] / 1024.0,
        "space_amp": fp["disk_bytes"] / fp["live_bytes"],
    }
    failed = sum(1 for o in ops if o["error"] is not None)
    p90 = percentile(lat, 90)
    report = {
        "warm_ops": len(lat),
        "samples_beyond_p50": sum(1 for x in lat if x > metrics["latency_p50_ms"]),
        "latency_p90_ms": p90,
        "samples_beyond_p90": sum(1 for x in lat if x > p90),
        "read_p50_ms": statistics.median(reads) if reads else None,
        "write_p50_ms": statistics.median(writes) if writes else None,
        "ops_failed_frac": failed / len(ops),
    }
    return metrics, report


def per_layer(raw):
    ops = raw["ops"]
    traced_ops = {o["id"]: o for o in ops if o["traced"]}
    traced_passes = [p for p in raw["passes"] if p["traced"]]
    n_pass = max(1, len(traced_passes))
    spans = [s for s in raw["spans"] if s["op"] in traced_ops]
    selfs = self_times(spans)

    # spans onto the event clock (epoch ms)
    off = raw["clock"]["epoch_ms"] - raw["clock"]["nano"] / 1e6
    windows = [(s["t0"] / 1e6 + off, s["t1"] / 1e6 + off) for s in spans]
    jobs = raw["jobs"]
    owner = attribute_jobs(windows, jobs)
    job_tasks = tasks_by_job(jobs, raw["tasks"])
    span_jobs = {}
    for j in jobs:
        if owner[j["id"]] is not None:
            span_jobs.setdefault(spans[owner[j["id"]]]["id"], []).append(j)

    def of(*names):
        return [(i, s) for i, s in enumerate(spans) if s["name"] in names]

    def self_ms(*names):
        return sum(_ms(selfs[s["id"]]) for _, s in of(*names)) / n_pass

    def span_tasks(s):
        return [t for j in span_jobs.get(s["id"], []) for t in job_tasks[j["id"]]]

    def jobs_of(*names):
        return sum(len(span_jobs.get(s["id"], [])) for _, s in of(*names)) / n_pass

    def task_sum(key, *names):
        return sum(t[key] for _, s in of(*names) for t in span_tasks(s)) / n_pass

    def idle_ms(*names):
        total = 0.0
        for i, s in of(*names):
            a, b = windows[i]
            total += executor_idle(a, b, [(t["launch"], t["finish"]) for t in span_tasks(s)])
        return total / n_pass

    run = of("run")
    rows_out = sum(s["notes"].get("rows_out", 0) for _, s in run)
    rows_read = sum(s["notes"].get("rows_read", 0) for _, s in run)
    refresh_read = sum(t["records_read"] for _, s in of("streaming.refresh") for t in span_tasks(s))
    appended = sum(p.get("rows_appended", 0) for p in traced_passes)

    # io facts are cumulative per pass: a traced pass wrote the difference
    by_index = {p["index"]: p for p in raw["passes"]}

    def grown(key):
        return sum(p.get(key, 0) - by_index.get(p["index"] - 1, {}).get(key, 0)
                   for p in traced_passes)
    written, user = grown("disk_bytes"), grown("user_bytes")

    warm = [o for o in ops if o["phase"] == "warm"]
    def thr(traced):
        sel = [o for o in warm if o["traced"] == traced]
        return len(sel) / (sum(o["t1"] - o["t0"] for o in sel) / 1e9)

    # the share of each operation's wall time that its layer spans (not
    # the root "op" span) leave unaccounted
    gaps = []
    for oid, o in traced_ops.items():
        total = sum(selfs[s["id"]] for s in spans if s["op"] == oid and s["name"] != "op")
        gaps.append(abs(total - (o["t1"] - o["t0"])) / (o["t1"] - o["t0"]))

    return {
        "engine.sql_ms": self_ms("engine.sql"),
        "engine.calls": len(of("engine.sql")) / n_pass,
        "operators.build_ms": self_ms("operators.build"),
        "operators.jobs": jobs_of("operators.build"),
        "operators.task_ms": task_sum("run_ms", "operators.build"),
        "plan.optimize_ms": self_ms("plan.optimize"),
        "plan.physical_ms": self_ms("plan.physical"),
        "prepare.ms": self_ms("prepare"),
        "prepare.jobs": jobs_of("prepare"),
        "prepare.codegen_compiles": sum(s["compiles"] for _, s in of("prepare")) / n_pass,
        "prepare.codegen_compile_ms": sum(s["compile_ns"] for _, s in of("prepare")) / 1e6 / n_pass,
        "prepare.executor_idle_ms": idle_ms("prepare"),
        "run.ms": self_ms("run"),
        "run.codegen_compiles": sum(s["compiles"] for _, s in run) / n_pass,
        "run.codegen_compile_ms": sum(s["compile_ns"] for _, s in run) / 1e6 / n_pass,
        "run.jobs": jobs_of("run"),
        "run.stages": len({(s["id"], t["stage"]) for _, s in run for t in span_tasks(s)}) / n_pass,
        "run.tasks": sum(len(span_tasks(s)) for _, s in run) / n_pass,
        "run.task_ms": task_sum("run_ms", "run"),
        "run.executor_idle_ms": idle_ms("run"),
        "run.shuffle_write_bytes": task_sum("shuffle_write", "run"),
        "run.spill_bytes": task_sum("spill", "run"),
        "run.peak_exec_mem_bytes": max([sum(t["peak_mem"] for t in span_tasks(s))
                                        for _, s in run] or [0]),
        "run.rows_read_per_row_out": rows_read / rows_out if rows_out else 0.0,
        "run.persisted_rdd_delta": sum(s["persisted"] for _, s in of("op")) / n_pass,
        "io.load_ms": raw["load_ms"][-1],
        "io.write_ms": self_ms("io.write", "io.register"),
        "io.compact_ms": self_ms("io.compact"),
        "io.bytes_written": written / n_pass,
        "io.write_amp": written / user if user else 0.0,
        "io.files_live": raw["passes"][-1].get("files_live", 0),
        "io.log_commits": grown("log_commits") / n_pass,
        "streaming.refresh_ms": self_ms("streaming.refresh"),
        "streaming.rows_read_per_row_appended": refresh_read / appended if appended else 0.0,
        "trace.overhead_frac": 1.0 - thr(True) / thr(False),
        "trace.self_time_gap_max": max(gaps or [0.0]),
    }


def summarize(raw):
    """(metrics for the result line, report fields) of one run."""
    e2e, report = end_to_end(raw)
    if raw["context"]["trace"]:
        values, units = per_layer(raw), dict(PER_LAYER)
    else:
        values, units = e2e, dict(END_TO_END)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    report.update(end_to_end={k: e2e[k] for k, _ in END_TO_END})
    return metrics, report
