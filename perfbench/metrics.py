"""Reduce one run's raw records (written by graftbench.Main) to metrics.

End-to-end metrics come from every op of the window; per-layer metrics
from the traced passes only, per traced op unless the name says
otherwise (vt.*_s are medians per call; vt end state is a snapshot).
"""
import statistics

# name -> unit; the order is the order of BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "ops/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "ok_frac": "ratio",
}

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "codegen.compiles": "count",
    "exec.run_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_only_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.busy_frac": "ratio",
    "executor.task_skew": "ratio", "executor.peak_exec_mem_bytes": "bytes",
    "scan.bytes": "bytes", "scan.records": "count",
    "operator.wscg_s": "s", "operator.scan_s": "s", "operator.sort_s": "s",
    "operator.agg_build_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.write_s": "s", "shuffle.fetch_wait_s": "s",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes",
    "gc.s": "s", "gc.count": "count", "gc.heap_peak_mb": "MB",
    "storage.sweep_s": "s", "storage.leaked_rdds": "count",
    "storage.leaked_streams": "count", "storage.leaked_views": "count",
    "storage.leaked_tmp_entries": "count",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "vt.append_s": "s", "vt.upsert_s": "s", "vt.delete_s": "s",
    "vt.maintain_s": "s", "vt.vacuum_s": "s", "vt.restore_s": "s",
    "vt.read_s": "s", "vt.time_travel_s": "s", "vt.changes_s": "s",
    "vt.write_p50_s": "s", "vt.write_p90_s": "s",
    "vt.versions": "count", "vt.live_files": "count", "vt.dv_shards": "count",
    "vt.dir_files": "count", "vt.dir_bytes": "bytes", "vt.write_amp": "ratio",
    "vt.space_amp": "ratio",
    "io.read_bytes": "bytes", "io.write_bytes": "bytes",
    "trace.overhead_frac": "ratio", "trace.uncovered_s": "s",
}


def pct(values, q):
    """The q-th percentile (0-100), linear between closest ranks."""
    if not values:
        return 0.0
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _covered(interval, merged):
    s, e = interval
    return sum(max(0.0, min(e, b) - max(s, a)) for a, b in merged)


def span_self_times(spans):
    """{span name: {"count", "total_s", "self_s"}}: self time is the span's
    duration minus the part its child spans cover."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        dur = (sp["end_ms"] - sp["start_ms"]) / 1000.0
        child = _covered((sp["start_ms"], sp["end_ms"]),
                         _merge([(c["start_ms"], c["end_ms"])
                                 for c in kids.get(sp["id"], [])])) / 1000.0
        agg = out.setdefault(sp["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur
        agg["self_s"] += dur - child
    return out


def end_to_end(raw, failed_faces):
    ops = raw["ops"]
    ok = [o for o in ops if o["error"] is None and o["name"] not in failed_faces]
    window = sum(o["lat_s"] for o in ops)
    lat = [o["lat_s"] for o in ok]
    return {
        "setup_s": raw["setup_s"],
        "throughput_ops_s": len(ok) / window if window > 0 else 0.0,
        "latency_p50_s": pct(lat, 50),
        "latency_p90_s": pct(lat, 90),
        "ok_frac": len(ok) / len(ops) if ops else 0.0,
    }


def trace_overhead(pass_wall):
    """Traced ÷ untraced op time − 1, over the pass seeds that ran both
    ways (a traced run replays each pass seed traced and untraced)."""
    pairs = {}
    for p in pass_wall:
        pairs.setdefault(p["seed_index"], {})[p["traced"]] = p["op_s"]
    both = [v for v in pairs.values() if len(v) == 2]
    untraced = sum(v[False] for v in both)
    return sum(v[True] for v in both) / untraced - 1.0 if untraced > 0 else 0.0


def per_layer(raw):
    ops = raw["ops"]
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    lay = raw["layers"]
    spans = raw["spans"]
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp["name"], []).append((sp["end_ms"] - sp["start_ms"]) / 1000.0)

    def total(name):
        return sum(by_name.get(name, []))

    def median(name):
        xs = by_name.get(name, [])
        return statistics.median(xs) if xs else 0.0

    jobs = _merge([(s, e) for s, e in lay.get("jobs", [])])
    op_iv = [(o["start_ms"], o["end_ms"]) for o in traced]
    driver_only = sum((e - s) - _covered((s, e), jobs) for s, e in op_iv) / 1000.0
    builds = [(sp["start_ms"], sp["end_ms"]) for sp in spans if sp["name"] == "build"]
    build_jobs = sum(1 for s, _ in lay.get("jobs", [])
                     if any(a <= s <= b for a, b in builds))
    traced_wall = sum(o["lat_s"] for o in traced)
    cores = raw["cores"]

    # uncovered remainder: op time no build / exec / vt.* child span covers
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start_ms"], sp["end_ms"]))
    uncovered = sum((sp["end_ms"] - sp["start_ms"])
                    - _covered((sp["start_ms"], sp["end_ms"]), _merge(kids.get(sp["id"], [])))
                    for sp in spans if sp["name"] == "op") / 1000.0

    end = raw.get("end_state") or {}
    writes = [o["lat_s"] for o in ops if o["write"] and o["error"] is None]
    wrote = sum(o["io_write"] for o in traced if o["write"])
    skews = lay.get("task_skews", [])
    m = {
        "queries.build_s": total("build") / n,
        "queries.build_jobs": build_jobs / n,
        "catalyst.analysis_s": lay.get("analysis_ms", 0) / 1000.0 / n,
        "catalyst.optimization_s": lay.get("optimization_ms", 0) / 1000.0 / n,
        "catalyst.planning_s": lay.get("planning_ms", 0) / 1000.0 / n,
        "codegen.compiles": lay.get("compiles", 0) / n,
        "exec.run_s": total("exec") / n,
        "scheduler.jobs": len(lay.get("jobs", [])) / n,
        "scheduler.stages": lay.get("stages", 0) / n,
        "scheduler.tasks": lay.get("tasks", 0) / n,
        "scheduler.driver_only_s": driver_only / n,
        "executor.run_s": lay.get("run_ms", 0) / 1000.0 / n,
        "executor.cpu_s": lay.get("cpu_ns", 0) / 1e9 / n,
        "executor.busy_frac": (lay.get("run_ms", 0) / 1000.0 / (traced_wall * cores)
                               if traced_wall > 0 else 0.0),
        "executor.task_skew": statistics.median(skews) if skews else 0.0,
        "executor.peak_exec_mem_bytes": lay.get("peak_exec_mem", 0),
        "scan.bytes": lay.get("scan_bytes", 0) / n,
        "scan.records": lay.get("scan_records", 0) / n,
        "operator.wscg_s": lay.get("wscg_ms", 0) / 1000.0 / n,
        "operator.scan_s": lay.get("scan_ms", 0) / 1000.0 / n,
        "operator.sort_s": lay.get("sort_ms", 0) / 1000.0 / n,
        "operator.agg_build_s": lay.get("agg_ms", 0) / 1000.0 / n,
        "shuffle.write_bytes": lay.get("shuffle_write_bytes", 0) / n,
        "shuffle.read_bytes": lay.get("shuffle_read_bytes", 0) / n,
        "shuffle.write_s": lay.get("shuffle_write_ns", 0) / 1e9 / n,
        "shuffle.fetch_wait_s": lay.get("shuffle_fetch_wait_ms", 0) / 1000.0 / n,
        "spill.memory_bytes": lay.get("spill_memory", 0) / n,
        "spill.disk_bytes": lay.get("spill_disk", 0) / n,
        "gc.s": lay.get("gc_ms", 0) / 1000.0 / n,
        "gc.count": lay.get("gc_count", 0) / n,
        # the top decile of the heap left after each of the window's
        # collections, over the whole window: their maximum swings with
        # when G1 happens to collect
        "gc.heap_peak_mb": pct(raw["heap_after_gc_mb"], 90),
        "storage.sweep_s": statistics.mean(o["sweep_s"] for o in ops) if ops else 0.0,
        "storage.leaked_rdds": statistics.mean(o["leaked_rdds"] for o in ops) if ops else 0.0,
        "storage.leaked_streams":
            statistics.mean(o["leaked_streams"] for o in ops) if ops else 0.0,
        "storage.leaked_views": statistics.mean(o["leaked_views"] for o in ops) if ops else 0.0,
        "storage.leaked_tmp_entries":
            statistics.mean(o["leaked_tmp_entries"] for o in ops) if ops else 0.0,
        "streaming.batches": lay.get("batches", 0) / n,
        "streaming.trigger_s": lay.get("trigger_ms", 0) / 1000.0 / n,
        "streaming.state_commit_s": lay.get("state_commit_ms", 0) / 1000.0 / n,
        "streaming.state_rows": lay.get("state_rows", 0) / n,
        "streaming.state_mem_bytes": lay.get("state_mem", 0) / n,
        "vt.append_s": median("vt.append"),
        "vt.upsert_s": median("vt.upsert"),
        "vt.delete_s": median("vt.delete"),
        "vt.maintain_s": median("vt.maintain"),
        "vt.vacuum_s": median("vt.vacuum"),
        "vt.restore_s": median("vt.restore"),
        "vt.read_s": median("vt.read"),
        "vt.time_travel_s": median("vt.time_travel"),
        "vt.changes_s": median("vt.changes"),
        "vt.write_p50_s": pct(writes, 50),
        "vt.write_p90_s": pct(writes, 90),
        "vt.versions": end.get("versions", 0),
        "vt.live_files": end.get("live_files", 0),
        "vt.dv_shards": end.get("dv_shards", 0),
        "vt.dir_files": end.get("dir_files", 0),
        "vt.dir_bytes": end.get("dir_bytes", 0),
        "vt.write_amp": (wrote / end["submitted_bytes"]
                         if end.get("submitted_bytes") else 0.0),
        "vt.space_amp": (end["dir_bytes"] / end["live_bytes"]
                         if end.get("live_bytes") else 0.0),
        "io.read_bytes": sum(o["io_read"] for o in traced) / n,
        "io.write_bytes": sum(o["io_write"] for o in traced) / n,
        "trace.overhead_frac": trace_overhead(raw["pass_wall"]),
        "trace.uncovered_s": uncovered / n,
    }
    assert set(m) == set(PER_LAYER), set(m) ^ set(PER_LAYER)
    return m
