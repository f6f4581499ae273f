"""Per-layer metrics of the traced run, named by engine module.

Every metric is the median over the run's traced passes of a per-pass
value, except where a docstring line below says otherwise.  Which
end-to-end metric each layer should move, on which workload, is mapped in
perfbench/README.md.
"""

from __future__ import annotations

import statistics

PER_LAYER_UNITS = {
    # session (set-up; python.* from the warm-up pass)
    "session.start_s": "s", "python.boot_ms": "ms", "python.init_ms": "ms",
    # sources.tiles
    "tiles.read_s": "s", "tiles.broadcast_bytes": "bytes",
    # operators.lookup, driver side
    "lookup.plan_s": "s", "lookup.plan_jobs": "count", "driver_only_s": "s",
    "lookup.salted": "flag",
    # operators.lookup, the Arrow boundary (PythonSQLMetrics)
    "python.total_ms": "ms", "python.data_sent_mb": "MB",
    "python.data_received_mb": "MB", "python.rows_received": "count",
    # operators.lookup, per-worker grid cache
    "lookup.grid_cache_hit_rate": "ratio",
    # kernels, called directly in the driver
    "kernels.bilinear_ns_per_point": "ns", "kernels.decode_ms.hgt": "ms",
    "kernels.decode_ms.hgt_gz": "ms", "kernels.decode_ms.terrarium_png": "ms",
    "kernels.decode_ms.srtm1": "ms",
    # operators.extract
    "extract.points_per_page": "points/page", "extract.scan_stage_ms": "ms",
    # shuffle, over the action's stages
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_mb": "MB",
    "skew.task_max_over_median": "ratio",
    # operators.geojson
    "geojson.plan_s": "s",
    # executors, over every stage of the pass
    "exec.jobs": "count", "exec.tasks": "count", "exec.run_ms": "ms",
    "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    # memory
    "mem.driver_jvm_peak_rss_mb": "MB", "mem.workers_rss_sum_mb": "MB",
    # the trace itself, the oracle, input generation and host weather
    "trace.items_per_s": "1/s", "trace.untraced_items_per_s": "1/s",
    "trace.overhead_share": "ratio",
    "failed_share": "ratio", "gen.inputs_s": "s", "host.cpu_probe_mops": "Mops/s",
}

_MB = 1e6
_PLAN_SPANS = ("lookup.plan", "geojson.plan")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _union_s(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _jobs(span):
    return [s for s in span.walk() if s.attrs.get("kind") == "job"]


def _stages(jobs) -> dict[int, dict]:
    return {s.attrs["stage_id"]: s.attrs for j in jobs for s in j.children
            if s.attrs.get("kind") == "stage"}


def _python(pass_span, metric: str) -> float:
    return sum(nd["metrics"].get(metric, 0.0) for nd in pass_span.attrs["python"])


def _kernel_skew(pass_span, status) -> float:
    """Slowest over median task run time of the stage running the Python
    kernel, the cogroup stage when the plan has one.  A stage of one task
    has no stage id in its metrics and reads 1.0."""
    nodes = sorted(pass_span.attrs["python"],
                   key=lambda nd: nd["node"] != "FlatMapCoGroupsInPandas")
    if not nodes:
        return 0.0
    if nodes[0]["stage"] is None:
        return 1.0
    runs = status.task_run_ms(*nodes[0]["stage"])
    med = statistics.median(runs) if runs else 0
    return max(runs) / med if med > 0 else 1.0


def _per_pass(p, status) -> dict:
    child = {c.name: c for c in p.children}
    plan = [child[n] for n in _PLAN_SPANS if n in child]
    action = child["action"]
    jobs, action_jobs = _jobs(p), _jobs(action)
    stages, action_stages = _stages(jobs), _stages(action_jobs)
    total = lambda st, k: sum(s[k] for s in st.values())  # noqa: E731
    return {
        "lookup.plan_s": child["lookup.plan"].wall if "lookup.plan" in child else 0.0,
        "geojson.plan_s": child["geojson.plan"].wall if "geojson.plan" in child else 0.0,
        "lookup.plan_jobs": sum(len(_jobs(s)) for s in plan),
        "driver_only_s": p.wall - _union_s((j.start, j.end) for j in jobs),
        "python.total_ms": _python(p, "time to run Python workers"),
        "python.data_sent_mb": _python(p, "data sent to Python workers") / _MB,
        "python.data_received_mb": _python(p, "data returned from Python workers") / _MB,
        "python.rows_received": _python(p, "number of output rows"),
        "extract.scan_stage_ms": sum(stages[s]["run_ms"] for s in p.attrs["regex_stages"]
                                     if s in stages),
        "shuffle.write_mb": total(action_stages, "shuffle_write_bytes") / _MB,
        "shuffle.read_mb": total(action_stages, "shuffle_read_bytes") / _MB,
        "shuffle.fetch_wait_ms": total(action_stages, "fetch_wait_ms"),
        "shuffle.spill_mb": total(action_stages, "spill_bytes") / _MB,
        "skew.task_max_over_median": _kernel_skew(p, status),
        "exec.jobs": len(jobs),
        "exec.tasks": total(stages, "tasks"),
        "exec.run_ms": total(stages, "run_ms"),
        "exec.cpu_ms": total(stages, "cpu_ms"),
        "exec.gc_ms": total(stages, "gc_ms"),
        # the pickled tile dict the broadcast enrich and fused GeoJSON ship
        "tiles.broadcast_bytes": p.attrs["broadcast_bytes"],
        "lookup.salted": float(any(nd["salted"] for nd in p.attrs["python"])),
    }


def per_layer(*, workload, n_items, passes, walls, untraced_walls, setup, warm,
              acc, mem, check, status, kernel, gen_s, weather) -> dict:
    rows = [_per_pass(p, status) for p in passes]
    out = {k: _median([r[k] for r in rows]) for k in rows[0]}
    hits, misses = acc["hits"].value, acc["misses"].value
    traced_ips = n_items / _median(walls)
    untraced_ips = n_items / _median(untraced_walls) if untraced_walls else traced_ips
    out.update(kernel)
    out.update({
        "session.start_s": setup["session_s"],
        "python.boot_ms": _python(warm, "time to start Python workers"),
        "python.init_ms": _python(warm, "time to initialize Python workers"),
        "tiles.read_s": setup["tiles_s"],
        # counted only where the path accepts cache_metrics (the broadcast
        # enrich); the cogroup and fused-GeoJSON kernels report 0
        "lookup.grid_cache_hit_rate": hits / (hits + misses) if hits + misses else 0.0,
        "extract.points_per_page": (check.rows["rows"]["output"] / check.attempted
                                    if workload == "pages_skewed" else 0.0),
        "mem.driver_jvm_peak_rss_mb": mem["driver_jvm_peak_rss_mb"],
        "mem.workers_rss_sum_mb": mem["workers_rss_sum_mb"],
        "trace.items_per_s": traced_ips,
        "trace.untraced_items_per_s": untraced_ips,
        "trace.overhead_share": 1.0 - traced_ips / untraced_ips,
        "failed_share": check.failed / check.attempted,
        "gen.inputs_s": gen_s,
        "host.cpu_probe_mops": weather["cpu_probe_mops"],
    })
    assert set(out) == set(PER_LAYER_UNITS), set(out) ^ set(PER_LAYER_UNITS)
    return out
