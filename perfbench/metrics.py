"""Derive the benchmark's metrics from one run's result.json and spans.

End-to-end metrics come from the untraced window. Per-layer metrics come
from the traced window that follows it in a `--trace 1` run: spans of each
op (its SQL planning phases, its Spark jobs and their stages) and an in-JVM
replay of the same ops through the kernels. A metric that a workload does
not exercise reads 0.
"""
import json
import math

import stats

KERNEL_LAYERS = ("algo", "graph", "geo")


def _ops(window):
    return [{"kind": k, "ms": ms, "ok": ok, "pairs": p} for k, ms, ok, p in window["ops"]]


def _latencies(ops):
    return [o["ms"] if o["ok"] else math.inf for o in ops]


def _median_or_zero(xs):
    return stats.median(xs) if xs else 0.0


def _mean_or_zero(xs):
    return sum(xs) / len(xs) if xs else 0.0


def window_metrics(res, prefix=""):
    """Point-request latency and rate of one window, and the median pair
    rate of the batch passes next to it; `prefix` picks the traced ones."""
    w = res[prefix + "window"]
    ops = _ops(w)
    lat = _latencies(ops)
    q, tail = stats.tail(lat)
    rates = [p / t for p, t in zip(res[prefix + "batch_pairs"], res[prefix + "batch_s"])]
    return {
        "latency_p50_ms": stats.percentile(lat, 50),
        "latency_tail_ms": tail,
        # a failed op answers nothing: only correct answers count as served
        "throughput_rps": sum(1 for o in ops if o["ok"]) / w["seconds"],
        "pairs_per_s": stats.median(rates),
        "_tail_pct": q,
        "_samples": len(ops),
    }


def attempts(res):
    """(attempted, failed, causes) over every window of the run."""
    attempted = failed = 0
    causes = {}
    for key, w in res.items():
        if isinstance(w, dict) and "ops" in w:
            for o in _ops(w):
                attempted += 1
                failed += 0 if o["ok"] else 1
            for c in w["causes"]:
                causes[c["cause"]] = causes.get(c["cause"], 0) + c["count"]
    return attempted, failed, causes


def end_to_end(res):
    m = window_metrics(res)
    m["setup_s"] = stats.median(res["setup_s"])
    m["first_query_ms"] = _mean_or_zero(_latencies(_ops(res["first_ops"])))
    m["peak_heap_mb"] = res["peak_heap_mb"]
    # figures printed beside the gated set
    batch = res["batch_window"]
    attempted, failed, _ = attempts(res)
    extra = {"batch_s": stats.median(res["batch_s"])}
    routes = [o for o in _ops(batch) if o["kind"] == "route_wkb"]
    if routes:
        extra["routes_per_s"] = sum(o["pairs"] for o in routes if o["ok"]) / batch["seconds"]
    extra["failed_share"] = failed / attempted if attempted else 0.0
    return m, extra


def _spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer(res, spans_path, e2e):
    spans = _spans(spans_path)
    ops = {s["id"]: s for s in spans if s["layer"] == "op"}
    selfs = stats.self_times(spans)
    jobs = [s for s in spans if s["name"] == "job"]
    stages = [s for s in spans if s["name"] == "stage"]
    phases = [s for s in spans if s["layer"] == "sql"]
    replays = {s["op"]: s for s in spans if s["layer"] == "kernel"}
    n_ops = max(1, len(ops))
    kernels = res.get("kernels", {})
    setup = res.get("setup_layers", {})

    def per_op(xs):
        return sum(xs) / n_ops

    def stage_sum(attr):
        return per_op([s["attrs"].get(attr, 0.0) for s in stages])

    def kmed(name):
        return _median_or_zero(kernels.get(name, []))

    def smed(name):
        v = setup.get(name, 0.0)
        return _median_or_zero(v) if isinstance(v, list) else v

    stages_by_job = {}
    for s in stages:
        stages_by_job.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    gaps = [(j["end_us"] - j["start_us"]) - stats.union_length(stages_by_job.get(j["id"], []),
                                                               j["start_us"], j["end_us"])
            for j in jobs]
    plan_ms = {}
    for p in phases:
        plan_ms.setdefault(p["parent"], []).append((p["start_us"], p["end_us"]))
    plan_per_stmt = [stats.union_length(iv) / 1000.0 for iv in plan_ms.values()]
    job_ms = [(j["end_us"] - j["start_us"]) / 1000.0 for j in jobs]
    statements = sum(o["attrs"].get("statements", 0.0) for o in ops.values())

    # kernel time of an op: its replay's wall time, split over the kernel
    # layers by their busy time; the rest of the op is sql, spark and driver
    def kernel_us(o):
        r = replays.get(o["id"])
        if r is None:
            return {}
        busy = sum(r["attrs"].get(k + "_us", 0.0) for k in KERNEL_LAYERS)
        wall = r["end_us"] - r["start_us"]
        return {k: wall * r["attrs"].get(k + "_us", 0.0) / busy if busy else 0.0
                for k in KERNEL_LAYERS}

    def share(kind_ops, layers):
        total = sum(o["end_us"] - o["start_us"] for o in kind_ops)
        part = sum(v for o in kind_ops for k, v in kernel_us(o).items() if k in layers)
        return part / total if total else 0.0

    point_ops = [o for o in ops.values() if not o["attrs"].get("batch")]
    batch_ops = [o for o in ops.values() if o["attrs"].get("batch")]

    layer_self = {}
    for s in spans:
        if s["layer"] in ("op", "sql", "spark"):
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]]

    traced = window_metrics(res, "traced_")
    point_tiled = [o for o in ops.values() if o["name"] == "tiled_point"]
    jobs_by_op = {}
    for j in jobs:
        jobs_by_op[j["parent"]] = jobs_by_op.get(j["parent"], 0) + 1
    ch = kernels.get("ch_query_us", [])
    m = {
        "sql.plan_ms": _mean_or_zero(plan_per_stmt),
        "sql.statements": statements,
        "spark.jobs": per_op([1 for _ in jobs]),
        "spark.stages": per_op([1 for _ in stages]),
        "spark.tasks": stage_sum("tasks"),
        "spark.single_task_stages": per_op([1 for s in stages if s["attrs"].get("tasks") == 1]),
        "spark.job_ms": _mean_or_zero(job_ms),
        "spark.sched_gap_ms": (sum(gaps) / len(gaps) / 1000.0) if gaps else 0.0,
        "spark.task_run_ms": stage_sum("run_ms"),
        "spark.task_cpu_ms": stage_sum("cpu_ms"),
        "spark.gc_ms": stage_sum("gc_ms"),
        "spark.exchanges": per_op([o["attrs"].get("exchanges", 0.0) for o in ops.values()]),
        "spark.shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
        "spark.spill_bytes": stage_sum("spill_bytes"),
        "spark.input_bytes": stage_sum("input_bytes"),
        "routing.load_ms": smed("routing.load_ms"),
        "graph.build_ms": smed("graph.build_ms"),
        "graph.nodes": smed("graph.nodes"),
        "graph.edges": smed("graph.edges"),
        "graph.snap_us": kmed("snap_us"),
        "algo.ch_build_ms": kmed("ch_build_ms"),
        "algo.ch_shortcuts": kmed("ch_shortcuts"),
        "algo.ch_query_us_p50": stats.percentile(ch, 50) if ch else 0.0,
        "algo.ch_query_us_p99": stats.tail(ch)[1] if ch else 0.0,
        "algo.path_us": kmed("path_us"),
        "algo.one_to_many_us": kmed("one_to_many_us"),
        "algo.isochrone_us": kmed("isochrone_us"),
        "algo.isochrone_nodes": _mean_or_zero(kernels.get("isochrone_nodes", [])),
        "geo.wkb_us": kmed("wkb_us"),
        "geo.route_points": _mean_or_zero(kernels.get("route_points", [])),
        "tiled.build_ms": smed("tiled.build_ms"),
        "tiled.load_ms": smed("tiled.load_ms"),
        "tiled.overlay_nodes": smed("tiled.overlay_nodes"),
        "tiled.overlay_edges": smed("tiled.overlay_edges"),
        "tiled.tile_loads": float(sum(jobs_by_op.get(o["id"], 0) for o in point_tiled)),
        "tiled.cache_hit_share": (sum(1 for o in point_tiled if o["id"] not in jobs_by_op)
                                  / len(point_tiled)) if point_tiled else 0.0,
        "tiled.snap_ms": kmed("tiled.snap_ms"),
        "tiled.matrix_small_ms": kmed("tiled.matrix_small_ms"),
        "tiled.matrix_large_ms": kmed("tiled.matrix_large_ms"),
        "self.driver_ms": layer_self.get("op", 0.0) / 1000.0 / n_ops,
        "self.sql_ms": layer_self.get("sql", 0.0) / 1000.0 / n_ops,
        "self.spark_ms": layer_self.get("spark", 0.0) / 1000.0 / n_ops,
        "share.sql_spark": 1.0 - share(point_ops, KERNEL_LAYERS) if point_ops else 0.0,
        "share.sql_spark_base_ms": traced["latency_p50_ms"],
        "share.algo": share(batch_ops, ("algo",)),
        "share.algo_base_s": _median_or_zero(res.get("traced_batch_s", [])),
        "trace.overhead_latency_p50_ms": traced["latency_p50_ms"] - e2e["latency_p50_ms"],
        "trace.overhead_latency_tail_ms": traced["latency_tail_ms"] - e2e["latency_tail_ms"],
        "trace.overhead_throughput_rps": traced["throughput_rps"] - e2e["throughput_rps"],
        "trace.overhead_pairs_per_s": traced["pairs_per_s"] - e2e["pairs_per_s"],
    }
    return m
