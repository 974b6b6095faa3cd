"""Turns one harness result into the benchmark's metrics.

End-to-end metrics come from the untraced timed operations; per-layer
metrics come from the traced third of a traced run and are reported per
primary operation (a request, or an ingest batch), so their values do
not depend on how many rounds fit into the run.
"""
import math

# primary operation kind of each workload: what request_p*_ms measures
PRIMARY = {"pipelines_small": "request", "curate_bulk": "request",
           "ingest_serve": "batch"}

END_TO_END = {
    "setup_s": "s", "request_p50_ms": "ms", "request_p90_ms": "ms",
    "requests_per_min": "1/min", "docs_per_s": "1/s",
    "retained_heap_mb": "MB",
}

# every per-layer metric with its unit, layer by layer
PER_LAYER = {
    "dsl.parse_ms": "ms", "core.stage_ms": "ms",
    "core.runner_self_ms": "ms", "core.final_action_ms": "ms",
    "core.stages": "count", "core.retries": "count",
    "operators.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.executions": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.job_wall_ms": "ms",
    "scheduler.driver_only_ms": "ms",
    "task.run_ms": "ms", "task.cpu_ms": "ms", "task.gc_ms": "ms",
    "task.slot_utilization": "share",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.bytes": "bytes",
    "io.input_bytes": "bytes", "io.output_bytes": "bytes",
    "streaming.start_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.batches": "count",
    "streaming.input_rows": "count",
    "sources.commits": "count", "sources.files_rewritten": "count",
    "sources.files_carried": "count", "sources.rewrite_share": "share",
    "sources.data_files": "count", "sources.pruned_read_share": "share",
    "serve.lookup_p50_ms": "ms", "serve.lookup_p90_ms": "ms",
    "serve.store_bytes_per_doc": "bytes/doc",
    "error_rate": "share", "trace.overhead_pct": "%",
}
# listener and hook totals, reported per traced primary operation
PER_OP_TOTALS = (
    "core.retries", "operators.eager_jobs", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.executions", "scheduler.jobs", "scheduler.stages",
    "scheduler.tasks", "scheduler.job_wall_ms", "task.run_ms",
    "task.cpu_ms", "task.gc_ms", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes",
    "io.input_bytes", "io.output_bytes", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.batches", "streaming.input_rows",
    "sources.commits", "sources.files_rewritten", "sources.files_carried")
# span-derived metrics: (span name, "self" or "total" time, or "count"),
# per traced primary operation
FROM_SPANS = {
    "dsl.parse_ms": ("build", "self"),
    "core.stage_ms": ("stage", "total"),
    "core.runner_self_ms": ("pipeline", "self"),
    "core.final_action_ms": ("final_action", "total"),
    "core.stages": ("stage", "count"),
    "streaming.start_ms": ("registry_start", "total"),
}


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified
    Lentz's method)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x
                    / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-15:
            break
    return h


def betainc(a: float, b: float, x: float) -> float:
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(values, q: float) -> float:
    """The q-quantile (0 < q < 1) by the Harrell-Davis estimator: a mean
    of all order statistics, weighted by a Beta((n+1)q, (n+1)(1-q))
    distribution. A workload's requests fall into clusters (one per
    pipeline); a plain order statistic jumps when one sample crosses from
    one cluster to the next, this estimate moves by that sample's weight."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    n = len(xs)
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def span_times(spans) -> dict:
    """Per span name: total time, self time (total minus the time of its
    direct children) in ms, and the number of spans."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0) + (
            s["end_ns"] - s["start_ns"])
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        t = out.setdefault(s["name"], {"total": 0.0, "self": 0.0, "count": 0})
        t["total"] += dur / 1e6
        t["self"] += (dur - child.get(s["id"], 0)) / 1e6
        t["count"] += 1
    return out


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def end_to_end(res: dict, plan: dict, setup_s: float) -> dict:
    kind = PRIMARY[plan["workload"]]
    timed = [o for o in res["ops"] if not o["traced"]]
    primary = [o["ms"] for o in timed if o["kind"] == kind]
    wall_ms = sum(o["ms"] for o in timed if o["kind"] in (kind, "lookup"))
    docs = sum(docs_of(plan, o) for o in timed if o["kind"] == kind)
    return {
        "setup_s": setup_s,
        "request_p50_ms": percentile(primary, 0.5),
        "request_p90_ms": percentile(primary, 0.9),
        "requests_per_min": len(primary) / (wall_ms / 60_000.0),
        "docs_per_s": docs / (wall_ms / 1000.0),
        "retained_heap_mb": res["heap_mb"],
    }


def docs_of(plan: dict, op: dict) -> int:
    """Input documents (records) one primary operation processes."""
    if plan["workload"] == "ingest_serve":
        return plan["files"][int(op["name"].split("-")[1])]["docs"]
    return plan["docs_per_request"][op["name"]]


def per_layer(res: dict, plan: dict, attempted: int, failed: int,
              cpus: int) -> dict:
    kind = PRIMARY[plan["workload"]]
    layers = res["layers"]
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"]]
    n = sum(o["kind"] == kind for o in traced)
    traced_wall = sum(o["ms"] for o in traced if o["kind"] in (kind, "lookup"))
    out = {k: layers.get(k, 0.0) / n for k in PER_OP_TOTALS}
    spans = span_times(res["spans"])
    for k, (name, how) in FROM_SPANS.items():
        out[k] = spans.get(name, {}).get(how, 0.0) / n
    lookups = [o["ms"] for o in untraced if o["kind"] == "lookup"]
    mean = lambda ops: sum(o["ms"] for o in ops if o["kind"] == kind) / max(
        1, sum(o["kind"] == kind for o in ops))
    corpus = plan["inputs"]["documents"]["docs"]
    out.update({
        "scheduler.driver_only_ms":
            (traced_wall - layers.get("scheduler.job_wall_ms", 0.0)) / n,
        "task.slot_utilization":
            _share(layers.get("task.slot_ms", 0.0), cpus * traced_wall),
        "sources.rewrite_share": _share(
            layers.get("sources.files_rewritten", 0.0),
            layers.get("sources.files_rewritten", 0.0)
            + layers.get("sources.files_carried", 0.0)),
        "sources.data_files": layers.get("sources.data_files", 0.0),
        "sources.pruned_read_share": _share(
            layers.get("sources.pruned_files_opened", 0.0),
            layers.get("sources.pruned_files_total", 0.0)),
        "serve.lookup_p50_ms": percentile(lookups, 0.5) if lookups else 0.0,
        "serve.lookup_p90_ms": percentile(lookups, 0.9) if lookups else 0.0,
        "serve.store_bytes_per_doc":
            _share(res["store_bytes"], corpus) if kind == "batch" else 0.0,
        "error_rate": _share(failed, attempted),
        "trace.overhead_pct": (mean(traced) / mean(untraced) - 1.0) * 100.0,
    })
    return {k: out[k] for k in PER_LAYER}
