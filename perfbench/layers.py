"""Per-layer metrics of one traced pass: spans from the tracer, jobs and
task metrics from the Spark event log."""

from __future__ import annotations

from .eventlog import EventLog, GroupStats
from .trace import ALL_LAYERS, self_times

#: per-layer metric -> unit
LAYER_METRICS = {
    "self_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "sched_wait_s": "s",
    "exec_cpu_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "python_s": "s",
}

#: ratios and totals reported beside the per-layer metrics
EXTRA_METRICS = {
    "sources.rows_read_per_input_row": "ratio",
    "spark.cpu_util": "ratio",
    "spark.unattributed_share": "ratio",
    "trace.pass_s": "s",
    "trace.unattributed_s": "s",
}


def layer_metrics(spans, log: EventLog, t0: float, t1: float,
                  input_rows: int, cpus: int) -> dict:
    """``{metric: value}`` over the pass window ``[t0, t1]`` (seconds
    since the epoch). Jobs are those submitted inside the window; a job
    whose group no span opened is unattributed."""
    group_layer = {sp.group: sp.layer for sp in spans if sp.group}
    group_layer.update({a: sp.layer for sp in spans for a in sp.aliases})
    jobs = log.jobs_between(t0 * 1e3, t1 * 1e3)
    intervals = [
        (j.start_ms / 1e3, (j.end_ms if j.end_ms is not None else t1 * 1e3) / 1e3, j.group)
        for j in jobs
    ]
    times = self_times(spans, t0, t1, intervals)
    by_group = log.stats_for_jobs(jobs)
    per_layer = {layer: GroupStats() for layer in ALL_LAYERS}
    unattributed = GroupStats()
    total = GroupStats()
    for group, st in by_group.items():
        per_layer.get(group_layer.get(group), unattributed).add(st)
        total.add(st)
    job_count: dict = {}
    for j in jobs:
        layer = group_layer.get(j.group)
        job_count[layer] = job_count.get(layer, 0) + 1

    out = {}
    for layer in ALL_LAYERS:
        st = per_layer[layer]
        out[f"{layer}.self_s"] = times["self"].get(layer, 0.0)
        out[f"{layer}.driver_s"] = times["driver"].get(layer, 0.0)
        out[f"{layer}.jobs"] = job_count.get(layer, 0)
        out[f"{layer}.sched_wait_s"] = st.sched_wait_s
        out[f"{layer}.exec_cpu_s"] = st.exec_cpu_s
        out[f"{layer}.shuffle_mb"] = st.shuffle_bytes / 1e6
        out[f"{layer}.spill_mb"] = st.spill_bytes / 1e6
        out[f"{layer}.python_s"] = st.python_s
    pass_s = t1 - t0
    out["sources.rows_read_per_input_row"] = total.records_read / input_rows if input_rows else 0.0
    out["spark.cpu_util"] = total.exec_cpu_s / (pass_s * cpus) if pass_s > 0 else 0.0
    out["spark.unattributed_share"] = (
        unattributed.exec_cpu_s / total.exec_cpu_s if total.exec_cpu_s > 0 else 0.0
    )
    out["trace.pass_s"] = pass_s
    out["trace.unattributed_s"] = times["unattributed"]
    return out


def jobs_by_span(spans, log: EventLog, t0: float, t1: float) -> dict:
    """``{"<layer>:<span name>": jobs}`` over the window: which op
    launched how many jobs. A job group belongs to the span that opened
    it (nested spans of the same layer share their outer span's group)."""
    owner: dict = {}
    for sp in spans:
        owner.setdefault(sp.group, sp)
        for a in sp.aliases:
            owner.setdefault(a, sp)
    out: dict = {}
    for j in log.jobs_between(t0 * 1e3, t1 * 1e3):
        sp = owner.get(j.group)
        key = f"{sp.layer}:{sp.name}" if sp else "unattributed"
        out[key] = out.get(key, 0) + 1
    return dict(sorted(out.items()))


def all_units() -> dict:
    units = {f"{layer}.{m}": u for layer in ALL_LAYERS for m, u in LAYER_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units
