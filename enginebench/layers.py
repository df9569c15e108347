"""Per-layer metrics of the traced run.

Each metric is measured from outside the program: spans around the calls
the benchmark makes into ``session``, ``catalog``, ``api`` and the query
registry (``plans``), the Spark event log (jobs, stages, tasks, file writes
and streaming micro-batch progress), a dedup probe through
``operators.dedup`` and the scratch and warehouse dirs. Unless
its name says otherwise a metric is a mean per timed op of the traced phase,
so a layer a workload does not use reads 0.
"""

from __future__ import annotations

import statistics

from enginebench.tracing import covered
from enginebench.workloads import Registry

UNITS = {
    "session.start_s": "s",
    "catalog.register_s": "s",
    "catalog.input_bytes": "bytes",
    "api.query_crm_s": "s",
    "api.query_crm_p50_s": "s",
    "segment.jobs_per_call": "count",
    "segment.rows_scanned_per_call": "count",
    "segment.rows_per_result": "count",
    "segment.empty_frac": "ratio",
    "api.copy_s": "s",
    "api.schedule_s": "s",
    "campaign.jobs_per_call": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.action_s": "s",
    **{f"plans.op_p50_s.{q}": "s" for q in Registry.queries},
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "spark.busy_frac": "ratio",
    "spark.gc_frac": "ratio",
    "spark.sched_gap_s": "s",
    "spark.failed_tasks": "count",
    "streaming.batches_per_op": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.state_rows": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
    "sources.bytes_written": "bytes",
    "sources.files_written": "count",
    "sources.bytes_left": "bytes",
    "memory.jvm_peak_rss_mb": "MB",
    "memory.python_peak_rss_mb": "MB",
    "gen_s": "s",
    "warmup_s": "s",
    "oracle.check_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(samples, spans, log, dedup: dict, cpus: int, base: dict) -> dict[str, float]:
    """Per-layer metrics over the traced phase's ``samples``.

    ``spans`` are the tracer's spans, ``log`` the folded event log,
    ``dedup`` the probe's pair counts and ``base`` the values measured
    elsewhere in the run (set-up medians, memory, benchmark-side times)."""
    n = len(samples)
    ops = {i: s for i, s in enumerate(samples)}
    phase_time: dict[str, float] = {}
    phase_windows: dict[str, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.op is not None and sp.name != "op":
            phase_time[sp.name] = phase_time.get(sp.name, 0.0) + sp.end - sp.start
            phase_windows.setdefault(sp.name, []).append((sp.start, sp.end))

    # an event-log record belongs to the op whose window holds its time
    bounds = [(s.start, s.end, i) for i, s in ops.items()]

    def op_of(t: float) -> int | None:
        return next((i for lo, hi, i in bounds if lo <= t <= hi), None)

    op_jobs: dict[int, list] = {i: [] for i in ops}
    for job in log.jobs:
        i = op_of(job.submitted)
        if i is not None:
            op_jobs[i].append(job)
    batches = [p for t, p in log.batches if op_of(t) is not None]
    files = sum(n for t, n in log.writes if op_of(t) is not None)
    state_rows: dict[str, int] = {}
    for p in batches:  # the last batch of each stream run holds its state size
        state_rows[p["runId"]] = sum(o["numRowsTotal"] for o in p.get("stateOperators", []))

    def batch_s(*keys: str) -> float:
        return sum(p["durationMs"].get(k, 0) for p in batches for k in keys) / 1e3 / n

    def in_phase(job, phase: str) -> bool:
        return any(lo <= job.submitted <= hi for lo, hi in phase_windows.get(phase, ()))

    def stages(i):
        seen = {}
        for job in op_jobs[i]:
            for st in job.stages:
                seen[id(st)] = st
        return list(seen.values())

    all_jobs = [j for i in ops for j in op_jobs[i]]
    all_stages = [st for i in ops for st in stages(i)]
    wall = sum(s.seconds for s in samples)
    run_ms = sum(st.run_ms for st in all_stages)

    def total(attr: str) -> float:
        return sum(getattr(st, attr) for st in all_stages)

    kinds: dict[str, list[int]] = {}
    for i, s in ops.items():
        kinds.setdefault(s.op.kind, []).append(i)
    crm = kinds.get("query_crm", [])
    campaign = kinds.get("copy", []) + kinds.get("schedule", [])
    crm_rows = [ops[i].out["count"] for i in crm if ops[i].out is not None]

    gaps = 0.0
    for i, s in ops.items():
        windows = [(st.start, st.end) for st in stages(i) if st.end]
        gaps += (s.end - s.start) - covered(windows, s.start, s.end)

    out = {
        "session.start_s": base["session.start_s"],
        "catalog.register_s": base["catalog.register_s"],
        "catalog.input_bytes": total("input_bytes") / n,
        "api.query_crm_s": phase_time.get("api.query_crm", 0.0) / n,
        "api.query_crm_p50_s": (
            statistics.median(ops[i].seconds for i in crm) if crm else 0.0),
        "segment.jobs_per_call": _ratio(sum(len(op_jobs[i]) for i in crm), len(crm)),
        "segment.rows_scanned_per_call": _ratio(
            sum(st.input_records for i in crm for st in stages(i)), len(crm)),
        "segment.rows_per_result": _ratio(sum(crm_rows), len(crm_rows)),
        "segment.empty_frac": _ratio(sum(r == 0 for r in crm_rows), len(crm_rows)),
        "api.copy_s": phase_time.get("api.copy", 0.0) / n,
        "api.schedule_s": phase_time.get("api.schedule", 0.0) / n,
        "campaign.jobs_per_call": _ratio(
            sum(len(op_jobs[i]) for i in campaign), len(campaign)),
        "plans.build_s": phase_time.get("plans.build", 0.0) / n,
        "plans.build_jobs": sum(in_phase(j, "plans.build") for j in all_jobs) / n,
        "plans.action_s": phase_time.get("plans.action", 0.0) / n,
        "spark.jobs_per_op": len(all_jobs) / n,
        "spark.tasks_per_op": total("tasks") / n,
        "spark.shuffle_write_bytes": total("shuffle_write_bytes") / n,
        "spark.spill_bytes": total("spill_bytes") / n,
        "spark.peak_exec_mem_bytes": sum(
            max((st.peak_exec_mem for st in stages(i)), default=0) for i in ops) / n,
        "spark.busy_frac": run_ms / 1e3 / (wall * cpus),
        "spark.gc_frac": _ratio(total("gc_ms"), run_ms),
        "spark.sched_gap_s": gaps / n,
        "spark.failed_tasks": total("failed_tasks") / n,
        "streaming.batches_per_op": len(batches) / n,
        "streaming.trigger_s": batch_s("triggerExecution"),
        "streaming.add_batch_s": batch_s("addBatch"),
        "streaming.commit_s": batch_s("walCommit", "commitOffsets") + sum(
            o["commitTimeMs"] for p in batches for o in p.get("stateOperators", [])) / 1e3 / n,
        "streaming.state_rows": sum(state_rows.values()) / n,
        "dedup.candidate_pairs": dedup.get("candidates", 0),
        "dedup.verified_pairs": dedup.get("verified", 0),
        "dedup.candidate_precision": _ratio(dedup.get("verified", 0), dedup.get("candidates", 0)),
        "sources.bytes_written": total("output_bytes") / n,
        "sources.files_written": files / n,
        "sources.bytes_left": base["bytes_left"] / n,
        "memory.jvm_peak_rss_mb": base["rss"]["jvm"],
        "memory.python_peak_rss_mb": base["rss"]["python"],
        "gen_s": base["gen_s"],
        "warmup_s": base["warmup_s"],
        "oracle.check_s": base["oracle.check_s"],
        "trace.ops_per_s": base["trace.ops_per_s"],
        "trace.overhead_frac": 1.0 - base["trace.ops_per_s"] / base["untraced_ops_per_s"],
    }
    for q in Registry.queries:
        times = [s.seconds for s in samples if s.op.kind.split("_")[0] == q]
        out[f"plans.op_p50_s.{q}"] = statistics.median(times) if times else 0.0
    return out
