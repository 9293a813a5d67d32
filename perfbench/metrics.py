"""Metric tables and the arithmetic that turns passes and spans into them.

No Spark here: the functions take finished passes (end-to-end) or a tracer
whose spans already carry their Spark jobs (per-layer), so the unit tests
can feed them synthetic input.
"""

from __future__ import annotations

import statistics

from spans import Tracer, idle_seconds, jobs_under

# name -> unit; BENCHMARK.json lists the same names (a unit test checks it)
END_TO_END = {
    "setup_s": "s",
    "query_s": "s",
    "key_p50_s": "s",
    "read_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "runner.jobs_per_file": "count",
    "runner.schema_jobs": "count",
    "runner.job_p50_s": "s",
    "runner.job_p95_s": "s",
    "runner.idle_s": "s",
    "runner.busy_ratio": "ratio",
    "runner.scan_s": "s",
    "runner.read_ops": "count",
    "runner.rows": "count",
    "runner.pull_s": "s",
    "runner.pull_first_batch_s": "s",
    "runner.pull_rows_per_s": "1/s",
    "tables.load_s": "s",
    "tables.schema_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_ratio": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.input_mb": "MB",
    "exec.output_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.peak_exec_mem_mb": "MB",
    "driver.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

MB = 1e6


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes, setup_s: float) -> dict[str, float]:
    """``passes`` are the timed window's passes (``workloads.Pass``).

    ``query_s`` is the time of one pass with every operation at its median
    over the window (the sum of per-operation medians), which one slow
    operation in one pass cannot move; ``key_p50_s`` is the median of the
    per-operation medians."""
    per_op: dict[str, list[float]] = {}
    for p in passes:
        for op, secs in p.ops.items():
            per_op.setdefault(op, []).append(secs)
    op_medians = [median(v) for v in per_op.values()]
    return {
        "setup_s": setup_s,
        "query_s": sum(op_medians),
        "key_p50_s": median(op_medians),
        "read_mb": median(p.read_bytes for p in passes) / MB,
    }


def per_layer(
    tracer: Tracer,
    jobs_by_span: dict,
    window_id: int,
    setup: dict[str, float],
    n_cores: int,
    overhead_s: float,
) -> dict[str, float]:
    """Per-layer metrics over the passes under span ``window_id``: the median
    over passes for per-pass quantities, a pooled figure otherwise. A layer
    the workload does not use reports 0."""
    passes = [s for s in tracer.children(window_id) if s.name == "pass"]
    pass_of = tracer.ancestor_map({p.id for p in passes})

    def under(p, name):
        return [s for s in tracer.named(name) if pass_of.get(s.id) == p.id]

    def per_pass(fn):
        return median(fn(p) for p in passes)

    def jobs(p, name=None):
        spans = [p] if name is None else under(p, name)
        return [j for s in spans for j in jobs_under(tracer, jobs_by_span, s.id)]

    def task_s(js):
        return sum(j.total("task_ms") for j in js) / 1000.0

    def busy_wall(p):
        return p.seconds - idle_seconds(p.start, p.end, [(j.start, j.end) for j in jobs(p)])

    def mb(p, metric):
        return sum(j.total(metric) for j in jobs(p)) / MB

    scans = [s for p in passes for s in under(p, "run_scan")]
    scan_jobs = [jobs_under(tracer, jobs_by_span, s.id) for s in scans]
    scan_job_s = [j.seconds for js in scan_jobs for j in js]
    drains = [s for p in passes for s in under(p, "drain")]
    drain_s = sum(s.seconds for s in drains)
    tables = tracer.named("tables.load")
    table_jobs = jobs_under(tracer, jobs_by_span, tables[0].id) if tables else []

    return {
        "session.start_s": setup["session.start_s"],
        "registry.import_s": setup["registry.import_s"],
        "runner.jobs_per_file": median(
            len(js) / s.attrs["files"] for s, js in zip(scans, scan_jobs)),
        "runner.schema_jobs": median(
            sum(j.is_schema_job for j in js) for js in scan_jobs),
        "runner.job_p50_s": median(scan_job_s),
        "runner.job_p95_s": (
            statistics.quantiles(scan_job_s, n=20)[-1]
            if len(scan_job_s) > 1 else median(scan_job_s)),
        "runner.idle_s": median(
            idle_seconds(s.start, s.end, [(j.start, j.end) for j in js])
            for s, js in zip(scans, scan_jobs)),
        "runner.busy_ratio": median(
            task_s(js) / (s.seconds * n_cores) for s, js in zip(scans, scan_jobs)),
        "runner.scan_s": median(s.seconds for s in scans),
        "runner.read_ops": median(s.attrs["read_ops"] for s in scans),
        "runner.rows": median(s.attrs["rows"] for s in scans),
        "runner.pull_s": per_pass(lambda p: sum(s.seconds for s in under(p, "drain"))),
        "runner.pull_first_batch_s": median(
            s.seconds for p in passes for s in under(p, "first_batch")),
        "runner.pull_rows_per_s": (
            sum(s.attrs["rows"] for s in drains) / drain_s if drain_s else 0.0),
        "tables.load_s": tables[0].seconds if tables else 0.0,
        "tables.schema_jobs": sum(j.is_schema_job for j in table_jobs),
        "registry.build_s": per_pass(lambda p: sum(s.seconds for s in under(p, "build"))),
        "registry.build_jobs": per_pass(lambda p: len(jobs(p, "build"))),
        "catalyst.plan_s": per_pass(
            lambda p: sum(s.attrs["catalyst_s"] for s in under(p, "plan"))),
        "exec.wall_s": per_pass(busy_wall),
        "exec.jobs": per_pass(lambda p: len(jobs(p))),
        "exec.tasks": per_pass(lambda p: sum(j.tasks for j in jobs(p))),
        "exec.task_s": per_pass(lambda p: task_s(jobs(p))),
        "exec.busy_ratio": per_pass(
            lambda p: task_s(jobs(p)) / (busy_wall(p) * n_cores) if busy_wall(p) else 0.0),
        "exec.shuffle_write_mb": per_pass(lambda p: mb(p, "shuffle_write")),
        "exec.shuffle_read_mb": per_pass(lambda p: mb(p, "shuffle_read")),
        "exec.input_mb": per_pass(lambda p: mb(p, "input")),
        "exec.output_mb": per_pass(lambda p: mb(p, "output")),
        "exec.spill_mb": per_pass(lambda p: mb(p, "spill")),
        "exec.peak_exec_mem_mb": per_pass(
            lambda p: max((j.peak_exec_mem for j in jobs(p)), default=0) / MB),
        "driver.peak_rss_mb": setup["driver.peak_rss_mb"],
        "trace.overhead_s": overhead_s,
    }
