"""Per-layer metrics of a traced run, and which end-to-end metric each
should move on which workload.

Every traced run reports every metric of ``PER_LAYER`` (the
``per_layer`` list of BENCHMARK.json); a layer the workload does not
reach reads 0.  Per-operation figures are medians over the traced
operations; counts are those of the first traced operation, which sits
at the same position in every run, so they repeat exactly for a seed.
"""

from __future__ import annotations

import statistics

from spans import JobStats, Tracer, busy_seconds, op_jobs

# metric -> (unit, better, end-to-end metric it should move, workloads)
PER_LAYER = {
    "plans.compile_s": ("s", "lower", "items_per_cpu_s", "all"),
    "plans.bind_s": ("s", "lower", "items_per_cpu_s", "all"),
    "plans.predicate.task_cpu_s": ("s", "lower", "items_per_cpu_s", "all"),
    "core.variant.task_cpu_s": ("s", "lower", "items_per_cpu_s", "json_docs"),
    "core.violations.rows_out": ("count", "lower", "items_per_cpu_s", "json_docs"),
    "core.violations.write_s": ("s", "lower", "items_per_cpu_s", "json_docs"),
    "core.verdict_docs_per_s": ("1/s", "higher", "items_per_cpu_s", "json_docs"),
    "core.violation_docs_per_s": ("1/s", "higher", "items_per_cpu_s", "json_docs"),
    "functions.task_cpu_s": ("s", "lower", "items_per_cpu_s", "gateway_rule"),
    "checks.schema.task_cpu_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checks.stats.task_cpu_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checks.uniqueness.task_cpu_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checks.ri.task_cpu_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checks.drift.task_cpu_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checks.uniqueness.shuffle_write_bytes": ("bytes", "lower", "items_per_cpu_s", "daily_resume"),
    "checks.uniqueness.spill_bytes": ("bytes", "lower", "items_per_cpu_s", "daily_resume"),
    "checkpoint.completed_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checkpoint.append_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checkpoint.run_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "checkpoint.skip_ratio": ("ratio", "higher", "items_per_cpu_s", "daily_resume"),
    "checkpoint.scan_bytes_per_new_byte": ("ratio", "lower", "items_per_cpu_s", "daily_resume"),
    "sources.read_table_s": ("s", "lower", "items_per_cpu_s", "all"),
    "sources.write_output_s": ("s", "lower", "items_per_cpu_s", "daily_resume json_docs"),
    "cli.run_s": ("s", "lower", "items_per_cpu_s", "daily_resume"),
    "cli.jobs": ("count", "lower", "items_per_cpu_s", "daily_resume"),
    "cli.driver_gap_s": ("s", "lower", "wall.op_p50_s", "daily_resume"),
    "spark.jobs": ("count", "lower", "items_per_cpu_s", "all"),
    "spark.tasks": ("count", "lower", "items_per_cpu_s", "all"),
    "spark.failed_tasks": ("count", "lower", "items_per_cpu_s", "all"),
    "spark.executor_cpu_s": ("s", "lower", "items_per_cpu_s", "all"),
    "spark.jvm_gc_s": ("s", "lower", "items_per_cpu_s peak_rss_mb", "all"),
    "spark.driver_gap_s": ("s", "lower", "wall.op_p50_s", "all"),
    # wall time of the untraced operations of the traced run: what a
    # user waits, too noisy on a shared host to gate on
    "wall.op_p50_s": ("s", "lower", "none: the wall-clock view of items_per_cpu_s", "all"),
    "wall.items_per_s": ("1/s", "higher", "none: the wall-clock view of items_per_cpu_s", "all"),
    "trace.overhead_ratio": ("ratio", "lower", "none: the cost of tracing", "all"),
}
COUNTS = [k for k, (unit, *_) in PER_LAYER.items() if unit in ("count", "bytes")]

# span whose jobs evaluate the schema predicate, per workload
PREDICATE_SPAN = {
    "json_docs": "core.fail_verdicts",
    "gateway_rule": "bench.action",
    "daily_resume": "checks.schema",
}

# spans that build (bind) the validation plan before its action
BIND_SPANS = {"bench.bind", "core.fail_verdicts", "core.validate", "checks.schema",
              "checks.stats", "checks.uniqueness", "checks.ri", "checks.drift"}


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _cpu(jobs: list[JobStats]) -> float:
    return sum(j.cpu_s for j in jobs)


def _bind_s(tracer: Tracer, jobs: list[JobStats], o: dict) -> float:
    """Driver time in plan-building spans of one operation, without the
    jobs they start and without schema compilation."""
    spans = [s for s in tracer.spans if s.op == o["op"] and s.name in BIND_SPANS]
    outer = [s for s in spans
             if not any(p is not s and p.start <= s.start and s.end <= p.end for p in spans)]
    compiles = [s for s in tracer.spans if s.op == o["op"] and s.name == "plans.compile"]
    total = 0.0
    for s in outer:
        inner_compile = sum(c.end - c.start for c in compiles if s.start <= c.start and c.end <= s.end)
        total += (s.end - s.start) - busy_seconds(jobs, s.start, s.end) - inner_compile
    return max(total, 0.0)


def _nested_s(tracer: Tracer, op, inner: str, outer: str) -> float:
    """Seconds of ``inner`` spans that sit inside an ``outer`` span."""
    outs = [s for s in tracer.spans if s.op == op and s.name == outer]
    return sum(s.end - s.start for s in tracer.spans
               if s.op == op and s.name == inner
               and any(p.start <= s.start and s.end <= p.end for p in outs))


def _op_figures(wl, tracer: Tracer, jobs: list[JobStats], o: dict) -> dict:
    """Every per-layer figure of one traced operation."""
    k = o["op"]
    totals = tracer.span_totals(k)
    oj = op_jobs(jobs, k)
    wall = o["end"] - o["start"]

    def check_jobs(kind):
        return op_jobs(jobs, k, f"checks.{kind}")

    cli_spans = [s for s in tracer.spans if s.op == k and s.name == "bench.cli"]
    cli_jobs = [j for j in oj if any(s.start <= j.start <= s.end for s in cli_spans)]
    cli_wall = sum(s.end - s.start for s in cli_spans)
    uq = check_jobs("uniqueness")
    ran = tracer.notes.get((k, "checkpoint.partitions_ran"))
    f = {
        "plans.compile_s": totals.get("plans.compile", 0.0),
        "plans.bind_s": _bind_s(tracer, oj, o),
        "plans.predicate.task_cpu_s": _cpu(op_jobs(jobs, k, PREDICATE_SPAN[wl.name])),
        "core.variant.task_cpu_s": _cpu(op_jobs(jobs, k, "core.fail_verdicts")),
        "core.violations.rows_out": o.get("rows_out", 0),
        "core.violations.write_s": _nested_s(tracer, k, "sources.write_output", "bench.violations"),
        "functions.task_cpu_s": _cpu(op_jobs(jobs, k, "bench.action")),
        "checks.uniqueness.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in uq),
        "checks.uniqueness.spill_bytes": sum(j.spill_bytes for j in uq),
        "checkpoint.completed_s": totals.get("checkpoint.completed", 0.0),
        "checkpoint.append_s": totals.get("checkpoint.append", 0.0),
        "checkpoint.run_s": totals.get("checkpoint.run", 0.0),
        "checkpoint.skip_ratio": 1.0 - ran / o["days_listed"] if ran is not None else 0.0,
        "checkpoint.scan_bytes_per_new_byte": (
            sum(j.input_bytes for j in oj) / o["new_bytes"] if "new_bytes" in o else 0.0),
        "sources.read_table_s": totals.get("sources.read_table", 0.0),
        "sources.write_output_s": totals.get("sources.write_output", 0.0),
        "cli.run_s": cli_wall,
        "cli.jobs": len(cli_jobs),
        "cli.driver_gap_s": (
            sum(s.end - s.start - busy_seconds(cli_jobs, s.start, s.end) for s in cli_spans)),
        "spark.jobs": len(oj),
        "spark.tasks": sum(j.tasks for j in oj),
        "spark.failed_tasks": sum(j.failed_tasks for j in oj),
        "spark.executor_cpu_s": _cpu(oj),
        "spark.jvm_gc_s": sum(j.gc_s for j in oj),
        "spark.driver_gap_s": wall - busy_seconds(oj, o["start"], o["end"]),
    }
    for kind in ("schema", "stats", "uniqueness", "ri", "drift"):
        f[f"checks.{kind}.task_cpu_s"] = _cpu(check_jobs(kind))
    return f


def per_layer(wl, tracer: Tracer, jobs: list[JobStats], ops: list[dict],
              plain_s: list[float]) -> dict:
    """Every ``PER_LAYER`` metric over the traced operations."""
    figs = [_op_figures(wl, tracer, jobs, o) for o in ops]
    out = {k: _med([f[k] for f in figs]) for k in figs[0]}
    for k in COUNTS:
        out[k] = int(figs[0][k])
    kind_s = getattr(wl, "kind_s", None)
    out["core.verdict_docs_per_s"] = wl.items / _med(kind_s["verdicts"]) if kind_s else 0.0
    out["core.violation_docs_per_s"] = wl.items / _med(kind_s["violations"]) if kind_s else 0.0
    out["wall.op_p50_s"] = _med(plain_s)
    out["wall.items_per_s"] = _med([wl.items / s for s in plain_s])
    out["trace.overhead_ratio"] = _med([o["end"] - o["start"] for o in ops]) / _med(plain_s)
    return out
