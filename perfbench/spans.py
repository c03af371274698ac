"""Traced-run instrumentation: spans around calls into the program's
layers, Spark job groups, and event-log attribution.

Spans live in memory (``Tracer.spans``) and are written out when the
run ends.  Every span also names the Spark job group of the jobs it
starts, so the event log's task metrics can be attributed to it.  A
*lazy* span wraps a call that only builds a DataFrame: its job group
stays set after it returns, because the action that runs the built
plan comes right after, in the caller.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

PLAIN_GROUP = "plain"
IDLE_GROUP = "idle"


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float
    parent: str | None


@dataclass
class Tracer:
    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    # (op, name) -> figure a wrapped call noted about its own work
    notes: dict = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)
    _patches: list = field(default_factory=list)

    def group(self, name: str) -> str:
        return f"{self.op}|{name}"

    def _set_group(self, gid: str) -> None:
        self.sc.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def span(self, name: str, lazy: bool = False):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(self.group(name))
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(name, self.op, start, end, parent))
            if lazy:
                # the caller runs the plan this call built: its jobs are ours
                self._set_group(self.group(name))
            else:
                self._set_group(self.group(self._stack[-1]) if self._stack else IDLE_GROUP)

    def plain(self) -> None:
        """Mark the jobs that follow as untraced work."""
        self._set_group(PLAIN_GROUP)

    def wrap(self, owner, attr: str, name, lazy: bool = False, note=None) -> None:
        """Replace ``owner.attr`` with a spanned call until ``unpatch``;
        ``note(args)`` returns figures about the call, kept in ``notes``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            label = name(args) if callable(name) else name
            with tracer.span(label, lazy=lazy):
                out = orig(*args, **kwargs)
            if note is not None:
                for k, v in note(args).items():
                    tracer.notes[(tracer.op, k)] = v
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, spanned)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def span_totals(self, op: int) -> dict[str, float]:
        """Summed wall seconds per span name within one operation."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op == op:
                out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f)


def instrument(tracer: Tracer) -> None:
    """Span the public entry points of each layer the workloads reach
    (including the calls the CLI makes internally)."""
    import jsonschema_spark
    from jsonschema_spark import checkpoint
    from jsonschema_spark.operators import checks
    from jsonschema_spark.plans import compiler
    from jsonschema_spark.sources import tables

    tracer.wrap(jsonschema_spark, "compile_schema", "plans.compile")
    tracer.wrap(tables, "read_table", "sources.read_table", lazy=True)
    tracer.wrap(tables, "write_output", "sources.write_output")
    tracer.wrap(compiler.CompiledSchema, "validate", "core.validate", lazy=True)
    tracer.wrap(compiler.CompiledSchema, "fail_verdicts", "core.fail_verdicts", lazy=True)
    tracer.wrap(compiler.CompiledSchema, "fail_predicate", "plans.predicate", lazy=True)
    for cls in (checks.SchemaCheck, checks.ColumnStats, checks.Uniqueness,
                checks.ReferentialIntegrity, checks.Drift):
        tracer.wrap(cls, "verdicts", lambda a: f"checks.{check_kind(a[0])}", lazy=True)
    tracer.wrap(checkpoint.CheckpointManifest, "completed", "checkpoint.completed")
    tracer.wrap(checkpoint.CheckpointManifest, "append", "checkpoint.append")
    tracer.wrap(checkpoint.ResumableRun, "run", "checkpoint.run", note=_partitions_ran)


def _partitions_ran(args) -> dict:
    """Partitions a resumable run executed (the most any check ran)."""
    ran = args[0].last_ran.values()
    return {"checkpoint.partitions_ran": max(map(len, ran), default=0)}


def check_kind(check) -> str:
    """Layer-table name of a check instance (schema/stats/uniqueness/ri/drift)."""
    from jsonschema_spark.operators import checks

    for cls, kind in ((checks.SchemaCheck, "schema"), (checks.ColumnStats, "stats"),
                      (checks.Uniqueness, "uniqueness"),
                      (checks.ReferentialIntegrity, "ri"), (checks.Drift, "drift")):
        if isinstance(check, cls):
            return kind
    return type(check).__name__.lower()


@dataclass
class JobStats:
    group: str
    start: float  # seconds since epoch
    end: float
    tasks: int = 0
    failed_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0


def read_event_log(events_dir: str) -> list[JobStats]:
    """Per-job task metrics from the Spark event log(s) in ``events_dir``.
    Stages are attributed to the job group named in their properties."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = JobStats(
                        group=props.get("spark.jobGroup.id") or IDLE_GROUP,
                        start=ev["Submission Time"] / 1000.0,
                        end=ev["Submission Time"] / 1000.0,
                    )
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    job.tasks += 1
                    job.failed_tasks += int(bool(info.get("Failed")))
                    job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.gc_s += m.get("JVM GC Time", 0) / 1e3
                    job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return list(jobs.values())


def busy_seconds(jobs: list[JobStats], start: float, end: float) -> float:
    """Wall time within [start, end] during which at least one job ran."""
    ivs = sorted((max(j.start, start), min(j.end, end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_jobs(jobs: list[JobStats], op: int, prefix: str = "") -> list[JobStats]:
    """Jobs of one traced operation whose span name starts with ``prefix``."""
    head = f"{op}|{prefix}"
    return [j for j in jobs if j.group.startswith(head)]
