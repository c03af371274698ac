"""The benchmark workloads.

Each workload is a closed loop with one client: ``op`` runs one
operation against the program and returns what the program produced;
``check`` compares that output with the label oracle (untimed).  Inputs
come from ``gen`` and are written under the run's work directory, with
the label column stripped.

Sizes are fixed per workload (not per host) so that runs on one host
compare.  They are small on purpose: on a 4-vCPU host an operation
takes about 1.3 s of wall time for the gateway rule, 8 s for the JSON
documents and 10 s for a CLI run, and a whole run, Spark start
included, takes 25 to 60 seconds.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen

# the transcript rule of the fixture corpus, copied so that a change to
# the fixtures cannot move the benchmark
TRANSCRIPT_SCHEMA = {
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "conv_id": {"type": "string", "pattern": "^c[0-9]{8}$", "minLength": 9, "maxLength": 9},
        "turn_idx": {"type": "integer", "minimum": 0, "maximum": 100000},
        "role": {"type": "string", "enum": gen.ROLES},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000,
                 "pattern": "^[\\x20-\\x7E\\s]*$"},
        "tool": {"pattern": "^tool_[0-9]{2}$"},
    },
    "if": {"keyMatch": {"role": "tool"}},
    "then": {"required": ["tool"]},
}

# the same rule over JSON documents, with a union-typed ts
JSON_SCHEMA = {
    "type": "object",
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "conv_id": {"type": "string", "pattern": "^c[0-9]{8}$"},
        "turn_idx": {"type": "integer", "minimum": 0},
        "role": {"type": "string", "enum": gen.ROLES},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000},
        "tool": {"pattern": "^tool_[0-9]{2}$"},
        "ts": {"anyOf": [{"type": "integer"}, {"type": "string"}]},
    },
    "if": {"keyMatch": {"role": "tool"}},
    "then": {"required": ["tool"]},
}

# the reference's own benchmark rule (set/sprintf/md5/if-then-else/error)
GATEWAY_SCHEMA = {
    "set": {
        "userinfo": ["append()", "${name}", ":", "${age}"],
        "user_info": ["sprintf()", "name:%s  age:%s", "${name}", "${age}"],
    },
    "and": [
        {"if": {"neq": {"school": "wh"}},
         "then": {"set": {"skip_it": True}},
         "else": {"error": ["sprintf()", "invalid school '%v'", "${school}"]}},
        {"if": {"not": {"eq": {"sig": [
            "md5.hex()", ["append()", "${name}", "${timestamp}", "secret1"]]}}},
         "then": {"error": "sig not match"}},
        {"if": {"not": {"lt": {"timestamp": 1_700_000_300},
                          "gt": {"timestamp": 1_699_999_700}}},
         "then": {"error": "time is valid"}},
    ],
    "properties": {
        "age": {"type": "number", "maximum": 100, "minimum": 0},
        "hobby": {"type": "array",
                  "items": {"type": "string", "enum": ["ball", "game", "music"]}},
        "name": {"type": "string", "startWith": "b", "maxLength": 32},
    },
}


class Workload:
    """Base: ``generate`` writes the inputs, ``warm`` runs
    untimed operations, ``op``/``check`` are one timed operation and its
    oracle comparison.  ``items`` is the work one operation validates."""

    name = ""
    items = 0
    min_ops = 2  # timed operations per run, however short --seconds is
    # untimed operations before timing starts: a count, not a time, so
    # that timing starts at the same point of the JIT's warm-up whether
    # the host is quiet or busy
    warm_ops = 1

    def __init__(self, spark: SparkSession, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.parts = cores

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _write_labelled(self, labelled: DataFrame, path: str) -> dict[str, int]:
        """Write the generated rows once, labels included, and total the
        labels; ``_read`` hands the program every column but the label."""
        labelled.write.mode("overwrite").parquet(path)
        self.columns = [c for c in labelled.columns if c != "label"]
        return gen.label_counts(self.spark.read.parquet(path).select("label"))

    def _read(self):
        from jsonschema_spark.sources import tables

        return tables.read_table(self.spark, self.table, columns=self.columns)

    def warm(self) -> None:
        """``warm_ops`` untimed operations, so the JIT has compiled the
        hot paths before timing starts."""
        for _ in range(self.warm_ops):
            self.prepare()
            _require(self.check(self.op()))

    def prepare(self) -> None:
        """Untimed work before each operation."""

    def op(self, tracer=None):
        raise NotImplementedError

    def traced_extra(self, tracer) -> dict:
        """Traced runs only: untimed extra figures for the layer table."""
        return {}

    def check(self, out) -> list[str]:
        raise NotImplementedError


def _compile(doc):
    import jsonschema_spark

    return jsonschema_spark.compile_schema(doc)


def _span(tracer, name):
    import contextlib

    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _require(problems: list[str]) -> None:
    if problems:
        raise RuntimeError("output disagrees with labels: " + "; ".join(problems))


def _diff(got: dict, want: dict) -> list[str]:
    return [f"{k}: got {got.get(k)} want {v}" for k, v in want.items() if got.get(k) != v]


def _suite_figures(by_check: dict[str, list]) -> dict:
    """The oracle's figures from one partition's verdict rows, keyed by
    check name (``gen.expect_suite`` names)."""

    def m(check, key):
        rows = by_check.get(check)
        return int(rows[0]["metrics"][key]) if rows else None

    drift = by_check.get("drift")
    return {
        "rows": m("column_stats", "row_count"),
        "schema.bad_rows": m("schema", "bad_rows"),
        "uniqueness.extra_rows": m("uniqueness", "extra_rows"),
        "ri_role.orphan_rows": m("ri_role", "orphan_rows"),
        "ri_tool.orphan_rows": m("ri_tool", "orphan_rows"),
        "drift.drifted": int(not drift[0]["pass"]) if drift else None,
        "verdict_rows_per_check": max((len(v) for v in by_check.values()), default=0),
    }


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


class JsonDocs(Workload):
    """Variant-mode validation of JSON documents: verdict counting, then
    violation extraction written to parquet (one operation = both)."""

    name = "json_docs"
    # about 100k documents, so that parsing on the executors, which costs
    # the same from the first operation on, outweighs the driver's
    # planning, whose CPU time still falls over the first five operations
    # while the JIT compiles it (with 25k documents the operation after
    # one warm-up read a quarter higher than the sixth)
    n_convs = 8_000
    # one timed operation (about 8 s): with a second one a run would take
    # a quarter longer
    min_ops = 1

    def generate(self) -> None:
        self.table = self.path("docs")
        self.counts = self._write_labelled(
            gen.json_docs(self.spark, self.n_convs, self.seed, partitions=self.parts), self.table
        )
        self.items = sum(self.counts.values())
        self.sink = self.path("violations")
        self.want = gen.expect_json(self.counts)

    def warm(self) -> None:
        super().warm()
        # seconds of each kind, untraced timed operations only
        self.kind_s: dict[str, list[float]] = {"verdicts": [], "violations": []}

    def op(self, tracer=None):
        from jsonschema_spark.sources import tables

        t0 = time.perf_counter()
        with _span(tracer, "bench.verdicts"):
            plan = _compile(JSON_SCHEMA)
            fails = plan.fail_verdicts(self._read(), json_col="doc")
            n_fail = fails.agg(F.sum(F.col("__fails__").cast("long"))).collect()[0][0]
        t1 = time.perf_counter()
        with _span(tracer, "bench.violations"):
            plan = _compile(JSON_SCHEMA)
            viol = plan.validate(self._read(), keys=["doc_id"], json_col="doc").violations
            tables.write_output(viol, self.sink, mode="overwrite")
        t2 = time.perf_counter()
        if tracer is None and hasattr(self, "kind_s"):
            self.kind_s["verdicts"].append(t1 - t0)
            self.kind_s["violations"].append(t2 - t1)
        return n_fail

    def check(self, n_fail) -> list[str]:
        rows = self.rows_out = self.spark.read.parquet(self.sink).count()
        return _diff({"fail_docs": n_fail, "violation_rows": rows}, self.want)

    def traced_extra(self, tracer) -> dict:
        return {"rows_out": self.rows_out}


class GatewayRule(Workload):
    """The reference's gateway rule, verdicts counted via fail_predicate."""

    name = "gateway_rule"
    n_rows = 800_000
    # the CPU time of an operation falls by about a tenth over the first
    # five while the JIT compiles the executors' code
    warm_ops = 5

    def generate(self) -> None:
        self.table = self.path("requests")
        self.counts = self._write_labelled(
            gen.gateway_requests(self.spark, self.n_rows, self.seed, partitions=self.parts),
            self.table,
        )
        self.items = sum(self.counts.values())
        self.want = gen.expect_gateway(self.counts)

    def op(self, tracer=None):
        with _span(tracer, "bench.bind"):
            plan = _compile(GATEWAY_SCHEMA)
            df = self._read()
            q = df.agg(F.sum(plan.fail_predicate(df).cast("long")))
            q._jdf.queryExecution().executedPlan()
        with _span(tracer, "bench.action"):
            return q.collect()[0][0]

    def check(self, n_fail) -> list[str]:
        return _diff({"fail_rows": n_fail}, self.want)


class DailyResume(Workload):
    """A day-partitioned table with a checkpoint manifest: each operation
    appends one day (untimed) and times one CLI run that resumes from
    the manifest, writes verdict and violation sinks and the next drift
    baseline."""

    name = "daily_resume"
    snapshot_days = 2
    # days written ahead with the snapshot, so that publishing the next
    # day is a directory rename; later days are written when needed
    staged_days = 3
    convs_per_day = 1_000
    # one operation is a whole CLI run (about ten seconds on a 4-core
    # host, nearly all fixed cost), steady enough to time alone
    min_ops = 1

    def _days(self, first: int, n: int) -> None:
        """Write days first..first+n-1 to the staging directory and note
        their label counts in ``day_counts``."""
        t = gen.turns(self.spark, n * self.convs_per_day, self.seed,
                      conv_offset=first * self.convs_per_day, partitions=2 * n)
        conv = F.substring("conv_id", 2, 8).cast("int")
        day = F.date_add(F.lit(gen.EPOCH_DATE).cast("date"),
                         (conv / self.convs_per_day).cast("int")).cast("string")
        t = t.withColumn("day", day)
        counts: dict[str, dict[str, int]] = {}
        for r in t.groupBy("day", "label").count().collect():
            counts.setdefault(r["day"], {})[r["label"]] = int(r["count"])
        t.drop("label").write.mode("append").partitionBy("day").parquet(self.path("staged"))
        self.day_counts.update(counts)

    def _publish(self) -> str:
        """Move the next day from the staging directory into the table."""
        if self.next_day >= len(self.day_counts):
            self._days(self.next_day, 1)
        day = sorted(self.day_counts)[self.next_day]
        os.makedirs(self.table, exist_ok=True)
        os.rename(self.path("staged", f"day={day}"), os.path.join(self.table, f"day={day}"))
        self.next_day += 1
        return day

    def generate(self) -> None:
        self.table = self.path("table")
        self.day_counts: dict[str, dict[str, int]] = {}
        self._days(0, self.snapshot_days + self.staged_days)
        self.next_day = 0
        self.snapshot = [self._publish() for _ in range(self.snapshot_days)]
        roles = self.spark.createDataFrame([(r,) for r in gen.ROLES], "role string")
        tools = self.spark.createDataFrame(
            [(f"tool_{i:02d}",) for i in range(gen.N_TOOLS)], "tool string"
        )
        roles.coalesce(1).write.mode("overwrite").parquet(self.path("dim_roles"))
        tools.coalesce(1).write.mode("overwrite").parquet(self.path("dim_tools"))
        from jsonschema_spark.operators import checks

        drift_q = os.path.join(self.work_out(), "drift_q")
        checks.Drift(column="turn_idx").save_baseline(self.spark.read.parquet(self.table), drift_q)
        out = self.work_out()
        self.cfg = {
            "source": self.table,
            "schema": TRANSCRIPT_SCHEMA,
            "keys": ["day", "conv_id", "turn_idx"],
            "partition_by": ["day"],
            "checks": {
                "uniqueness": {"keys": ["conv_id", "turn_idx"]},
                "referential": [
                    {"name": "ri_role", "fact_key": "role", "dim": self.path("dim_roles"), "dim_key": "role"},
                    {"name": "ri_tool", "fact_key": "tool", "dim": self.path("dim_tools"), "dim_key": "tool"},
                ],
                "stats": {"columns": ["role", "tool"]},
                # turn_idx is discrete: its quantile knots move by whole
                # steps between days, which swings PSI; gate on KS only
                "drift": {"column": "turn_idx", "baseline_path": drift_q, "save_baseline_to": drift_q,
                          "psi_threshold": 1e9},
            },
            "output": {
                "verdicts": os.path.join(out, "verdicts"),
                "violations": os.path.join(out, "violations"),
                "manifest": os.path.join(out, "manifest"),
            },
        }
        self.cfg_path = self.path("run.json")
        with open(self.cfg_path, "w") as f:
            json.dump(self.cfg, f)

    def work_out(self) -> str:
        return self.path("out")

    def warm(self) -> None:
        # the first CLI run checks the whole snapshot and seeds the
        # manifest; every timed run after it resumes
        self._cli()
        _require(self._check_days(self.snapshot))

    def _cli(self) -> None:
        from jsonschema_spark import cli

        rc = cli.main(["run", self.cfg_path])
        if rc != 0:
            raise RuntimeError(f"cli run exited {rc}")

    def prepare(self) -> None:
        """Untimed: add the next day to the table before the timed CLI run."""
        self.pending = self._publish()
        self.items = sum(self.day_counts[self.pending].values())

    def op(self, tracer=None):
        with _span(tracer, "bench.cli"):
            self._cli()
        return self.pending

    def _check_days(self, days: list[str]) -> list[str]:
        """Each day's verdicts (one row per check) and violation rows
        against that day's labels."""
        out = self.cfg["output"]
        by: dict[tuple[str, str], list] = {}
        pids = [f"day={d}" for d in days]
        for r in self.spark.read.parquet(out["verdicts"]).filter(F.col("partition_id").isin(pids)).collect():
            by.setdefault((r["partition_id"][4:], r["check"]), []).append(r)
        viol = {
            str(r["day"]): r["count"]
            for r in self.spark.read.parquet(out["violations"])
            .filter(F.col("day").cast("string").isin(days)).groupBy("day").count().collect()
        }
        problems = []
        for day in days:
            want = gen.expect_suite(self.day_counts[day], drifted=False)
            want["violation_rows"] = want["schema.bad_rows"]
            want["verdict_rows_per_check"] = 1
            got = _suite_figures({c: rows for (d, c), rows in by.items() if d == day})
            got["violation_rows"] = viol.get(day, 0)
            problems += [f"{day} {p}" for p in _diff(got, want)]
        return problems

    def check(self, day) -> list[str]:
        return self._check_days([day])

    def traced_extra(self, tracer) -> dict:
        day_dir = os.path.join(self.table, f"day={self.pending}")
        return {"days_listed": self.next_day, "new_bytes": _dir_bytes(day_dir)}


WORKLOADS = {w.name: w for w in (JsonDocs, DailyResume, GatewayRule)}
