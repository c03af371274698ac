"""spark-submit entrypoint: run a validation suite from a JSON config.

North-rule operational contract: the driver submits via
``spark-submit --py-files jsonschema_spark.zip jsonschema_spark/cli.py
run config.json`` to a multi-executor cluster; the same invocation
works on ``--master local[N]`` for development.

Config shape (all paths accept the ``iceberg:``/``table:`` prefixes of
sources.tables.read_table)::

    {
      "source": "/data/transcripts.parquet",
      "where": "ts >= '2025-01-01'",            // optional pushdown
      "schema": { ...schema document... },       // row-level rules
      "json_col": "payload",                     // optional: validate this
                                                 // JSON-string column
      "json_types": "variant",                   // "variant" | "static"
      "keys": ["conv_id", "turn_idx"],           // violation row keys
      "partition_by": ["day"],                   // verdict granularity
      "checks": {
        "uniqueness": {"keys": ["conv_id", "turn_idx"], "salt_buckets": 0},
        "referential": [
          {"name": "ri_role", "fact_key": "role",
           "dim": "/data/dim_roles.parquet", "dim_key": "role"}
        ],
        "stats": {"columns": ["role", "text"], "approx": true,
                   "expectations": {"role": {"max_null_rate": 0.01}}},
        "sequence": {"conv_col": "conv_id", "turn_col": "turn_idx",
                      "ts_col": "ts", "role_col": "role",
                      "order_by": ["turn_idx", "ts"], "first_index": 0,
                      "transitions": [["user", "assistant"], ...],
                      "first_roles": ["system", "user"]},
        "functional": [
          {"name": "fd_locale", "determinant": ["conv_id"],
           "dependent": "locale", "max_examples": 3}
        ],
        "drift": {"column": "text_len", "baseline_path": "/state/drift_q",
                   "save_baseline_to": "/state/drift_q_next"}
      },
      "output": {
        "verdicts": "/out/verdicts",             // partitioned by
                                                 // (partition_id, check)
        "violations": "/out/violations",         // keys + partition_id,
                                                 // partitioned by it
        "manifest": "/out/manifest"              // enables resume
      }
    }

A second run with the same config + manifest skips every
(partition, check) already recorded (checkpoint.ResumableRun).  Any
other key under ``checks`` or ``output`` is rejected.

Each run replaces the sink partitions of the partitions it ran, a
partition now without violation rows included, and leaves every other
partition as it was (``write_output`` with ``partition_by``,
``replace_partitions``).  With a manifest, both sinks are written
before the run's one manifest append, so a crash anywhere re-runs
those partitions and the re-run overwrites them: each partition's
verdict and violation rows are in the sinks exactly once.  A sink gets
files only for partitions with rows, so after a run that wrote none
``spark.read.parquet`` finds no sink to read; read a sink with
``sources.tables.read_store(spark, path, schema)``, which reads such a
sink as an empty frame.  A parquet sink written flat by an older
release, or an Iceberg sink partitioned by other columns, is refused
before anything runs.  The source, the sink paths and ``keys`` are part of
every manifest row's lineage: a config pointed at a new sink re-runs
everything instead of leaving the new sink empty.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

CHECK_KEYS = ("uniqueness", "referential", "stats", "sequence", "functional", "drift")
# output sinks and their partition columns; "manifest" is the checkpoint
SINK_PARTITIONS = {"verdicts": ["partition_id", "check"], "violations": ["partition_id"]}
OUTPUT_KEYS = (*SINK_PARTITIONS, "manifest")


def build_suite(spark: SparkSession, cfg: dict):
    from jsonschema_spark import compile_schema
    from jsonschema_spark.operators import checks
    from jsonschema_spark.sources.tables import read_table

    suite = []
    if cfg.get("schema"):
        plan = compile_schema(cfg["schema"])
        suite.append(
            checks.SchemaCheck(
                plan=plan,
                partition_by=cfg.get("partition_by"),
                name="schema",
                # validate a JSON-string column (the reference's actual
                # input domain) instead of fixed columns
                json_col=cfg.get("json_col"),
                json_types=cfg.get("json_types"),
            )
        )
    c = cfg.get("checks", {})
    unknown = sorted(set(c) - set(CHECK_KEYS))
    if unknown:
        raise ValueError(
            f"unknown check(s) {unknown} in config 'checks'; "
            f"accepted: {list(CHECK_KEYS)}"
        )
    if "uniqueness" in c:
        u = c["uniqueness"]
        suite.append(
            checks.Uniqueness(
                keys=u["keys"],
                partition_by=cfg.get("partition_by"),
                salt_buckets=int(u.get("salt_buckets", 0)),
            )
        )
    for ri in c.get("referential", []):
        suite.append(
            checks.ReferentialIntegrity(
                dim=read_table(spark, ri["dim"]),
                fact_key=ri["fact_key"],
                dim_key=ri["dim_key"],
                partition_by=cfg.get("partition_by"),
                name=ri.get("name", f"ri_{ri['fact_key']}"),
            )
        )
    if "stats" in c:
        s = c["stats"]
        suite.append(
            checks.ColumnStats(
                columns=s["columns"],
                partition_by=cfg.get("partition_by"),
                approx=bool(s.get("approx", True)),
                expectations=s.get("expectations", {}),
            )
        )
    if "sequence" in c:
        sq = c["sequence"]
        from jsonschema_spark.operators.transcripts import (
            DEFAULT_FIRST_ROLES,
            DEFAULT_TRANSITIONS,
            SequenceIntegrity,
        )

        suite.append(
            SequenceIntegrity(
                conv_col=sq.get("conv_col", "conv_id"),
                turn_col=sq.get("turn_col", "turn_idx"),
                ts_col=sq.get("ts_col", "ts"),
                role_col=sq.get("role_col", "role"),
                order_by=sq.get("order_by"),
                allowed_transitions=(
                    frozenset(tuple(p) for p in sq["transitions"])
                    if sq.get("transitions") is not None
                    else DEFAULT_TRANSITIONS
                ),
                first_roles=(
                    frozenset(sq["first_roles"])
                    if sq.get("first_roles") is not None
                    else DEFAULT_FIRST_ROLES
                ),
                first_index=int(sq.get("first_index", 0)),
                partition_by=cfg.get("partition_by"),
            )
        )
    for fd in c.get("functional", []):
        suite.append(
            checks.FunctionalDependency(
                determinant=list(fd["determinant"]),
                dependent=fd["dependent"],
                partition_by=cfg.get("partition_by"),
                max_examples=int(fd.get("max_examples", 3)),
                name=fd.get("name", f"fd_{fd['dependent']}"),
            )
        )
    if "drift" in c:
        d = c["drift"]
        suite.append(
            checks.Drift(
                column=d["column"],
                baseline=(
                    read_table(spark, d["baseline"]) if d.get("baseline") else None
                ),
                baseline_path=d.get("baseline_path"),
                partition_by=cfg.get("partition_by"),
                psi_threshold=float(d.get("psi_threshold", 0.2)),
                ks_threshold=float(d.get("ks_threshold", 0.2)),
            )
        )
    return suite


def cmd_run(args) -> int:
    from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun, prune_to_partitions
    from jsonschema_spark.operators.checks import CheckSuite, SchemaCheck, _partition_id
    from jsonschema_spark.sources.tables import (
        read_table, replace_partitions, require_partitioned_sink, write_output,
    )

    cfg = json.load(open(args.config))
    out = cfg.get("output", {})
    unknown = sorted(set(out) - set(OUTPUT_KEYS))
    if unknown:
        raise ValueError(
            f"unknown key(s) {unknown} in config 'output'; "
            f"accepted: {list(OUTPUT_KEYS)}"
        )
    spark = (
        SparkSession.builder.appName("jsonschema_spark-run")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    for name, cols in SINK_PARTITIONS.items():
        if out.get(name):
            require_partitioned_sink(spark, out[name], cols)
    df = read_table(spark, cfg["source"], where=cfg.get("where"))
    suite = CheckSuite(build_suite(spark, cfg))
    pcols = cfg.get("partition_by") or []
    keys = cfg.get("keys", [])
    schema = next((c for c in suite.checks if isinstance(c, SchemaCheck)), None)

    def write(verdicts, pids, todo=None):
        """Write the verdicts, then replace the violation rows of the
        partitions ``pids``, whose tuples are ``todo`` (None: the whole
        input), a partition with none left included."""
        if out.get("verdicts"):
            write_output(verdicts, out["verdicts"], partition_by=SINK_PARTITIONS["verdicts"])
        if not out.get("violations") or schema is None or not pids:
            return
        src = df if todo is None or not pcols else prune_to_partitions(df, pcols, todo)
        # partition_id is derived after validation: over fixed columns
        # the row is the document, and an added column would be an
        # unknown field under additionalProperties: false
        viols = schema.plan.validate(
            src,
            keys=keys + [c for c in pcols if c not in keys],
            json_col=cfg.get("json_col"),
            json_types=cfg.get("json_types"),
        ).violations.select(*keys, _partition_id(pcols).alias("partition_id"), "path", "info")
        replace_partitions(viols, out["violations"], "partition_id", pids)

    if out.get("manifest"):
        run = ResumableRun(
            suite=suite,
            manifest=CheckpointManifest(out["manifest"]),
            partition_by=pcols,
            source_id=json.dumps([cfg["source"], out.get("verdicts"), out.get("violations"), keys]),
        )

        def sink(verdicts):
            # build_suite names the schema check "schema"
            todo = run.last_ran.get("schema", [])
            write(verdicts, [run.pid_of[t] for t in todo], todo)

        verdicts = run.run(df, sink=sink)
        rows = run.rows
    else:
        # collected once: the sinks, the failure count and the pids read it
        verdicts = suite.run(df)
        rows = verdicts.collect()
        verdicts = spark.createDataFrame(rows, verdicts.schema)
        write(verdicts, [r["partition_id"] for r in rows if r["check"] == "schema"])
    n_fail = sum(r["pass"] is False for r in rows)
    if not out.get("verdicts"):
        verdicts.show(100, truncate=False)

    # store this run's quantile summary as the next run's drift baseline
    d = cfg.get("checks", {}).get("drift")
    if d and d.get("save_baseline_to"):
        from jsonschema_spark.operators.checks import Drift

        Drift(column=d["column"], baseline_path=d.get("baseline_path")).save_baseline(
            df, d["save_baseline_to"]
        )

    print(f"checks_failed={n_fail}", file=sys.stderr)
    return 1 if n_fail and args.fail_on_violation else 0


def cmd_validate(args) -> int:
    """Ad-hoc: show violations of one schema over one table."""
    from jsonschema_spark import compile_schema
    from jsonschema_spark.sources.tables import read_table

    spark = SparkSession.builder.appName("jsonschema_spark-validate").getOrCreate()
    doc = json.load(open(args.schema))
    df = read_table(spark, args.source)
    plan = compile_schema(doc)
    res = plan.validate(df, keys=args.keys.split(",") if args.keys else [])
    res.violations.show(args.limit, truncate=False)
    return 0


def cmd_exp(args) -> int:
    """expr evaluator / REPL (reference cmd/exp): -s one-shot, -f/-e
    per-line over a JSON-lines file, else interactive REPL over an
    optional document (--doc)."""
    from jsonschema_spark.repl import ExprSession, eval_per_line

    spark = (
        SparkSession.builder.appName("jsonschema_spark-exp")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if args.file:
        if not args.expr:
            print("exp -f needs -e <expr>", file=sys.stderr)
            return 2
        for r in eval_per_line(spark, args.file, args.expr).collect():
            print(r["out"])
        return 0
    sess = ExprSession(spark)
    if args.doc:
        sess.load_doc(args.doc)
    if args.single:
        res = sess.eval(args.single)
        if res is not None:
            print(res)
        return 1 if res is not None and res.startswith("error:") else 0
    sess.run_repl()
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="jsonschema_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run a validation suite from a JSON config")
    r.add_argument("config")
    r.add_argument("--fail-on-violation", action="store_true")
    r.set_defaults(fn=cmd_run)

    v = sub.add_parser("validate", help="ad-hoc schema validation of a table")
    v.add_argument("schema")
    v.add_argument("source")
    v.add_argument("--keys", default="")
    v.add_argument("--limit", type=int, default=100)
    v.set_defaults(fn=cmd_validate)

    e = sub.add_parser("exp", help="expr evaluator / REPL (cmd/exp analog)")
    e.add_argument("-s", "--single", default="", help="single expression, print result")
    e.add_argument("-f", "--file", default="", help="JSON-lines file to evaluate over")
    e.add_argument("-e", "--expr", default="", help="expression for -f mode")
    e.add_argument("--doc", default="", help="JSON document file bound to $")
    e.set_defaults(fn=cmd_exp)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
