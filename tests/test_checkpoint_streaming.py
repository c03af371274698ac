"""Checkpoint/resume manifest: skip, invalidation, partition pruning
and listing."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun
from jsonschema_spark.operators import checks


@pytest.fixture()
def part_df(spark):
    rows = [
        ("2025-01-01", "c1", 0), ("2025-01-01", "c1", 0),   # dup in day1
        ("2025-01-02", "c2", 0), ("2025-01-02", "c2", 1),
    ]
    return spark.createDataFrame(rows, "day string, conv_id string, turn_idx int")


def test_resumable_run_skips_completed(spark, part_df, tmp_path):
    manifest = CheckpointManifest(str(tmp_path / "manifest"))
    suite = checks.CheckSuite(
        [checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"])]
    )
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["day"], source_id="test")

    first = run.run(part_df).collect()
    assert {r["partition_id"] for r in first} == {"day=2025-01-01", "day=2025-01-02"}

    # second run: everything checkpointed -> nothing re-executed
    second = run.run(part_df).collect()
    assert second == []

    # a NEW partition arrives -> only it runs
    more = part_df.union(
        spark.createDataFrame([("2025-01-03", "c3", 0)], part_df.schema)
    )
    third = run.run(more).collect()
    assert {r["partition_id"] for r in third} == {"day=2025-01-03"}

    # manifest carries lineage + metrics rows
    m = manifest.read(spark)
    assert m.count() == 3
    cols = set(m.columns)
    assert {"partition_id", "check", "completed_at", "lineage", "metrics"} <= cols


def test_manifest_corrupt_part_raises(spark, part_df, tmp_path):
    """Only a manifest nothing was written to reads as empty; a corrupt
    part file raises instead of reading as "nothing done", which would
    re-run every partition and append its rows a second time."""
    crashed = tmp_path / "crashed"  # a crash during the first append
    (crashed / "_temporary" / "0").mkdir(parents=True)
    assert CheckpointManifest(str(crashed)).read(spark).count() == 0

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file" * 8)
    run = ResumableRun(
        suite=checks.CheckSuite(
            [checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"])]
        ),
        manifest=CheckpointManifest(str(bad)),
        partition_by=["day"],
        source_id="test",
    )
    with pytest.raises(Py4JJavaError, match="not a Parquet file"):
        run.run(part_df)


def test_resume_invalidated_by_config_change(spark, part_df, tmp_path):
    manifest = CheckpointManifest(str(tmp_path / "manifest2"))
    s1 = checks.CheckSuite([checks.Uniqueness(keys=["conv_id", "turn_idx"],
                                              partition_by=["day"])])
    ResumableRun(suite=s1, manifest=manifest, partition_by=["day"],
                 source_id="test").run(part_df)
    # different check config (different keys) => different lineage => re-runs
    s2 = checks.CheckSuite([checks.Uniqueness(keys=["conv_id"],
                                              partition_by=["day"])])
    out = ResumableRun(suite=s2, manifest=manifest, partition_by=["day"],
                       source_id="test").run(part_df).collect()
    assert len(out) == 2


def test_resume_prunes_partition_files(spark, tmp_path):
    """The resume filter must reach the scan as a partition filter —
    completed partitions' files are never read."""
    from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun

    src = str(tmp_path / "parts")
    spark.createDataFrame(
        [("2025-01-01", "c1", 0), ("2025-01-01", "c1", 0),
         ("2025-01-02", "c2", 0), ("2025-01-03", "c3", 1)],
        "day string, conv_id string, turn_idx int",
    ).write.partitionBy("day").parquet(src)
    df = spark.read.parquet(src)

    manifest = CheckpointManifest(str(tmp_path / "m"))
    suite = checks.CheckSuite(
        [checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"])]
    )
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["day"], source_id="t")
    first = run.run(df)
    assert {r["partition_id"] for r in first.collect()} == {
        "day=2025-01-01", "day=2025-01-02", "day=2025-01-03"
    }

    # add a new partition; the re-run's scan must carry a partition
    # filter on `day` (raw column, prunable), not a computed string
    spark.createDataFrame(
        [("2025-01-04", "c4", 0)], "day string, conv_id string, turn_idx int"
    ).write.mode("append").partitionBy("day").parquet(src)
    df2 = spark.read.parquet(src)
    out = run.run(df2)
    assert {r["partition_id"] for r in out.collect()} == {"day=2025-01-04"}

    # the pruning predicate shape reaches the scan as PartitionFilters
    pruned = df2.filter(F.col("day").isin(["2025-01-04"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "2025-01-04" in pf


def test_resume_null_and_bool_partitions(spark, tmp_path):
    """NULL and boolean partition values must checkpoint AND resume:
    pids are derived from the Spark-side _partition_id expression (not
    a driver '/'.join that renders True/None differently), and the
    pruning predicate carries an isNull disjunct (ADVICE r1)."""
    rows = [
        ("2025-01-01", True, "c1", 0),
        ("2025-01-01", True, "c1", 0),   # dup
        (None, False, "c2", 0),
        (None, False, "c2", 1),
    ]
    df = spark.createDataFrame(
        rows, "day string, flagged boolean, conv_id string, turn_idx int"
    )
    manifest = CheckpointManifest(str(tmp_path / "mnull"))
    suite = checks.CheckSuite(
        [checks.Uniqueness(keys=["conv_id", "turn_idx"],
                           partition_by=["day", "flagged"])]
    )
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["day", "flagged"], source_id="t")
    first = run.run(df)
    pids = {r["partition_id"] for r in first.collect()}
    assert pids == {
        "day=2025-01-01/flagged=true",
        "day=__HIVE_DEFAULT_PARTITION__/flagged=false",
    }

    # full resume: nothing re-runs (pid match must hold for bool/null)
    assert run.run(df).collect() == []

    # add one partition: ONLY it runs, and the null partition is
    # neither silently re-run nor excluded
    more = df.union(spark.createDataFrame(
        [("2025-01-02", False, "c3", 0)], df.schema))
    out = run.run(more).collect()
    assert {r["partition_id"] for r in out} == {"day=2025-01-02/flagged=false"}

    # the pruning helper keeps NULL-partition rows when they are todo
    from jsonschema_spark.checkpoint import prune_to_partitions
    kept = prune_to_partitions(df, ["day", "flagged"], [(None, False)])
    assert kept.count() == 2
    kept1 = prune_to_partitions(df, ["day"], [(None,)])
    assert kept1.count() == 2


def test_lineage_tracks_dataframe_inputs(spark, part_df, tmp_path):
    """A changed RI dimension table must invalidate old manifest rows:
    the lineage fingerprints DataFrame-valued config content (ADVICE
    r1: scalar-only lineage skipped re-runs after the dim changed)."""
    manifest = CheckpointManifest(str(tmp_path / "mdim"))
    dim1 = spark.createDataFrame([("c1",)], "conv_id string")
    s1 = checks.CheckSuite([checks.ReferentialIntegrity(
        dim=dim1, fact_key="conv_id", dim_key="conv_id",
        partition_by=["day"], name="ri_conv")])
    out1 = ResumableRun(suite=s1, manifest=manifest, partition_by=["day"],
                        source_id="t").run(part_df).collect()
    assert len(out1) == 2

    # same config, same dim content -> fully checkpointed
    dim1b = spark.createDataFrame([("c1",)], "conv_id string")
    s1b = checks.CheckSuite([checks.ReferentialIntegrity(
        dim=dim1b, fact_key="conv_id", dim_key="conv_id",
        partition_by=["day"], name="ri_conv")])
    assert ResumableRun(suite=s1b, manifest=manifest, partition_by=["day"],
                        source_id="t").run(part_df).collect() == []

    # changed dim CONTENT (same schema/config) -> lineage differs -> re-runs
    dim2 = spark.createDataFrame([("c1",), ("c2",)], "conv_id string")
    s2 = checks.CheckSuite([checks.ReferentialIntegrity(
        dim=dim2, fact_key="conv_id", dim_key="conv_id",
        partition_by=["day"], name="ri_conv")])
    out2 = ResumableRun(suite=s2, manifest=manifest, partition_by=["day"],
                        source_id="t").run(part_df).collect()
    assert len(out2) == 2


def test_resumable_fresh_run_uses_fused_suite_with_drift(spark, part_df, tmp_path):
    """Fresh-run fast path: ResumableRun delegates to the fused suite
    (schema-shaped checks + drift share one scan) and still writes one
    manifest row per (partition, check); the resume then skips all."""
    import jsonschema_spark as js

    manifest = CheckpointManifest(str(tmp_path / "mfused"))
    plan = js.compile_schema({"required": ["conv_id"]})
    suite = checks.CheckSuite([
        checks.SchemaCheck(plan=plan, partition_by=["day"], name="schema"),
        checks.ColumnStats(columns=["conv_id"], approx=False,
                           partition_by=["day"], name="stats"),
        checks.Drift(column="turn_idx", baseline=part_df,
                     partition_by=["day"], approx=False),
    ])
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["day"], source_id="t")
    first = run.run(part_df).collect()
    assert {(r["partition_id"], r["check"]) for r in first} == {
        (p, c)
        for p in ("day=2025-01-01", "day=2025-01-02")
        for c in ("schema", "stats", "drift")
    }
    # full resume: nothing re-runs
    assert run.run(part_df).collect() == []
    assert manifest.read(spark).count() == 6


def test_resume_partition_listing_is_metadata_only(spark, tmp_path):
    """Enumerating the input's partitions must not scan the fact table
    (checkpoint._partition_tuples_from_files): on a hive-partitioned
    read the listing comes from the file paths (the local analog of an
    Iceberg partitions metadata table), and a fully-checkpointed
    resume therefore reads ZERO fact-table bytes — proven here by
    corrupting every data file after the first run and resuming
    anyway."""
    import pathlib

    from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun

    src = str(tmp_path / "meta_parts")
    spark.createDataFrame(
        [("2025-01-01", 1, "c1", 0), ("2025-01-01", 1, "c1", 0),
         (None, 2, "c2", 0), ("2025-01-03", 3, "c3", 1)],
        "day string, bucket int, conv_id string, turn_idx int",
    ).write.partitionBy("day", "bucket").parquet(src)
    df = spark.read.parquet(src)

    manifest = CheckpointManifest(str(tmp_path / "meta_m"))
    suite = checks.CheckSuite(
        [checks.Uniqueness(keys=["conv_id", "turn_idx"],
                           partition_by=["day", "bucket"])]
    )
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["day", "bucket"], source_id="t")
    first = run.run(df)
    # the listing came from file metadata, not a distinct scan, and
    # yields the exact pid rendering (typed int, NULL partition)
    assert run.partition_source == "files"
    assert {r["partition_id"] for r in first.collect()} == {
        "day=2025-01-01/bucket=1",
        "day=__HIVE_DEFAULT_PARTITION__/bucket=2",
        "day=2025-01-03/bucket=3",
    }

    # corrupt every data file: any attempt to read fact bytes now fails
    schema = df.schema
    for p in pathlib.Path(src).rglob("*.parquet"):
        p.write_bytes(b"corrupt")
    df2 = spark.read.schema(schema).parquet(src)
    out = run.run(df2)  # fully checkpointed -> must not touch the files
    assert run.partition_source == "files"
    assert out.collect() == []
    assert run.last_ran == {}


def test_resume_transformed_input_falls_back_to_scan(spark, tmp_path):
    """A filtered/transformed input can exclude whole partitions, which
    only a scan sees: the metadata route must refuse and fall back."""
    from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun

    src = str(tmp_path / "fb_parts")
    spark.createDataFrame(
        [("2025-01-01", "c1", 0), ("2025-01-02", "c2", 0)],
        "day string, conv_id string, turn_idx int",
    ).write.partitionBy("day").parquet(src)
    df = spark.read.parquet(src).filter(F.col("day") != "2025-01-02")

    manifest = CheckpointManifest(str(tmp_path / "fb_m"))
    suite = checks.CheckSuite(
        [checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"])]
    )
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["day"], source_id="t")
    out = run.run(df)
    assert run.partition_source == "scan"
    assert {r["partition_id"] for r in out.collect()} == {"day=2025-01-01"}


def test_partition_listing_rejects_ancestor_lookalike(spark, tmp_path):
    """An ancestor directory that merely LOOKS like a partition dir
    (/data/env=prod/tbl with a data column `env`) must not shadow the
    real layout: the metadata route refuses and the scan fallback
    enumerates the true partition values."""
    from jsonschema_spark.checkpoint import _partition_tuples_from_files

    src = str(tmp_path / "env=prod" / "tbl")
    spark.createDataFrame(
        [("prod", "c1", 0), ("staging", "c2", 0), ("dev", "c3", 1)],
        "env string, conv_id string, turn_idx int",
    ).write.parquet(src)  # NOT partitioned by env
    df = spark.read.parquet(src)
    assert _partition_tuples_from_files(df, ["env"]) is None

    from jsonschema_spark.checkpoint import CheckpointManifest, ResumableRun

    manifest = CheckpointManifest(str(tmp_path / "env_m"))
    suite = checks.CheckSuite(
        [checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["env"])]
    )
    run = ResumableRun(suite=suite, manifest=manifest,
                       partition_by=["env"], source_id="t")
    out = run.run(df)
    assert run.partition_source == "scan"
    assert {r["partition_id"] for r in out.collect()} == {
        "env=prod", "env=staging", "env=dev"
    }


def test_partition_listing_rejects_extra_partition_levels(spark, tmp_path):
    """A table partitioned by MORE columns than requested must fall
    back: slicing by the requested subset from paths alone would
    enumerate duplicates with wrong pids."""
    from jsonschema_spark.checkpoint import _partition_tuples_from_files

    src = str(tmp_path / "extra_parts")
    spark.createDataFrame(
        [("a", 1, "c1"), ("a", 2, "c2"), ("b", 1, "c3")],
        "day string, bucket int, conv_id string",
    ).write.partitionBy("day", "bucket").parquet(src)
    df = spark.read.parquet(src)
    assert _partition_tuples_from_files(df, ["day"]) is None


def test_resume_invalidated_by_schema_doc_change(spark, part_df, tmp_path):
    """The schema DOCUMENT is check config: editing it must invalidate
    cached schema verdicts (the compiled plan object itself is not a
    JSON-serializable field, so _lineage reads plan.doc)."""
    manifest = CheckpointManifest(str(tmp_path / "manifest_doc"))
    s1 = checks.CheckSuite([checks.SchemaCheck(
        plan=js.compile_schema({"required": ["conv_id"]}),
        partition_by=["day"])])
    ResumableRun(suite=s1, manifest=manifest, partition_by=["day"],
                 source_id="t").run(part_df)
    # same doc => fully checkpointed, nothing re-runs
    s1b = checks.CheckSuite([checks.SchemaCheck(
        plan=js.compile_schema({"required": ["conv_id"]}),
        partition_by=["day"])])
    out = ResumableRun(suite=s1b, manifest=manifest, partition_by=["day"],
                       source_id="t").run(part_df).collect()
    assert out == []
    # different doc => different lineage => re-runs
    s2 = checks.CheckSuite([checks.SchemaCheck(
        plan=js.compile_schema({"required": ["conv_id", "role"]}),
        partition_by=["day"])])
    out2 = ResumableRun(suite=s2, manifest=manifest, partition_by=["day"],
                        source_id="t").run(part_df).collect()
    assert len(out2) == 2


def test_schema_check_json_col(spark):
    """SchemaCheck over a JSON-string column: verdicts count malformed
    and invalid documents; violations carry the json-path errors."""
    df = spark.createDataFrame(
        [("p1", 1, '{"id": 1}'), ("p1", 2, '{"id": "x"}'),
         ("p2", 3, '{"id": '), ("p2", 4, None)],
        "part string, k int, payload string",
    )
    chk = checks.SchemaCheck(
        plan=js.compile_schema(
            {"required": ["id"], "properties": {"id": {"type": "integer"}}}
        ),
        partition_by=["part"], keys=["k"], json_col="payload",
    )
    v = {r["partition_id"]: (r["metrics"]["rows"], r["metrics"]["bad_rows"])
         for r in chk.verdicts(df).collect()}
    # p1: wrong-typed id (variant mode type error); p2: malformed doc +
    # NULL payload (validates as {} -> required fires)
    assert v == {"part=p1": ("2", "1"), "part=p2": ("2", "2")}
    viols = {(r["k"], r["path"]) for r in chk.violations(df).collect()}
    assert viols == {(2, "$.id"), (3, "$"), (4, "$.id")}


def _day_rows(day, n_convs, extra=()):
    """Ten turns per conversation, alternating user/assistant."""
    out = [(day, f"{day}/c{c}", t, ("user", "assistant")[t % 2])
           for c in range(n_convs) for t in range(10)]
    return out + [(day, *r) for r in extra]


DAY_SCHEMA = "day string, conv_id string, turn_idx int, role string"


def _verdict_key(r):
    return (r["partition_id"], r["check"], r["pass"], r["violation_count"],
            tuple(sorted(r["metrics"].items())))


def test_resumed_fused_verdicts_equal_per_check_verdicts(spark, tmp_path):
    """A resume runs the checks missing the same partitions as one fused
    pass; its verdict rows equal each check's own verdicts() over the
    same partitions: RI with NULL fact keys and repeated orphan values,
    and drift both passing and drifted."""
    src = str(tmp_path / "days")
    spark.createDataFrame(
        _day_rows("2025-01-01", 4) + _day_rows("2025-01-02", 4), DAY_SCHEMA
    ).write.partitionBy("day").parquet(src)
    # the new day: a duplicate turn, two NULL roles, orphans repeated
    new_day = _day_rows("2025-01-03", 3, extra=[
        ("2025-01-03/c0", 0, "user"), ("2025-01-03/c9", 0, None),
        ("2025-01-03/c9", 1, None), ("2025-01-03/c9", 2, "narrator"),
        ("2025-01-03/c9", 3, "narrator"), ("2025-01-03/c9", 4, "ghost"),
    ])
    # drift_same's baseline is the new day itself, drift_shifted's lies
    # far above it
    same = spark.createDataFrame([(r[2],) for r in new_day], "turn_idx int")
    shifted = same.selectExpr("turn_idx + 40 AS turn_idx")
    dim = spark.createDataFrame([("user",), ("assistant",), ("user",)], "role string")
    suite = checks.CheckSuite([
        checks.SchemaCheck(plan=js.compile_schema(
            {"properties": {"turn_idx": {"maximum": 8}}}), partition_by=["day"]),
        checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"]),
        checks.ReferentialIntegrity(dim=dim, fact_key="role", dim_key="role",
                                    partition_by=["day"], name="ri_role"),
        checks.ColumnStats(columns=["role"], approx=False, partition_by=["day"]),
        checks.Drift(column="turn_idx", baseline=same, approx=False,
                     partition_by=["day"], name="drift_same"),
        checks.Drift(column="turn_idx", baseline=shifted, approx=False,
                     partition_by=["day"], name="drift_shifted"),
    ])
    run = ResumableRun(suite=suite, manifest=CheckpointManifest(str(tmp_path / "m")),
                       partition_by=["day"], source_id="t")
    run.run(spark.read.parquet(src))

    spark.createDataFrame(new_day, DAY_SCHEMA).write.mode("append").partitionBy(
        "day").parquet(src)
    df = spark.read.parquet(src)
    got = sorted(map(_verdict_key, run.run(df).collect()))

    from jsonschema_spark.checkpoint import prune_to_partitions

    new = prune_to_partitions(df, ["day"], [("2025-01-03",)])
    want = sorted(_verdict_key(r) for c in suite.checks for r in c.verdicts(new).collect())
    assert got == want
    by = {r[1]: r for r in got}
    assert set(by) == {c.name for c in suite.checks}
    assert {r[0] for r in got} == {"day=2025-01-03"}
    ri = dict(by["ri_role"][4])
    assert (ri["orphan_rows"], ri["orphan_keys"]) == ("3", "2")
    assert by["drift_same"][2] is True and by["drift_shifted"][2] is False
    assert by["uniqueness"][3] == 1


def test_resume_added_check_runs_as_second_group(spark, part_df, tmp_path, monkeypatch):
    """Checks missing different partitions run as separate groups: a
    check added to the suite runs over every partition, the others only
    over the new one."""
    manifest = CheckpointManifest(str(tmp_path / "m_added"))
    uniq = checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"])
    ResumableRun(suite=checks.CheckSuite([uniq]), manifest=manifest,
                 partition_by=["day"], source_id="t").run(part_df)

    groups = []
    real_run = checks.CheckSuite.run

    def spy(self, df, fused=True):
        groups.append([c.name for c in self.checks])
        return real_run(self, df, fused)

    monkeypatch.setattr(checks.CheckSuite, "run", spy)
    more = part_df.union(spark.createDataFrame([("2025-01-03", "c3", 0)], part_df.schema))
    stats = checks.ColumnStats(columns=["conv_id"], approx=False,
                               partition_by=["day"], name="stats")
    run = ResumableRun(suite=checks.CheckSuite([uniq, stats]), manifest=manifest,
                       partition_by=["day"], source_id="t")
    out = run.run(more).collect()
    assert groups == [["uniqueness"], ["stats"]]
    days = {("2025-01-01",), ("2025-01-02",), ("2025-01-03",)}
    assert {k: set(v) for k, v in run.last_ran.items()} == {
        "uniqueness": {("2025-01-03",)}, "stats": days}
    assert sorted((r["check"], r["partition_id"]) for r in out) == [
        ("stats", f"day={d}") for (d,) in sorted(days)] + [("uniqueness", "day=2025-01-03")]
    assert run.run(more).collect() == []


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_partition_listing_values_without_a_job(spark, tmp_path, spark_jobs, escaped):
    """The metadata route types its partition values on the driver, with
    no Spark job, and reads quotes, backslashes, the NULL partition and
    booleans as the scan route does, under either string-literal parser
    setting."""
    from jsonschema_spark.checkpoint import _enumerate_partitions
    from jsonschema_spark.operators.checks import _partition_id

    src = str(tmp_path / "hazards")
    values = ["it's", 'say "hi"', "back\\slash", "\\'", "''", "%41", "a=b/c", None]
    spark.createDataFrame(
        [(v, i % 2 == 0, i) for i, v in enumerate(values)], "s string, b boolean, k int"
    ).write.partitionBy("s", "b").parquet(src)
    df = spark.read.parquet(src)
    scanned = {tuple(r) for r in df.select(
        _partition_id(["s", "b"]).alias("__pid"), "s", "b").distinct().collect()}
    assert len(scanned) == len(values)

    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        with spark_jobs() as jobs:
            raw, route = _enumerate_partitions(df, ["s", "b"])
    finally:
        spark.conf.set(key, old)
    assert route == "files"
    assert jobs == []
    assert {tuple(r) for r in raw} == scanned


def test_lineage_of_file_dims_follows_their_files(spark, part_df, tmp_path, spark_jobs):
    """A parquet dim is fingerprinted from its file listing without a
    Spark job: overwriting it with changed content re-runs its RI check,
    and the check over an untouched dim is skipped."""
    from jsonschema_spark.checkpoint import _df_fingerprint

    dim_conv, dim_turn = str(tmp_path / "dim_conv"), str(tmp_path / "dim_turn")
    spark.createDataFrame([("c1",)], "conv_id string").write.parquet(dim_conv)
    spark.createDataFrame([(0,)], "turn_idx int").write.parquet(dim_turn)
    manifest = CheckpointManifest(str(tmp_path / "m_files"))

    def run():
        suite = checks.CheckSuite([
            checks.ReferentialIntegrity(dim=spark.read.parquet(dim_conv), fact_key="conv_id",
                                        dim_key="conv_id", partition_by=["day"], name="ri_conv"),
            checks.ReferentialIntegrity(dim=spark.read.parquet(dim_turn), fact_key="turn_idx",
                                        dim_key="turn_idx", partition_by=["day"], name="ri_turn"),
        ])
        return ResumableRun(suite=suite, manifest=manifest, partition_by=["day"],
                            source_id="t").run(part_df).collect()

    assert len(run()) == 4
    dim = spark.read.parquet(dim_conv)
    with spark_jobs() as jobs:
        fp = _df_fingerprint(dim)
    assert jobs == [] and fp.startswith("files:")
    assert run() == []

    spark.createDataFrame([("c1",), ("c2",)], "conv_id string").write.mode(
        "overwrite").parquet(dim_conv)
    out = run()
    assert sorted((r["check"], r["partition_id"], r["violation_count"]) for r in out) == [
        ("ri_conv", "day=2025-01-01", 0), ("ri_conv", "day=2025-01-02", 0)]


def test_lineage_of_unlisted_relation_dims_follows_their_content(spark, part_df, tmp_path):
    """A bare relation that lists no files (an Iceberg ``RelationV2``, a
    non-file source) falls back to the content hash: changing the dim's
    rows re-runs its RI check, an unchanged dim is skipped."""
    manifest = CheckpointManifest(str(tmp_path / "m_unlisted"))

    def run(path):
        dim = spark.read.parquet(path)
        dim.inputFiles = lambda: []  # what inputFiles() gives for RelationV2
        suite = checks.CheckSuite([checks.ReferentialIntegrity(
            dim=dim, fact_key="conv_id", dim_key="conv_id",
            partition_by=["day"], name="ri_conv")])
        return ResumableRun(suite=suite, manifest=manifest, partition_by=["day"],
                            source_id="t").run(part_df).collect()

    dim_a, dim_b = str(tmp_path / "dim_a"), str(tmp_path / "dim_b")
    spark.createDataFrame([("c1",)], "conv_id string").write.parquet(dim_a)
    spark.createDataFrame([("c1",), ("c2",)], "conv_id string").write.parquet(dim_b)
    assert len(run(dim_a)) == 2
    assert run(dim_a) == []
    assert sorted(r["partition_id"] for r in run(dim_b)) == ["day=2025-01-01", "day=2025-01-02"]
