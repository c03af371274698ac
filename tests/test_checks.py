"""Table-level checks: stats, uniqueness (salted), RI, drift, suite."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.operators import checks
from jsonschema_spark.sources.fixtures import dim_roles, dim_tools, transcripts


def _verdict(df, name):
    rows = [r for r in df.collect() if r["check"] == name]
    assert len(rows) == 1
    return rows[0]


def test_column_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")], "x int, s string"
    )
    chk = checks.ColumnStats(columns=["x", "s"], approx=False,
                             expectations={"x": {"max_null_rate": 0.1}})
    v = _verdict(chk.verdicts(df), "column_stats")
    m = v["metrics"]
    assert m["row_count"] == "4"
    assert m["x.null_rate"] == "0.250000"
    assert m["x.min"] == "1" and m["x.max"] == "3"
    assert m["x.distinct"] == "3"
    assert m["s.distinct"] == "2"
    assert v["pass"] is False  # null rate 0.25 > 0.1


def test_column_stats_partitioned(spark):
    df = spark.createDataFrame(
        [("p1", 1), ("p1", 2), ("p2", 3)], "part string, x int"
    )
    chk = checks.ColumnStats(columns=["x"], approx=False, partition_by=["part"])
    got = {r["partition_id"]: r["metrics"]["row_count"] for r in chk.verdicts(df).collect()}
    assert got == {"part=p1": "2", "part=p2": "1"}


def test_uniqueness_detects_duplicates(spark):
    df = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c1", 1), ("c2", 0), ("c2", 0), ("c2", 0)],
        "conv_id string, turn_idx int",
    )
    for salt, hf in ((0, False), (4, False), (0, True)):
        chk = checks.Uniqueness(
            keys=["conv_id", "turn_idx"], salt_buckets=salt, hash_first=hf
        )
        dups = {(r["conv_id"], r["turn_idx"]): r["dup_count"]
                for r in chk.duplicates(df).collect()}
        assert dups == {("c1", 1): 2, ("c2", 0): 3}
        v = _verdict(chk.verdicts(df), "uniqueness")
        assert v["pass"] is False and v["violation_count"] == 3  # extra rows


def test_uniqueness_pass_verdict(spark):
    df = spark.createDataFrame([("c1", 0), ("c1", 1)], "conv_id string, turn_idx int")
    for hf in (False, True):
        v = _verdict(
            checks.Uniqueness(
                keys=["conv_id", "turn_idx"], hash_first=hf
            ).verdicts(df),
            "uniqueness",
        )
        assert v["pass"] is True and v["violation_count"] == 0


class _CollidingUniqueness(checks.Uniqueness):
    """Every row hashes alike: each group collides with every other."""

    def _hashed(self, df):
        return super()._hashed(df).withColumn("__h", F.lit(7).cast("long"))


def test_uniqueness_hash_first_exact_under_collisions(spark):
    """A hash shared by groups of several partitions must not repeat
    rows in the recount: dup_count and extra_rows stay exact."""
    df = spark.createDataFrame(
        [("d1", "c1", 0), ("d1", "c1", 1), ("d1", "c1", 1), ("d1", "c2", 0),
         ("d2", "c1", 0), ("d2", "c1", 0), ("d2", "c1", 0), ("d2", "c3", 5),
         ("d3", "c9", 1)],
        "day string, conv_id string, turn_idx int",
    )
    plain = checks.Uniqueness(keys=["conv_id", "turn_idx"], partition_by=["day"])
    colliding = _CollidingUniqueness(
        keys=["conv_id", "turn_idx"], partition_by=["day"], hash_first=True
    )

    def dups(chk):
        return {(r["partition_id"], r["conv_id"], r["turn_idx"]): r["dup_count"]
                for r in chk.duplicates(df).collect()}

    def extra(chk):
        return {r["partition_id"]: r["violation_count"] for r in chk.verdicts(df).collect()}

    assert dups(colliding) == dups(plain) == {
        ("day=d1", "c1", 1): 2, ("day=d2", "c1", 0): 3,
    }
    assert extra(colliding) == extra(plain) == {"day=d1": 1, "day=d2": 2, "day=d3": 0}


def test_referential_integrity(spark):
    dim = spark.createDataFrame([("user",), ("tool",)], "role string")
    df = spark.createDataFrame(
        [("user",), ("user",), ("narrator",), (None,)], "role string"
    )
    chk = checks.ReferentialIntegrity(dim=dim, fact_key="role", dim_key="role")
    orphans = {r["role"]: r["orphan_rows"] for r in chk.orphans(df).collect()}
    assert orphans == {"narrator": 1}  # null skipped
    v = _verdict(chk.verdicts(df), "referential_integrity")
    assert v["pass"] is False and v["violation_count"] == 1


def test_ri_plan_is_broadcast(spark):
    dim = spark.createDataFrame([("user",)], "role string")
    df = spark.createDataFrame([("user",)], "role string")
    chk = checks.ReferentialIntegrity(dim=dim, fact_key="role", dim_key="role")
    plan = chk.orphans(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_drift_detects_shift(spark):
    base = spark.range(0, 10000).select((F.col("id") % 100).cast("double").alias("v"))
    same = spark.range(0, 5000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(0, 5000).select(
        ((F.col("id") % 100) + 80).cast("double").alias("v")
    )
    chk_same = checks.Drift(column="v", baseline=base)
    v = _verdict(chk_same.verdicts(same), "drift")
    assert v["pass"] is True
    chk_shift = checks.Drift(column="v", baseline=base)
    v2 = _verdict(chk_shift.verdicts(shifted), "drift")
    assert v2["pass"] is False
    assert float(v2["metrics"]["psi"]) > 0.2


def test_suite_over_transcripts(spark):
    """End-to-end: the north-star suite over the synthetic corpus finds
    every planted violation class."""
    df = transcripts(spark, n_convs=300).cache()
    plan = js.compile_schema(
        {
            "required": ["conv_id", "turn_idx", "role", "text"],
            "properties": {
                "conv_id": {"pattern": "^c[0-9]{8}$"},
                "turn_idx": {"minimum": 0},
                "role": {"enum": ["system", "user", "assistant", "tool"]},
                "text": {"minLength": 1, "maxLength": 4000},
            },
        }
    )
    suite = checks.CheckSuite(
        [
            checks.SchemaCheck(plan=plan, name="schema"),
            checks.Uniqueness(keys=["conv_id", "turn_idx"]),
            checks.ReferentialIntegrity(
                dim=dim_roles(spark), fact_key="role", dim_key="role", name="ri_role"
            ),
            checks.ReferentialIntegrity(
                dim=dim_tools(spark), fact_key="tool", dim_key="tool", name="ri_tool"
            ),
        ]
    )
    verdicts = {r["check"]: r for r in suite.run(df).collect()}
    # the generator plants violations of every class (fixtures.py)
    assert verdicts["schema"]["pass"] is False
    assert verdicts["uniqueness"]["pass"] is False
    assert verdicts["ri_role"]["pass"] is False
    assert verdicts["ri_tool"]["pass"] is False
    # violation rows carry reference-format paths
    viols = suite.violations(df)["schema"]
    paths = {r["path"] for r in viols.limit(200).collect()}
    assert paths <= {"$.conv_id", "$.turn_idx", "$.role", "$.text"}
    df.unpersist()


def test_drift_stored_baseline_roundtrip(spark, tmp_path):
    """Production drift flow: run N stores its quantile sketch; run N+1
    compares against the stored baseline instead of rescanning."""
    base = spark.range(0, 8000).select((F.col("id") % 100).cast("double").alias("v"))
    path = str(tmp_path / "baseline_q")
    chk = checks.Drift(column="v", baseline=base)
    chk.save_baseline(base, path)

    same = spark.range(0, 4000).select((F.col("id") % 100).cast("double").alias("v"))
    shifted = spark.range(0, 4000).select(
        ((F.col("id") % 100) + 80).cast("double").alias("v")
    )
    stored = checks.Drift(column="v", baseline_path=path)
    assert _verdict(stored.verdicts(same), "drift")["pass"] is True
    assert _verdict(stored.verdicts(shifted), "drift")["pass"] is False

    with pytest.raises(ValueError, match="baseline"):
        checks.Drift(column="v").verdicts(same)


def test_check_suite_fused_equals_sequential(spark):
    """CheckSuite.run fuses agg-shaped checks into one
    groupBy(partition_id).agg(...): identical verdicts to the
    per-check path, and the fused group's plan aggregates both checks
    over a single scan subtree."""
    import jsonschema_spark as js
    from jsonschema_spark.sources.fixtures import transcripts

    df = transcripts(spark, n_convs=200)
    plan = js.compile_schema(
        {"required": ["conv_id", "role"],
         "properties": {"turn_idx": {"minimum": 0}}}
    )
    suite = checks.CheckSuite([
        checks.SchemaCheck(plan=plan, name="schema"),
        checks.ColumnStats(columns=["role", "text"], approx=False, name="stats"),
        checks.Uniqueness(keys=["conv_id", "turn_idx"]),
    ])
    key = lambda r: (r["check"], r["partition_id"], r["pass"], r["violation_count"])  # noqa: E731
    seq = sorted(map(key, suite.run(df, fused=False).collect()))
    fus = sorted(map(key, suite.run(df, fused=True).collect()))
    assert seq == fus
    # single-pass: fusing schema+stats removes one whole consumer of
    # the input (its scan leaves disappear from the plan).  Expected
    # counts come from each check's OWN plan so uniqueness's
    # hash-first rejoin consumers (legitimately >1 per call) don't
    # skew the arithmetic.
    leaf = "Range (0, 200"

    def leaves(d):
        return d._jdf.queryExecution().executedPlan().toString().count(leaf)

    per_check = [leaves(c.verdicts(df)) for c in suite.checks]
    per_consumer = min(per_check)  # one scan consumer's worth of leaves
    p_seq = leaves(suite.run(df, fused=False))
    p_fus = leaves(suite.run(df, fused=True))
    assert p_seq == sum(per_check)
    assert p_fus == p_seq - per_consumer


def test_drift_fused_matches_driver_path(spark):
    """Drift's fused builder compiles PSI/KS columnar against literal
    baseline knots; it must reproduce psi_ks (driver bisect arithmetic)
    to the printed precision in both the no-drift and drift cases."""
    import jsonschema_spark as js
    from jsonschema_spark.sources.fixtures import transcripts

    df = transcripts(spark, n_convs=300)
    shifted = df.selectExpr(
        "conv_id", "turn_idx + 40 as turn_idx", "role", "text", "tool", "ts"
    )
    plan = js.compile_schema({"required": ["conv_id"]})
    for cur, want_drift in ((df, False), (shifted, True)):
        suite = checks.CheckSuite([
            checks.SchemaCheck(plan=plan, name="schema"),
            checks.Drift(column="turn_idx", baseline=df, approx=False),
        ])
        seq = [r for r in suite.run(cur, fused=False).collect() if r["check"] == "drift"][0]
        fus = [r for r in suite.run(cur, fused=True).collect() if r["check"] == "drift"][0]
        assert fus["pass"] == seq["pass"] == (not want_drift)
        assert fus["metrics"]["psi"] == seq["metrics"]["psi"]
        assert fus["metrics"]["ks"] == seq["metrics"]["ks"]
        # both paths share one SQL builder: check it against the driver
        # arithmetic over the collected quantile summaries
        drift = suite.checks[1]
        base_q = drift._base_quantiles(spark)
        cur_q = drift._quantiles(cur, pid=True).collect()[0]["quantiles"]
        psi, ks = checks.Drift.psi_ks(base_q, list(cur_q))
        assert float(fus["metrics"]["psi"]) == pytest.approx(psi, abs=1e-6)
        assert float(fus["metrics"]["ks"]) == pytest.approx(ks, abs=1e-6)
        assert (psi > 0.2 or ks > 0.2) == want_drift


def test_fused_suite_same_named_checks_do_not_collide(spark):
    """Two checks with the same name in one fused group must not
    produce ambiguous aggregate aliases (review r2)."""
    import jsonschema_spark as js

    df = spark.createDataFrame([("c1", 0), ("c1", 0)], "conv_id string, turn_idx int")
    p1 = js.compile_schema({"required": ["conv_id"]})
    p2 = js.compile_schema({"properties": {"turn_idx": {"minimum": 1}}})
    suite = checks.CheckSuite([
        checks.SchemaCheck(plan=p1),   # both default name 'schema'
        checks.SchemaCheck(plan=p2),
    ])
    rows = suite.run(df, fused=True).collect()
    assert len(rows) == 2
    counts = sorted(r["violation_count"] for r in rows)
    assert counts == [0, 2]


class TestFunctionalDependency:
    def test_violations_and_examples(self, spark):
        from jsonschema_spark.operators.checks import FunctionalDependency

        rows = [
            ("p1", "s1"), ("p1", "s1"),              # holds
            ("p2", "s1"), ("p2", "s2"), ("p2", "s3"),
            ("p2", "s4"),                             # 4 distinct -> capped at 3
            ("p3", None), ("p3", "s9"),               # null ignored -> holds
        ]
        df = spark.createDataFrame(rows, "det string, dep string")
        fd = FunctionalDependency(
            determinant=["det"], dependent="dep", max_examples=3
        )
        got = {r["det"]: r for r in fd.violating_keys(df).collect()}
        assert set(got) == {"p2"}
        assert got["p2"]["n_rows"] == 4
        assert got["p2"]["n_dep"] == 4
        assert got["p2"]["examples"] == "s1,s2,s3"

    def test_verdicts_counts(self, spark):
        from jsonschema_spark.operators.checks import FunctionalDependency

        rows = [("p1", "a"), ("p1", "b"), ("p2", "a"), ("p3", "a"), ("p3", "b"), ("p3", "c")]
        df = spark.createDataFrame(rows, "det string, dep string")
        fd = FunctionalDependency(determinant=["det"], dependent="dep")
        v = fd.verdicts(df).collect()
        assert len(v) == 1
        assert v[0]["violation_count"] == 2  # p1 and p3 violate
        assert v[0]["metrics"]["extra_values"] == "3"  # (2-1)+(3-1)
        assert not v[0]["pass"]


    def test_null_determinant_listed(self, spark):
        """NULL-determinant groups must appear in violating_keys when
        they violate — the equi-join used to drop them while verdicts
        still counted them (r3 advice finding)."""
        from jsonschema_spark.operators.checks import FunctionalDependency

        rows = [(None, "a"), (None, "b"), ("p1", "a")]
        df = spark.createDataFrame(rows, "det string, dep string")
        fd = FunctionalDependency(determinant=["det"], dependent="dep")
        keys = fd.violating_keys(df).collect()
        assert len(keys) == 1
        assert keys[0]["det"] is None and keys[0]["n_dep"] == 2
        assert keys[0]["examples"] == "a,b"
        v = fd.verdicts(df).collect()[0]
        # listing and verdict counts agree
        assert v["violation_count"] == 1
