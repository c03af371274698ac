"""Physical-plan regression tests: the plans we designed for 100 TB
must stay the plans Catalyst actually picks (pushdown, broadcast,
partial aggregation, no cartesian, no Python in the hot path)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.operators import checks
from jsonschema_spark.sources.fixtures import dim_roles, transcripts


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tdf(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    transcripts(spark, n_convs=50).write.parquet(path)
    return spark.read.parquet(path)


def test_validation_is_single_project_no_python(tdf):
    plan = js.compile_schema(
        {"required": ["conv_id"], "properties": {"turn_idx": {"minimum": 0}}}
    )
    p = plan_of(plan.annotate(tdf))
    assert "Exchange" not in p, "row-level validation must not shuffle"
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "*(1) Project" in p  # '*' marks whole-stage codegen


def test_validation_filter_pushdown_composes(tdf):
    """A user filter composed before validation reaches the scan."""
    plan = js.compile_schema({"properties": {"turn_idx": {"minimum": 0}}})
    df = plan.annotate(tdf.filter(F.col("role") == "user"))
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in p


def test_stats_is_two_phase_aggregate(tdf):
    chk = checks.ColumnStats(columns=["role", "turn_idx"], approx=True)
    p = plan_of(chk.stats(tdf))
    # partial (map-side) + final aggregate around exactly one exchange:
    # the shuffle carries one sketch-state row per input partition, not
    # data rows.  (String min/max buffers legitimately pick
    # SortAggregate — over a constant grouping key the sort is free.)
    assert "partial_count" in p and "partial_approx_count_distinct" in p
    assert p.count("Exchange") == 1


def test_uniqueness_is_hash_aggregate_not_sort(tdf):
    chk = checks.Uniqueness(keys=["conv_id", "turn_idx"])
    p = plan_of(chk.duplicates(tdf))
    assert "HashAggregate" in p
    assert "SortAggregate" not in p


def test_uniqueness_phase1_shuffles_hash_not_keys(tdf):
    """hash_first plan (r5, opt-in — measured a net LOSS on short
    compressible transcript keys, see Uniqueness docstring): the
    corpus-wide exchange partitions on (partition_id, 64-bit hash),
    never on the raw composite key.  The exact-key groupBy survives
    only downstream of the candidate rejoin (aggregate-sized
    input)."""
    chk = checks.Uniqueness(keys=["conv_id", "turn_idx"], hash_first=True)
    for d in (chk.duplicates(tdf), chk.verdicts(tdf)):
        p = plan_of(d)
        assert "__h" in p
        # plans print root-first, so the DEEPEST exchange (the one fed
        # by the scan — the corpus-wide shuffle) is the last match; it
        # must carry __h.  Full-key partitionings may appear only
        # nearer the root (post-rejoin, aggregate-sized).
        last_ex = p.rfind("hashpartitioning")
        assert last_ex != -1
        assert "__h" in p[last_ex:p.find(")", last_ex)]


def test_ri_is_broadcast_anti_join(spark, tdf):
    chk = checks.ReferentialIntegrity(
        dim=dim_roles(spark), fact_key="role", dim_key="role"
    )
    p = plan_of(chk.orphans(tdf))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_bucketed_layout_removes_corpus_exchange(spark, tmp_path):
    """r5 storage-layout path: over a table bucketed by conv_id and
    sorted by (conv_id, turn_idx), per-conversation operators run
    with NO corpus-wide exchange — uniqueness keeps only its tiny
    per-partition reagg exchange; window-rank keeps none before its
    1-row final agg (BENCH/profile_8to32_r5.json: shuffle bytes
    1.8/2.1 GB → 0, 32-core walls 3.0×/5.2× faster)."""
    from pyspark.sql import Window

    from jsonschema_spark.sources.tables import write_bucketed

    name = "t_bucketed_plan_shape"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(
        transcripts(spark, n_convs=40),
        name,
        bucket_by=["conv_id"],
        num_buckets=4,
        sort_by=["conv_id", "turn_idx"],
        path=str(tmp_path / "bt"),
    )
    df = spark.table(name)
    chk = checks.Uniqueness(keys=["conv_id", "turn_idx"])
    p = plan_of(chk.verdicts(df))
    # the ONLY exchange left is the per-partition_id reaggregation
    assert p.count("Exchange") == 1
    assert "conv_id" not in p[p.find("Exchange"):p.find("\n", p.find("Exchange"))]
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    ranked = df.withColumn("rn", F.row_number().over(w)).select(
        F.sum(F.col("rn").cast("long")).alias("s")
    )
    p2 = plan_of(ranked)
    # no hash exchange at all: only the SinglePartition final agg
    assert p2.count("Exchange") == 1 and "SinglePartition" in p2
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_transform_pipeline_stays_narrow(tdf):
    plan = js.compile_schema(
        {
            "properties": {
                "text": {"defaultVal": ""},
                "role": {"formatVal": "upper"},
            },
            "set": {"tag": "${role}:${conv_id}"},
        }
    )
    p = plan_of(plan.transform(tdf))
    assert "Exchange" not in p, "transform pipeline must not shuffle"


def test_q5_snowflake_broadcasts_dims(spark):
    """q5's snowflake join must broadcast nation/region/supplier and
    never cartesian — the explicit hints that took the sf0.1 wall time
    from 4.1s to 2.0s (VERDICT r1 item 8)."""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E

    df = E.q_q5_nation_revenue(spark, "/root/testdata/sf0.001")
    p = plan_of(df)
    assert "CartesianProduct" not in p
    # the three hinted dims arrive via broadcast exchanges/joins
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 3


def test_json_column_validation_single_projection(spark):
    """from_json + rules must fuse into one codegen projection."""
    df = spark.createDataFrame([(1, '{"user": {"id": 1}}')], "id int, payload string")
    plan = js.compile_schema(
        {"required": ["user"],
         "properties": {"user": {"properties": {"id": {"minimum": 1}}}}}
    )
    p = plan_of(plan.annotate_json(df, "payload"))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_script_for_fold_stays_narrow(spark):
    """The for-statement fold is a higher-order aggregate inside the
    projection: no shuffle, no Python."""
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id int, xs array<double>")
    plan = js.compile_schema(
        {"script": ["s = 0", {"for": "i,x in $.xs", "do": ["s = s + x"]},
                    "$.out = string(s)"]}
    )
    p = plan_of(plan.transform(df))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# higher-order functions are CodegenFallback: any of them in an operator
# takes that operator out of whole-stage codegen
HIGHER_ORDER = ("lambdafunction", "exists(", "forall(", "transform(", "filter(",
                "aggregate(", "zip_with(", "map_filter(", "transform_values(")


def _final_plan(q) -> str:
    """The adaptive plan's final form, with its whole-stage-codegen
    markers, after the query ran."""
    q.collect()
    return plan_of(q).split("== Initial Plan ==")[0]


def test_gateway_verdicts_stay_in_codegen(spark, tmp_path):
    """The gateway rule's verdict count is one code-generated
    aggregate: both HashAggregates under a ``*(n)`` marker, and no
    higher-order expression anywhere (``items`` over array<string>
    with type + enum compiles to its whole-array form)."""
    from jsonschema_spark.sources.fixtures import GATEWAY_SCHEMA, gateway_requests

    path = str(tmp_path / "gw")
    gateway_requests(spark, n_rows=2000, partitions=2).write.parquet(path)
    df = spark.read.parquet(path)
    plan = js.compile_schema(GATEWAY_SCHEMA)
    q = df.agg(F.sum(plan.fail_predicate(df).cast("long")).alias("n"))
    p = _final_plan(q)
    aggs = [line for line in p.splitlines() if "HashAggregate(" in line]
    assert len(aggs) == 2, p
    assert all(re.search(r"\*\(\d+\) HashAggregate", line) for line in aggs), p
    assert not [h for h in HIGHER_ORDER if h in p], p
    slow = plan.annotate(df).agg(F.sum((F.size("violations") > 0).cast("long"))).collect()[0][0]
    assert q.collect()[0]["n"] == slow > 0


def test_items_without_whole_array_form_keeps_exists(spark, tmp_path):
    """Negative control: ``maxLength`` has no whole-array form, so
    ``items`` still tests it per element with ``exists`` (the type check
    is statically satisfied and drops out) — and the verdicts stay
    exact."""
    rows = [(["ab", "abcd"],), (["ab"],), ([],), (None,), ([None, "x"],), (["abcde"] * 9,)]
    path = str(tmp_path / "ml")
    spark.createDataFrame(rows, "xs array<string>").write.parquet(path)
    df = spark.read.parquet(path)
    plan = js.compile_schema(
        {"properties": {"xs": {"items": {"type": "string", "maxLength": 3}}}})
    q = df.agg(F.sum(plan.fail_predicate(df).cast("long")).alias("n"))
    p = _final_plan(q)
    slow = plan.annotate(df).agg(F.sum((F.size("violations") > 0).cast("long"))).collect()[0][0]
    assert "exists(" in p and "lambdafunction" in p, p
    assert q.collect()[0]["n"] == slow == 2


def test_single_condition_keyword_builds_no_violation_array(spark):
    """``maxItems``, ``uniqueItems`` and ``dependencies`` answer
    ``fails`` with their own conditions: the optimized predicate holds
    no violation-array literal."""
    df = spark.createDataFrame(
        [([1, 2, 3], None), ([1, 1], [2]), (None, [3])], "xs array<int>, ys array<int>"
    )
    for doc, want in (
        ({"properties": {"xs": {"maxItems": 2}}}, [True, False, False]),
        ({"properties": {"xs": {"uniqueItems": True}}}, [False, True, False]),
        ({"dependencies": {"xs": ["ys"]}}, [True, False, False]),
    ):
        plan = js.compile_schema(doc)
        q = df.select(plan.fail_predicate(df).alias("f"))
        p = q._jdf.queryExecution().optimizedPlan().toString()
        assert "[[" not in p, (doc, p)
        assert [r["f"] for r in q.collect()] == want, doc
