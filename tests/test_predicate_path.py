"""Verdict compilation (``Rule.fails`` via ``fail_predicate``): the
boolean verdict path must agree exactly with the violation-array path
on every fixture schema and every keyword, including keywords that keep
the default ``size(violations) > 0`` form."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.sources.fixtures import (
    GATEWAY_SCHEMA,
    TRANSCRIPT_CORE_SCHEMA,
    TRANSCRIPT_FULL_SCHEMA,
    gateway_requests,
    transcripts,
)


def _bad_counts(plan, df):
    pred = plan.fail_predicate(df)
    assert pred is not None, "expected predicate-path support"
    fast = df.agg(F.sum(pred.cast("long")).alias("n")).collect()[0]["n"] or 0
    slow = (
        plan.annotate(df)
        .agg(F.sum((F.size("violations") > 0).cast("long")).alias("n"))
        .collect()[0]["n"]
        or 0
    )
    return fast, slow


def test_predicate_equals_arrays_transcripts(spark):
    df = transcripts(spark, n_convs=400).cache()
    for doc in (TRANSCRIPT_CORE_SCHEMA, TRANSCRIPT_FULL_SCHEMA):
        fast, slow = _bad_counts(js.compile_schema(doc), df)
        assert fast == slow and fast > 0
    df.unpersist()


def test_predicate_equals_arrays_gateway(spark):
    df = gateway_requests(spark, n_rows=20_000).cache()
    fast, slow = _bad_counts(js.compile_schema(GATEWAY_SCHEMA), df)
    assert fast == slow and fast > 0
    df.unpersist()


def test_predicate_equals_arrays_combinators(spark):
    df = spark.createDataFrame(
        [(1, "BUILDING", 10.0), (2, "FURNITURE", 100.0), (3, "HOUSE", -5.0)],
        "id int, seg string, bal double",
    )
    doc = {
        "properties": {
            "seg": {"anyOf": [{"enum": ["BUILDING"]}, {"pattern": "^M"}]},
            "bal": {"not": {"maximum": 0}},
        },
        "switch": "seg",
        "case": {"FURNITURE": {"gt": {"bal": 500}}},
    }
    fast, slow = _bad_counts(js.compile_schema(doc), df)
    assert fast == slow


def test_predicate_falls_back_for_exotic_keywords(spark):
    df = spark.createDataFrame([(1, "x")], "id int, s string")
    plan = js.compile_schema({"script": ["if($.id > 5, return('big'))"]})
    # script keeps the default fails (size of its violations)
    both = spark.createDataFrame([(1, "x"), (9, "y")], "id int, s string")
    assert _bad_counts(plan, both) == (1, 1)
    from jsonschema_spark.operators import checks

    v = checks.SchemaCheck(plan=plan).verdicts(df).collect()
    assert v[0]["pass"] is True


def test_schemacheck_uses_predicate_counts(spark):
    df = transcripts(spark, n_convs=200)
    from jsonschema_spark.operators import checks

    plan = js.compile_schema(TRANSCRIPT_CORE_SCHEMA)
    v = checks.SchemaCheck(plan=plan).verdicts(df).collect()[0]
    slow = (
        plan.annotate(df)
        .agg(F.sum((F.size("violations") > 0).cast("long")).alias("n"))
        .collect()[0]["n"]
    )
    assert int(v["metrics"]["bad_rows"]) == slow


def test_predicate_full_keyword_breadth(spark):
    """format/in/notin/ipIn/B64/children/prop-counts/patterns also run
    on the predicate path, agreeing with the array path."""
    df = spark.createDataFrame(
        [
            (1, "10.0.0.5", "a@b.com", "YWJjZA==", {"x": "1"}, "ball"),
            (2, "8.8.8.8", "nope", "YWJjZGVmZ2hpamts", {"x": "1", "y": "2", "z": "3"}, "golf"),
            (3, None, None, None, None, None),
        ],
        "id int, ip string, mail string, blob string, m map<string,string>, hobby string",
    )
    doc = {
        "properties": {
            "mail": {"format": "email"},
            "blob": {"maxB64DLen": 6},
            "m": {"maxProperties": 2},
        },
        "ipIn": {"ip": ["10.0.0.0/24"]},
        "in": {"hobby": ["ball", "game"]},
        "patterns": {"ip": "^[0-9.]*$"},
        "children": {"mail": {"minLength": 3}},
    }
    plan = js.compile_schema(doc)
    fast, slow = _bad_counts(plan, df)
    assert fast == slow


def test_predicate_eq_missing_target_matches_array_path(spark):
    """A statically-missing eq/neq target must coerce the same way on
    both paths (StringOf(nil) == "") — eq:{missing:""} passes, and
    eq:{missing:"x"} fails, identically (ADVICE r1: _p_eq emitted an
    unconditional fail for missing targets)."""
    df = spark.createDataFrame([(1,), (2,)], "id int")
    for doc, expect_bad in (
        ({"eq": {"missing_field": ""}}, 0),
        ({"eq": {"missing_field": "x"}}, 2),
        ({"neq": {"missing_field": ""}}, 2),
        ({"neq": {"missing_field": "x"}}, 0),
    ):
        fast, slow = _bad_counts(js.compile_schema(doc), df)
        assert fast == slow == expect_bad, (doc, fast, slow)


# py4j commands one bind of the gateway rule's fail_predicate may send
# (calls, reflection and constructors; GC/detach messages excluded, as
# they follow the Python collector, not the bind).  Measured: 1867 before
# the whole-array items form and the direct comparison fails, 1619 after.
GATEWAY_BIND_COMMANDS = 1700


def test_gateway_bind_round_trips(spark, tmp_path, monkeypatch):
    """Each Column operation on the driver is several py4j round trips
    (PySpark captures a call site per operation), so the bind of the
    gateway rule's verdict predicate is bounded by the commands it
    sends to the JVM."""
    path = str(tmp_path / "gw")
    gateway_requests(spark, n_rows=10, partitions=1).write.parquet(path)
    df = spark.read.parquet(path)
    plan = js.compile_schema(GATEWAY_SCHEMA)
    plan.fail_predicate(df)  # warm: the first bind also resolves JVM classes

    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        sent.append(command[:1])
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    plan.fail_predicate(df)
    monkeypatch.undo()
    n = sum(1 for kind in sent if kind != "m")  # "m": memory (GC) messages
    assert 0 < n <= GATEWAY_BIND_COMMANDS, n
