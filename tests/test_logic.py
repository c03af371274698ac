"""Combinators / control flow (reference validator_logic.go,
validator_properties.go) + $ref inlining."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import compile_schema


def viols(spark, schema, data, ddl):
    df = spark.createDataFrame(data, ddl)
    return {
        r["id"]: [(v["path"], v["info"]) for v in r["violations"]]
        for r in compile_schema(schema).annotate(df).collect()
    }


def test_all_of_accumulates(spark):
    out = viols(
        spark,
        {"allOf": [{"properties": {"v": {"minimum": 0}}}, {"properties": {"v": {"maximum": 10}}}]},
        [(1, 5.0), (2, 20.0), (3, -1.0)],
        "id int, v double",
    )
    assert out[1] == []
    assert out[2] == [("$.v", "value must be <= than 10")]
    assert out[3] == [("$.v", "value must be larger or equal than 0")]


def test_any_of_first_match_wins(spark):
    out = viols(
        spark,
        {
            "anyOf": [
                {"properties": {"v": {"maximum": 5}}},
                {"properties": {"v": {"minimum": 100}}},
            ]
        },
        [(1, 3.0), (2, 150.0), (3, 50.0)],
        "id int, v double",
    )
    assert out[1] == []
    assert out[2] == []
    # no branch passes: all branch errors emitted (validator_logic.go:12-43)
    assert out[3] == [
        ("$.v", "value must be <= than 5"),
        ("$.v", "value must be larger or equal than 100"),
    ]


def test_one_of_is_any_of(spark):
    # reference deviation: oneOf == anyOf, NOT exclusive
    # (validator_properties.go:92-126)
    out = viols(
        spark,
        {
            "oneOf": [
                {"properties": {"v": {"minimum": 0}}},
                {"properties": {"v": {"maximum": 100}}},
            ]
        },
        [(1, 50.0)],  # matches BOTH branches -> passes under reference semantics
        "id int, v double",
    )
    assert out[1] == []


def test_not(spark):
    out = viols(
        spark,
        {"properties": {"v": {"not": {"enum": ["banned"]}}}},
        [(1, "ok"), (2, "banned")],
        "id int, v string",
    )
    assert out[1] == []
    assert out[2] == [("$.v", "is not valid")]


def test_if_then_else(spark):
    schema = {
        "if": {"eq": {"role": "tool"}},
        "then": {"required": ["tool"]},
        "else": {"properties": {"text": {"minLength": 1}}},
    }
    out = viols(
        spark,
        schema,
        [
            (1, "tool", "t1", "x"),
            (2, "tool", None, "x"),
            (3, "user", None, "hello"),
            (4, "user", None, ""),
        ],
        "id int, role string, tool string, text string",
    )
    assert out[1] == []
    assert out[2] == [("$.tool", "field is required")]
    assert out[3] == []
    assert out[4] == [("$.text", "length must be larger or equal than 1")]


def test_switch_case_defaults(spark):
    schema = {
        "switch": "role",
        "case": {
            "tool": {"required": ["tool"]},
            "user": {"properties": {"text": {"minLength": 2}}},
        },
        "defaults": {"properties": {"text": {"maxLength": 3}}},
    }
    out = viols(
        spark,
        schema,
        [
            (1, "tool", "t1", "x"),
            (2, "tool", None, "x"),
            (3, "user", None, "hi"),
            (4, "user", None, "z"),
            (5, "assistant", None, "looong"),
        ],
        "id int, role string, tool string, text string",
    )
    assert out[1] == []
    assert out[2] == [("$.tool", "field is required")]
    assert out[3] == []
    assert out[4] == [("$.text", "length must be larger or equal than 2")]
    assert out[5] == [("$.text", "length must be less or equal than 3")]


def test_key_match_and_eq_with_interpolation(spark):
    out = viols(
        spark,
        {"keyMatch": {"a": "${b}"}},
        [(1, "x", "x"), (2, "x", "y")],
        "id int, a string, b string",
    )
    assert out[1] == []
    assert out[2] == [("$.a", "value must be ${b}")]


def test_key_match_null_typed_column_is_nil(spark):
    """A NULL boolean or numeric column is the reference's nil: Equal
    compares StringOf(nil) = "" with the operand's string form, not the
    type's zero value, so keyMatch false/0 fails on it — as it does on an
    absent field of a variant JSON document."""
    schema = {"keyMatch": {"flag": False, "n": 0}}
    data = [(1, None, None), (2, False, 0)]
    ddl = "id int, flag boolean, n int"
    out = viols(spark, schema, data, ddl)
    assert out[1] == [("$.flag", "value must be false"), ("$.n", "value must be 0")]
    assert out[2] == []
    df = spark.createDataFrame(data, ddl)
    plan = compile_schema(schema)
    got = {r["id"]: r["f"] for r in df.select("id", plan.fail_predicate(df).alias("f")).collect()}
    assert got == {1: True, 2: False}


def test_error_keyword_interpolated(spark):
    out = viols(
        spark,
        {
            "if": {"eq": {"role": "banned"}},
            "then": {"error": "role ${role} not allowed"},
        },
        [(1, "banned"), (2, "user")],
        "id int, role string",
    )
    assert out[1] == [("$", "role banned not allowed")]
    assert out[2] == []


def test_ref_defs(spark):
    schema = {
        "$defs": {"roleSchema": {"enum": ["user", "tool"]}},
        "properties": {"role": {"$ref": "#/$defs/roleSchema"}},
    }
    out = viols(
        spark, schema, [(1, "user"), (2, "bad")], "id int, role string"
    )
    assert out[1] == []
    assert out[2] == [("$.role", "value is invalid , shoule be one of [user tool]")]


def test_additional_properties_false(spark):
    out = viols(
        spark,
        {
            "properties": {"id": {"type": "number"}, "name": {"type": "string"}},
            "additionalProperties": False,
        },
        [(1, "a", "extra")],
        "id int, name string, surprise string",
    )
    assert out[1] == [("$.surprise", "unknown field")]


def test_nested_struct_properties(spark):
    schema = {
        "properties": {
            "meta": {
                "properties": {"lang": {"enum": ["en", "fr"]}},
                "required": ["lang"],
            }
        }
    }
    out = viols(
        spark,
        schema,
        [(1, ("en",)), (2, ("de",)), (3, (None,))],
        "id int, meta struct<lang:string>",
    )
    assert out[1] == []
    assert out[2] == [("$.meta.lang", "value is invalid , shoule be one of [en fr]")]
    assert out[3] == [("$.meta.lang", "field is required")]
