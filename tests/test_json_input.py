"""Dynamic JSON-string-column validation (plans/json_input.py +
CompiledSchema.annotate_json): the reference's actual input domain —
arbitrary JSON documents (schema.go:121-138) — over a string column."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

import jsonschema_spark as js
from jsonschema_spark.plans.json_input import infer_datatype, infer_root_type

NESTED_DOC = {
    "required": ["user"],
    "properties": {
        "user": {
            "type": "object",
            "required": ["id", "name"],
            "properties": {
                "id": {"type": "integer", "minimum": 1},
                "name": {"type": "string", "pattern": "^u[0-9]+$"},
            },
        },
        "items": {"type": "array", "items": {"properties": {"q": {"maximum": 100}}}},
        "note": {"maxLength": 10},
    },
}


def test_infer_datatype_shapes():
    st = infer_root_type(NESTED_DOC)
    assert st.simpleString() == (
        "struct<user:struct<id:bigint,name:string>,"
        "items:array<struct<q:double>>,note:string>"
    )
    # type unions take the first named type
    assert infer_datatype({"type": "string|integer"}) == T.StringType()
    # keyword-driven inference without explicit type
    assert infer_datatype({"minimum": 3}) == T.DoubleType()
    assert infer_datatype({"pattern": "^a"}) == T.StringType()
    assert infer_datatype({"enum": [1, 2]}) == T.LongType()
    assert infer_datatype({"enum": ["a"]}) == T.StringType()
    assert infer_datatype({"const": True}) == T.BooleanType()
    # required-only keys get a string slot so `required` can fire
    st2 = infer_root_type({"required": ["a", "b"], "properties": {"a": {"type": "integer"}}})
    assert [f.name for f in st2.fields] == ["a", "b"]
    assert st2["b"].dataType == T.StringType()
    # combinator branches merge their fields
    st3 = infer_root_type(
        {
            "allOf": [
                {"properties": {"x": {"type": "integer"}}},
                {"properties": {"y": {"type": "string"}}},
            ]
        }
    )
    assert [f.name for f in st3.fields] == ["x", "y"]
    # non-object documents degrade to the dynamic map
    assert isinstance(infer_root_type({"eq": {"a": "b"}}), T.MapType)


def test_validate_json_column_nested(spark):
    rows = [
        (1, '{"user": {"id": 5, "name": "u7"}, "items": [{"q": 50}, {"q": 110}], "note": "ok"}'),
        (2, '{"user": {"id": 0, "name": "bob"}, "items": [], "note": "aaaaaaaaaaaaaaaa"}'),
        (3, '{"items": [{"q": 10}]}'),
        (4, 'not json at all {'),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "event_id int, payload string")
    plan = js.compile_schema(NESTED_DOC)
    got = {
        (r["event_id"], r["path"], r["info"])
        for r in plan.validate(df, keys=["event_id"], json_col="payload")
        .violations.collect()
    }
    assert (1, "$.items[*].q", "value must be <= than 100") in got
    assert (2, "$.user.id", "value must be larger or equal than 1") in got
    assert (2, "$.user.name", "bob ,value does not match pattern: ^u[0-9]+$") in got
    assert (2, "$.note", "length must be less or equal than 10") in got
    assert (3, "$.user", "field is required") in got
    # malformed document: exactly ONE '$' violation, no field noise
    row4 = {(p, i) for (e, p, i) in got if e == 4}
    assert row4 == {("$", "invalid json document")}
    # NULL document behaves like an empty document (required fires)
    assert (5, "$.user", "field is required") in got


def test_json_column_wrong_type_faithful_vs_static(spark):
    """Runtime type dispatch (default, json_types="variant"): a
    wrong-typed value gets the reference's exact type error (typeOf,
    type.go:3-20).  Static mode keeps the documented divergence —
    PERMISSIVE from_json nulls the field, so required catches it."""
    df = spark.createDataFrame(
        [(1, '{"user": {"id": "abc", "name": "u1"}}')], "event_id int, payload string"
    )
    plan = js.compile_schema(NESTED_DOC)
    got = {
        (r["path"], r["info"])
        for r in plan.validate(df, keys=["event_id"], json_col="payload")
        .violations.collect()
    }
    assert ("$.user.id", "Invalid type, expected: integer , given: string") in got
    got_static = {
        (r["path"], r["info"])
        for r in plan.validate(
            df, keys=["event_id"], json_col="payload", json_types="static"
        )
        .violations.collect()
    }
    assert ("$.user.id", "field is required") in got_static


def test_json_map_fallback_keymatch(spark):
    """Non-object-shaped documents parse as map<string,string>; the
    dynamic-key keywords (keyMatch/eq) work against map entries."""
    df = spark.createDataFrame(
        [(1, '{"kind": "a", "v": "1"}'), (2, '{"kind": "b", "v": "2"}')],
        "id int, payload string",
    )
    plan = js.compile_schema({"eq": {"kind": "a"}})
    bad = (
        plan.annotate_json(df, "payload")
        .filter(F.size("violations") > 0)
        .select("id")
        .collect()
    )
    assert [r["id"] for r in bad] == [2]


def test_json_path_stays_codegen(spark):
    """The parse + rules must remain ONE codegen projection: no
    shuffle, no Python in the row path."""
    df = spark.createDataFrame([(1, "{}")], "id int, payload string")
    plan = js.compile_schema(NESTED_DOC)
    ann = plan.annotate_json(df, "payload")
    txt = ann._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in txt
    assert "BatchEvalPython" not in txt


def test_json_keep_parsed_column(spark):
    df = spark.createDataFrame(
        [(1, '{"user": {"id": 3, "name": "u3"}}')], "id int, payload string"
    )
    plan = js.compile_schema(NESTED_DOC)
    # default (variant) mode keeps a VariantType column: path access
    # via variant_get, not struct field extraction
    out = plan.annotate_json(df, "payload", keep_parsed="doc")
    row = out.select(
        F.try_variant_get(F.col("doc"), "$.user.id", "bigint")
    ).collect()[0]
    assert row[0] == 3
    # static mode keeps the inferred struct: plain field extraction
    out_s = plan.annotate_json(df, "payload", keep_parsed="doc", json_types="static")
    assert out_s.select("doc.user.id").collect()[0][0] == 3


def test_json_fail_predicate_equals_array_path(spark):
    """The JSON predicate hot path (fail_predicate(df, json_col=...))
    must agree with the array path row-for-row, including malformed
    documents counting as failures."""
    rows = [
        (1, '{"user": {"id": 5, "name": "u7"}, "items": [{"q": 50}], "note": "ok"}'),
        (2, '{"user": {"id": 0, "name": "bob"}}'),
        (3, '{"items": [{"q": 10}]}'),
        (4, 'not json at all {'),
        (5, None),
        (6, '{"user": {"id": 2, "name": "u9"}, "items": [{"q": 500}]}'),
    ]
    df = spark.createDataFrame(rows, "event_id int, payload string")
    plan = js.compile_schema(NESTED_DOC)
    pred = plan.fail_predicate(df, json_col="payload")
    assert pred is not None
    fast = {
        r["event_id"]
        for r in df.filter(pred).select("event_id").collect()
    }
    slow = {
        r["event_id"]
        for r in plan.annotate_json(df, "payload")
        .filter(F.size("violations") > 0)
        .select("event_id")
        .collect()
    }
    assert fast == slow == {2, 3, 4, 5, 6}


REFERENCE_NESTED_SCHEMA = {
    # verbatim shape of the reference's own nested fixture
    # (schema_test.go:137-222): switch/case with required-only
    # branches, container `default`, union type, if/then/else,
    # maxLength 0, additionalProperties
    "type": "object",
    "properties": {
        "a": {
            "switch": "a1",
            "case": {"a": {"required": ["b1", "c1"]},
                     "b": {"required": ["b2", "c2"]}},
            "default": {},
            "type": "object",
            "properties": {
                "a1": {"type": "string", "maxLength": 5},
                "a2": {"type": "string", "maxLength": 5},
                "a3": {"type": "string", "maxLength": 5},
                "a4": {"type": "string|number", "multipleOf": 4},
            },
        },
        "b": {
            "type": "object",
            "if": {"required": ["a1"]},
            "then": {"required": ["b5"]},
            "else": {"required": ["b6"]},
            "properties": {
                "a1": {"type": "string", "maxLength": 5, "enum": ["dd"]},
                "a2": {"type": "string"},
                "a3": {"type": "string", "maxLength": 5},
                "a4": {"type": "string"},
                "b6": {"type": "string"},
            },
        },
        "c": {
            "type": "object",
            "additionalProperties": True,
            "properties": {
                "a1": {"type": "string", "maxLength": 0},
                "a2": {"type": "string"},
                "a3": {"type": "string", "maxLength": 5},
                "a4": {"type": "string"},
                "a5": {"type": "integer", "maximum": 0},
            },
        },
    },
}


def test_reference_nested_fixture_over_json_column(spark):
    """The reference's own nested test schema validates a JSON column
    end-to-end: case-branch requireds get struct slots, the container
    `default` is the documented no-op, if/then/else nests."""
    rows = [
        (1, '{"a": {"a1": "a", "a2": "toolong6", "a4": 8}, '
            '"b": {"a1": "dd"}, "c": {"a1": "", "a5": 0}}'),
        (2, '{"a": {"a1": "zz"}, "b": {"b6": "x"}, "c": {"a1": "x", "a5": 3}}'),
    ]
    df = spark.createDataFrame(rows, "id int, payload string")
    plan = js.compile_schema(REFERENCE_NESTED_SCHEMA)
    got = {
        (r["id"], r["path"], r["info"])
        for r in plan.validate(df, keys=["id"], json_col="payload")
        .violations.collect()
    }
    assert got == {
        (1, "$.a.a2", "length must be less or equal than 5"),
        (1, "$.a.b1", "field is required"),
        (1, "$.a.c1", "field is required"),
        (1, "$.b.b5", "field is required"),
        (2, "$.c.a1", "length must be less or equal than 0"),
        (2, "$.c.a5", "value must be <= than 0"),
    }


def test_json_path_equals_struct_path_on_corpus(spark):
    """Structural equivalence: validating a JSON column must produce
    the SAME violations as parsing that column into top-level struct
    fields and running the fixed-column path — the two input domains
    share one compiler.  (Malformed docs excluded: the JSON path
    reports the decode failure, the struct path sees nulls.)"""
    import sys

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as E

    df = E._json_events_payload_df(spark, "/root/testdata/sf0.001")
    plan = js.compile_schema(E.JSON_EVENTS_SCHEMA)

    via_json = plan.validate(df, keys=["event_id"], json_col="payload").violations
    malformed = {
        r["event_id"]
        for r in via_json.filter(F.col("info") == "invalid json document")
        .select("event_id")
        .collect()
    }

    st = plan.json_root_type()
    parsed = df.select(
        "event_id", F.from_json("payload", st).alias("d")
    ).select("event_id", "d.*")
    via_struct = plan.validate(parsed, keys=["event_id"]).violations

    a = {
        (r["event_id"], r["path"], r["info"])
        for r in via_json.collect()
        if r["event_id"] not in malformed
    }
    b = {
        (r["event_id"], r["path"], r["info"])
        for r in via_struct.collect()
        if r["event_id"] not in malformed
    }
    assert len(malformed) > 0          # the corpus plants malformed docs
    assert a == b and len(a) > 100


def test_json_validation_on_stream(spark, tmp_path):
    """The JSON-column path is a stateless projection, so it applies to
    a readStream source unchanged — continuous validation of dynamic
    JSON payloads."""
    rows = [
        (1, '{"user": {"id": 5, "name": "u7"}}'),
        (2, '{"user": {"id": 0, "name": "bob"}}'),
        (3, "broken {"),
    ]
    src = str(tmp_path / "json_stream")
    spark.createDataFrame(rows, "event_id int, payload string").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("event_id int, payload string").parquet(src)
    plan = js.compile_schema(NESTED_DOC)
    ann = plan.annotate_json(stream, "payload")
    bad = ann.filter(F.size("violations") > 0).select(
        "event_id", F.col("violations")[0]["info"].alias("first_info")
    )
    q = (
        bad.writeStream.format("memory").queryName("json_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.processAllAvailable()
    q.stop()
    got = {r["event_id"]: r["first_info"]
           for r in spark.sql("select * from json_stream_t").collect()}
    assert got[3] == "invalid json document"
    assert 2 in got and 1 not in got


def test_json_type_mismatch_not_invalid_json(spark):
    """A VALID document whose only typed field fails conversion must
    NOT be classified 'invalid json document' (review r2): the field
    nulls and validation proceeds."""
    df = spark.createDataFrame(
        [(1, '{"a": "xyz"}'), (2, 'garbage {'), (3, '{"a": -1}')],
        "id int, payload string",
    )
    plan = js.compile_schema({"properties": {"a": {"minimum": 0}}})
    got = {
        (r["id"], r["info"])
        for r in plan.validate(df, keys=["id"], json_col="payload")
        .violations.collect()
    }
    assert got == {
        (2, "invalid json document"),
        (3, "value must be larger or equal than 0"),
    }
    pred = plan.fail_predicate(df, json_col="payload")
    assert sorted(r["id"] for r in df.filter(pred).collect()) == [2, 3]


def test_json_nonstruct_root_wellformed_scalar_not_malformed(spark):
    """Under the map/array fallback root, a WELL-FORMED document of a
    different top-level shape (scalar, array vs map) must not be
    misreported as '$ invalid json document' — the reference decodes
    any JSON value (schema.go:121-138); only genuinely unparseable
    input is a decode error (ADVICE r2 low, compiler.py non-struct
    malformed_of)."""
    df = spark.createDataFrame(
        [
            (1, '{"kind": "a"}'),   # map-shaped: parses
            (2, "5"),               # well-formed scalar: NOT malformed
            (3, "[1, 2]"),          # well-formed array: NOT malformed
            (4, "{nope"),           # garbage: malformed
        ],
        "id int, payload string",
    )
    plan = js.compile_schema({"eq": {"kind": "a"}})
    ann = plan.annotate_json(df, "payload")
    bad = {
        r["id"]
        for r in ann.select(
            "id", F.explode("violations").alias("v")
        )
        .filter(F.col("v.info") == "invalid json document")
        .collect()
    }
    assert bad == {4}


def _parse_count(opt_plan: str, mode: str) -> int:
    """Number of document parses in an optimized plan string: from_json
    (static mode; the lazy try_parse_json corrupt-row re-check is NOT a
    per-row parse) or VariantExpressionEvalUtils.parseJson (variant)."""
    if mode == "static":
        return opt_plan.count("from_json")
    return opt_plan.count("parseJson(")


def test_json_violations_single_parse_in_plan(spark):
    """The violations path must contain exactly ONE document parse in
    the optimized plan: InferFiltersFromGenerate + predicate pushdown
    used to inline the whole violations expression into a scan-level
    filter (28 from_json copies per row, ~10x wall time — the r2
    driver-bench anomaly).  explode_outer + post-filter keeps the
    parse single — in BOTH parse modes."""
    df = spark.createDataFrame(
        [(1, '{"user": {"id": 0, "name": "bad"}}'), (2, '{"user": {"id": 5, "name": "u5"}}')],
        "id int, payload string",
    )
    plan = js.compile_schema(NESTED_DOC)
    for mode in ("variant", "static"):
        v = plan.validate(df, keys=["id"], json_col="payload", json_types=mode).violations
        opt = v._jdf.queryExecution().optimizedPlan().toString()
        assert _parse_count(opt, mode) == 1, (mode, opt)
        rows = v.collect()
        assert any(r["path"] == "$.user.id" for r in rows)


def test_invalid_valid_fence_no_scan_level_duplication(spark):
    """invalid/valid keep their size() filter ABOVE the annotate
    projection (nondeterministic fence): no parse may appear in a
    Filter node of the optimized plan."""
    df = spark.createDataFrame([(1, '{"user": {"id": 1}}')], "id int, payload string")
    plan = js.compile_schema(NESTED_DOC)
    for mode in ("variant", "static"):
        res = plan.validate(df, keys=["id"], json_col="payload", json_types=mode)
        for d in (res.invalid, res.valid):
            opt = d._jdf.queryExecution().optimizedPlan().toString()
            assert _parse_count(opt, mode) == 1, (mode, opt)
        # semantics unchanged
        assert res.invalid.count() + res.valid.count() == 1
