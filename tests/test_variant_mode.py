"""VariantType runtime-dispatch validation (json_types="variant", the
default json_col mode): every keyword must dispatch on the per-row
runtime JSON type exactly like the reference's ``switch value.(type)``
(/root/reference/type.go:3-20, validator_base.go)."""

from __future__ import annotations

from pyspark.sql import functions as F

import jsonschema_spark as js


def _viol(spark, doc, payloads, **kw):
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "id int, payload string"
    )
    plan = js.compile_schema(doc)
    rows = (
        plan.validate(df, keys=["id"], json_col="payload", **kw)
        .violations.collect()
    )
    return {(r["id"], r["path"], r["info"]) for r in rows}


def test_type_union_runtime(spark):
    got = _viol(
        spark,
        {"properties": {"v": {"type": "string|integer"}}},
        ['{"v": "s"}', '{"v": 3}', '{"v": 3.5}', '{"v": true}', "{}"],
    )
    ids = {i for (i, p, m) in got}
    assert ids == {2, 3}
    assert all(m == "type should be one of string|integer" for (_, _, m) in got)


def test_type_integer_float_message(spark):
    got = _viol(
        spark,
        {"properties": {"v": {"type": "integer"}}},
        ['{"v": 2}', '{"v": 2.0}', '{"v": 2.5}', '{"v": "x"}', '{"v": null}'],
    )
    assert got == {
        (2, "$.v", "type should be integer, but float:2.5"),
        (3, "$.v", "Invalid type, expected: integer , given: string"),
    }


def test_type_container_labels(spark):
    got = _viol(
        spark,
        {"properties": {"v": {"type": "string"}}},
        ['{"v": {"a": 1}}', '{"v": [1]}', '{"v": 1}', '{"v": true}'],
    )
    assert got == {
        (0, "$.v", "Invalid type, expected: string , given: map[string]interface {}"),
        (1, "$.v", "Invalid type, expected: string , given: []interface {}"),
        (2, "$.v", "Invalid type, expected: string , given: float64"),
        (3, "$.v", "Invalid type, expected: string , given: bool"),
    }


def test_numeric_bounds_strict_runtime(spark):
    # bounds apply to JSON numbers only — numeric STRINGS skip, exactly
    # valueOfFloat (validator_base.go:405-425)
    got = _viol(
        spark,
        {"properties": {"v": {"minimum": 10, "multipleOf": 2}}},
        ['{"v": 4}', '{"v": "4"}', '{"v": 12}', '{"v": 11}'],
    )
    ids_msgs = {(i, m.split(",")[0]) for (i, p, m) in got}
    assert (0, "value must be larger or equal than 10") in ids_msgs
    assert (3, "value must be multipleOf 2") in ids_msgs
    assert not any(i == 1 for (i, _) in ids_msgs)  # string skips
    assert not any(i == 2 for (i, _) in ids_msgs)


def test_string_keywords_skip_non_string(spark):
    got = _viol(
        spark,
        {"properties": {"v": {"pattern": "^a", "minLength": 2, "format": "email"}}},
        ['{"v": 123}', '{"v": "zz"}', '{"v": "ab@c.io"}'],
    )
    ids = {i for (i, p, m) in got}
    # number skips every string keyword; "zz" fails pattern+format
    assert ids == {1}


def test_length_dispatch_string_vs_array(spark):
    # maxLength switches on runtime string/array (validator_base.go:257-275)
    got = _viol(
        spark,
        {"properties": {"v": {"maxLength": 2}}},
        ['{"v": "abc"}', '{"v": [1,2,3]}', '{"v": "ab"}', '{"v": [1]}', '{"v": 5}'],
    )
    assert {i for (i, p, m) in got} == {0, 1}


def test_enum_coercing_per_row_kind(spark):
    # LHS runtime kind picks the comparison family (common.go:142-154):
    # number 1 matches enum "1"; string "1" matches too; bool true
    # stringifies to "true"
    got = _viol(
        spark,
        {"properties": {"v": {"enum": ["1", "x"]}}},
        ['{"v": 1}', '{"v": "1"}', '{"v": "x"}', '{"v": 2}', '{"v": true}'],
    )
    assert {i for (i, p, m) in got} == {3, 4}


def test_required_present_null_passes(spark):
    # m[key] presence: a key holding JSON null is PRESENT
    # (validator_base.go:500-512) — required passes, but scalar
    # validators still skip the null value
    got = _viol(
        spark,
        {"required": ["a"], "properties": {"a": {"minimum": 1}}},
        ['{"a": null}', "{}", '{"a": 0}', '[1,2]'],
    )
    assert got == {
        (1, "$.a", "field is required"),
        (2, "$.a", "value must be larger or equal than 1"),
        # id 3: non-object document -> required skips (map assertion)
    }


def test_unique_items_runtime(spark):
    got = _viol(
        spark,
        {"properties": {"v": {"uniqueItems": True}}},
        [
            '{"v": [1, 2, 1]}',
            '{"v": [1, "1"]}',        # number 1 != string "1"
            '{"v": [true, "true"]}',  # bool != string
            '{"v": [{"a":1}]}',       # containers not comparable
            '{"v": "scalar"}',        # non-array skips
        ],
    )
    assert got == {
        (0, "$.v", " items should be unique"),
        (3, "$.v", " items should be comparable type,like [ string boolean number ]"),
    }


def test_items_and_nested_objects(spark):
    got = _viol(
        spark,
        {
            "properties": {
                "xs": {
                    "items": {
                        "required": ["q"],
                        "properties": {"q": {"maximum": 5}},
                    }
                }
            }
        },
        ['{"xs": [{"q": 3}, {"q": 9}, {}]}', '{"xs": "not-an-array"}'],
    )
    assert got == {
        (0, "$.xs[*].q", "value must be <= than 5"),
        (0, "$.xs[*].q", "field is required"),
    }


def test_properties_count_and_b64(spark):
    got = _viol(
        spark,
        {"properties": {"o": {"maxProperties": 1}, "b": {"maxB64DLen": 3}}},
        ['{"o": {"a":1,"b":2}, "b": "AAAAAAAA"}', '{"o": {"a":1}, "b": "AA=="}'],
    )
    assert {(i, p) for (i, p, m) in got} == {(0, "$.o"), (0, "$.b")}


def test_dependencies_presence_semantics(spark):
    got = _viol(
        spark,
        {"dependencies": {"a": ["b"]}},
        ['{"a": 1, "b": 2}', '{"a": 1}', '{"a": 1, "b": null}', "{}", '"scalar"'],
    )
    # b present-with-null satisfies the dependency (m[key] lookup)
    assert got == {(1, "$.b", "is required")}


def test_in_notin_gt_on_variant_targets(spark):
    got = _viol(
        spark,
        {"in": {"k": ["a", "b"]}, "gt": {"n": 5}},
        ['{"k": "a", "n": 9}', '{"k": "z", "n": 9}', '{"k": "b", "n": 1}'],
    )
    ids = {(i, p) for (i, p, m) in got}
    assert ids == {(1, "$.k"), (2, "$.n")}


def test_foreach_object_and_array_runtime(spark):
    # foreach dispatches on the runtime container kind (foreach.go:
    # 22-32): object -> (key,val) walk, array -> (idx,val) walk,
    # scalar -> silent skip
    doc = {"foreach": {"v": {"lte": {"__val": 10}}}}
    got = _viol(
        spark,
        doc,
        ['{"v": {"a": 5, "b": 50}}', '{"v": [3, 30]}', '{"v": 7}', '{"v": {"a": 1}}'],
    )
    assert {i for (i, p, m) in got} == {0, 1}


def test_combinators_on_variant(spark):
    got = _viol(
        spark,
        {
            "properties": {
                "v": {
                    "anyOf": [{"type": "integer"}, {"pattern": "^ok"}],
                }
            }
        },
        ['{"v": 3}', '{"v": "ok!"}', '{"v": "nope"}', '{"v": 3.5}'],
    )
    ids = {i for (i, p, m) in got}
    # 3.5 PASSES: the integer branch fails but pattern silently skips
    # non-strings, so the pattern branch is satisfied (reference
    # null/type-guard skip semantics compose with anyOf)
    assert ids == {2}


def test_switch_if_on_variant(spark):
    doc = {
        "if": {"eq": {"kind": "x"}},
        "then": {"required": ["xv"]},
        "else": {"required": ["yv"]},
    }
    got = _viol(
        spark,
        doc,
        ['{"kind": "x", "xv": 1}', '{"kind": "x"}', '{"kind": "y", "yv": 1}', '{"kind": "y"}'],
    )
    assert got == {(1, "$.xv", "field is required"), (3, "$.yv", "field is required")}


def test_fail_predicate_variant_agrees(spark):
    doc = {
        "required": ["a"],
        "properties": {"a": {"type": "integer", "minimum": 1}},
    }
    rows = ['{"a": 1}', '{"a": "x"}', '{"a": 0}', "{}", "broken {", None]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(rows)], "id int, payload string"
    )
    plan = js.compile_schema(doc)
    pred = plan.fail_predicate(df, json_col="payload")
    fast = {r["id"] for r in df.filter(pred).select("id").collect()}
    slow = {
        r["id"]
        for r in plan.annotate_json(df, "payload")
        .filter(F.size("violations") > 0)
        .select("id")
        .collect()
    }
    assert fast == slow == {1, 2, 3, 4, 5}


def test_defaults_fill_on_variant(spark):
    # defaultVal fills absent OR present-null keys before sub-rules run
    doc = {
        "properties": {
            "v": {"defaultVal": 7, "minimum": 5},
            "w": {"defaultVal": 1, "maximum": 3},
        }
    }
    got = _viol(
        spark,
        doc,
        ["{}", '{"v": null}', '{"v": 2}', '{"w": 9}'],
    )
    assert got == {
        (2, "$.v", "value must be larger or equal than 5"),
        (3, "$.w", "value must be <= than 3"),
    }


def test_additional_properties_on_variant(spark):
    doc = {
        "properties": {"a": {"type": "integer"}},
        "additionalProperties": False,
    }
    got = _viol(
        spark,
        doc,
        ['{"a": 1}', '{"a": 1, "zz": 2}', '"scalar"'],
    )
    assert {(i, p) for (i, p, m) in got} == {(1, "$.zz")}


def test_special_keys_path_vs_mapview(spark):
    """Spark's variant path parser has NO escape syntax: keys with a
    single quote have no path form and must route through the
    map-view lookup (core/variant.variant_child); backslash keys are
    matched literally."""
    doc = {
        "required": ["a'b", "a\\b", "a b"],
        "properties": {"a'b": {"minimum": 5}},
    }
    got = _viol(
        spark,
        doc,
        ['{"a\'b": 1, "a\\\\b": 2, "a b": 3}', "{}"],
    )
    assert (0, "$.a'b", "value must be larger or equal than 5") in got
    assert {(i, p) for (i, p, m) in got if i == 1} == {
        (1, "$.a'b"), (1, "$.a\\b"), (1, "$.a b")
    }


def test_min_bounds_skip_non_containers_without_ansi(spark):
    """size(NULL) is -1 with ANSI off — the variant container views
    use NULL as the 'not this kind' signal, so min-bound keywords must
    not fire on scalars regardless of the ANSI setting (nn_size)."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = _viol(
            spark,
            {"properties": {"v": {"minItems": 1, "minProperties": 1,
                                  "minLength": 1}}},
            ['{"v": 7}', '{"v": []}', '{"v": {}}', '{"v": ""}'],
        )
        assert {i for (i, p, m) in got} == {1, 2, 3}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_script_field_access_on_variant_var(spark):
    """__field__ through a variable bound to a variant value must walk
    the variant (was: silent nil), matching resolve()'s behavior."""
    import jsonschema_spark as js

    df = spark.createDataFrame(
        [(1, '{"user": {"admin": "yes"}}'), (2, '{"user": {}}'), (3, '{"user": 5}')],
        "id int, payload string",
    )
    plan = js.compile_schema({
        "script": ["x = $.user", {"if": "x.admin == 'yes'",
                                  "then": ["return('is admin')"]}],
    })
    got = {
        (r["id"], r["info"])
        for r in plan.validate(df, keys=["id"], json_col="payload")
        .violations.collect()
    }
    assert got == {(1, "err :[is admin]")}


TYPED_DOC = {
    "required": ["id", "name"],
    "properties": {
        "id": {"type": "integer", "minimum": 1},
        "name": {"type": "string", "minLength": 2},
        "score": {"type": "number|string"},
        "tags": {"maxItems": 3, "items": {"type": "string"}},
    },
}

TYPED_PAYLOADS = [
    '{"id": 1, "name": "ok", "score": 2, "tags": ["a"]}',
    '{"id": "x", "name": "z", "score": true, "tags": [1, "a"]}',
    '{"id": 0.5, "name": null, "tags": ["a","b","c","d"]}',
    '{"bad": ',
    None,
]


def test_hoisted_primitives_once_in_plan(spark):
    """Variant shred pin: every per-path primitive (the path's get, its
    kind, its typed views) is built once in the shred projections and
    read by column — NOT re-inlined per keyword occurrence.  Before any
    sharing this schema carried 247 try_variant_get copies in the
    optimized plan; shredded it carries ~35 (per-element lambda uses
    cannot be shredded).  The shred's scratch columns must not leak."""
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(TYPED_PAYLOADS)], "id int, payload string"
    )
    plan = js.compile_schema(TYPED_DOC)
    v = plan.validate(df, keys=["id"], json_col="payload").violations
    opt = v._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("try_variant_get") <= 40, opt.count("try_variant_get")
    assert v.columns == ["id", "path", "info"]
    for ann in (plan.annotate_json(df, "payload"), plan.fail_verdicts(df, json_col="payload")):
        assert not [c for c in ann.columns if c.startswith("__jsonschema_")]


def test_fail_verdicts_matches_violations_and_predicate(spark):
    """fail_verdicts (the shredded variant verdict path) must agree
    row-by-row with size(violations)>0 AND with the single-Column
    fail_predicate, malformed and NULL documents included."""
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(TYPED_PAYLOADS)], "id int, payload string"
    )
    plan = js.compile_schema(TYPED_DOC)
    via_viol = {
        r["id"]: r["n"] > 0
        for r in plan.annotate_json(df, "payload")
        .select("id", F.size("violations").alias("n"))
        .collect()
    }
    via_verdicts = {
        r["id"]: r["__fails__"]
        for r in plan.fail_verdicts(df, json_col="payload").collect()
    }
    pred = plan.fail_predicate(df, json_col="payload")
    via_pred = {
        r["id"]: bool(r["p"]) for r in df.select("id", pred.alias("p")).collect()
    }
    assert via_verdicts == via_viol == via_pred
    # fixed-column and static-json delegation keep the same contract
    fixed = spark.createDataFrame([(1, 5), (2, -1)], "id int, v int")
    fplan = js.compile_schema({"properties": {"v": {"minimum": 0}}})
    got = {r["id"]: r["__fails__"] for r in fplan.fail_verdicts(fixed).collect()}
    assert got == {1: False, 2: True}
