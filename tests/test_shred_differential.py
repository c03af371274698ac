"""Differential checks of the verdict compiler (Rule.fails): over
generated schemas and documents, on every route — variant JSON (the
shredded verdicts and the single-Column predicate), static JSON and
fixed typed columns — ``fail_predicate`` agrees row by row with
``size(violations) > 0``, and variant verdicts equal static verdicts on
well-typed documents.  Typed array columns under ``items`` check the
lambda-free whole-array forms on both sides of their unroll guard, and
the comparison keywords' direct predicates meet missing and NULL
targets.  Hypothesis generates the cases; one Spark job evaluates a
whole batch of documents per output."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.plans.keywords_base import UNROLL

KEYS = ["a", "b", "c"]
TYPES = ["string", "integer", "number", "boolean", "object", "array", "string|integer"]

# ---------------------------------------------------------- documents

short_text = st.text(alphabet="xy09", max_size=3)
json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-5, 5),
    st.floats(-5, 5, allow_nan=False).map(lambda f: round(f, 2)),
    short_text,
)
json_values = st.recursive(
    json_scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(st.sampled_from(KEYS), inner, max_size=3),
    ),
    max_leaves=6,
)
documents = st.one_of(
    # mostly objects over the schema's keys, absent keys included
    st.dictionaries(st.sampled_from(KEYS), json_values, max_size=3).map(json.dumps),
    json_values.map(json.dumps),  # a scalar, array or null document
    st.sampled_from(['{"a": ', "[1,", "nope", ""]),  # malformed
    st.none(),  # SQL NULL
)

# ------------------------------------------------------------ schemas

literals = st.one_of(short_text, st.integers(-2, 2), st.booleans())
leaf_keywords = st.one_of(
    st.fixed_dictionaries({"type": st.sampled_from(TYPES)}),
    st.fixed_dictionaries({"pattern": st.sampled_from(["^x", "[0-9]$", "^$"])}),
    st.fixed_dictionaries({"minimum": st.integers(-3, 3)}),
    st.fixed_dictionaries({"maximum": st.integers(-3, 3)}),
    st.fixed_dictionaries({"minLength": st.integers(0, 3)}),
    st.fixed_dictionaries({"maxLength": st.integers(0, 3)}),
    st.fixed_dictionaries({"enum": st.lists(literals, min_size=1, max_size=3)}),
    st.fixed_dictionaries({"required": st.lists(st.sampled_from(KEYS), max_size=2, unique=True)}),
    st.fixed_dictionaries({"maxItems": st.integers(0, 3)}),
    st.fixed_dictionaries({"minItems": st.integers(0, 3)}),
    st.fixed_dictionaries({"maxProperties": st.integers(0, 3)}),
    st.fixed_dictionaries({"minProperties": st.integers(0, 3)}),
    st.fixed_dictionaries({"maxB64DLen": st.integers(0, 3)}),
    st.fixed_dictionaries({"minB64DLen": st.integers(0, 3)}),
    st.fixed_dictionaries({"exclusiveMaximum": st.integers(-3, 3)}),
    st.fixed_dictionaries({"exclusiveMinimum": st.integers(-3, 3)}),
    st.fixed_dictionaries({"multipleOf": st.sampled_from([1, 2, 0.5])}),
    st.fixed_dictionaries({"format": st.sampled_from(["date", "ipv4", "email"])}),
    st.fixed_dictionaries({"uniqueItems": st.booleans()}),
    st.fixed_dictionaries({"dependencies": st.dictionaries(
        st.sampled_from(KEYS), st.lists(st.sampled_from(KEYS), max_size=2), max_size=2)}),
)


def _merge(parts: list[dict]) -> dict:
    out: dict = {}
    for p in parts:
        out.update(p)
    return out


def schemas(depth: int):
    node = st.lists(leaf_keywords, max_size=3).map(_merge)
    if depth == 0:
        return node
    sub = schemas(depth - 1)
    composite = st.one_of(
        st.fixed_dictionaries({"properties": st.dictionaries(st.sampled_from(KEYS), sub, max_size=3)}),
        st.fixed_dictionaries({"anyOf": st.lists(sub, min_size=1, max_size=2)}),
        st.fixed_dictionaries({"allOf": st.lists(sub, min_size=1, max_size=2)}),
        st.fixed_dictionaries({"items": sub}),
        st.fixed_dictionaries({
            "if": st.one_of(
                st.fixed_dictionaries({"keyMatch": st.dictionaries(
                    st.sampled_from(KEYS), literals, min_size=1, max_size=1)}),
                sub,
            ),
            "then": sub,
            "else": sub,
        }),
    )
    return st.tuples(node, st.lists(composite, max_size=2)).map(lambda t: _merge([t[0], *t[1]]))


# -------------------------------------------------------------- checks

def _verdict_routes(spark, doc, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "id int, doc string")
    plan = js.compile_schema(doc)
    verdicts = {
        r["id"]: r["__fails__"]
        for r in plan.fail_verdicts(df, json_col="doc").collect()
    }
    arrays = {
        r["id"]: bool(r["n"] > 0)
        for r in plan.annotate_json(df, "doc")
        .select("id", F.size("violations").alias("n")).collect()
    }
    pred = plan.fail_predicate(df, json_col="doc")
    single = {r["id"]: r["p"] for r in df.select("id", pred.alias("p")).collect()}
    return verdicts, arrays, single


def _predicate_vs_arrays(plan, df, json_types=None):
    """{id: (fail_predicate, size(violations) > 0)} over fixed columns,
    or over the ``doc`` JSON column parsed as ``json_types``."""
    if json_types is None:
        pred, ann = plan.fail_predicate(df), plan.annotate(df)
    else:
        pred = plan.fail_predicate(df, json_col="doc", json_types=json_types)
        ann = plan.annotate_json(df, "doc", json_types=json_types)
    rows = ann.select("id", pred.alias("p"), (F.size("violations") > 0).alias("a")).collect()
    return {r["id"]: (r["p"], r["a"]) for r in rows}


def _disagreements(pairs: dict) -> dict:
    return {i: pa for i, pa in pairs.items() if pa[0] != pa[1]}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(schema=schemas(2), docs=st.lists(documents, min_size=20, max_size=40))
def test_variant_fails_equals_violations(spark, schema, docs):
    verdicts, arrays, single = _verdict_routes(spark, schema, docs)
    assert verdicts == arrays == single, (schema, docs)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(schema=schemas(2), docs=st.lists(documents, min_size=20, max_size=40))
# a root that parses to a struct with no fields
@example(schema={"if": {"required": []}, "then": {"minProperties": 1},
                 "else": {"maxProperties": 0}},
         docs=["{}", '{"a": 1}', "[1]", "nope", None])
def test_static_fails_equals_violations(spark, schema, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "id int, doc string")
    pairs = _predicate_vs_arrays(js.compile_schema(schema), df, "static")
    assert not _disagreements(pairs), (schema, docs)


# static vs variant: flat, well-typed documents --------------------

SCALAR = {
    "string": short_text,
    "integer": st.integers(-5, 5),
    "number": st.one_of(st.integers(-5, 5), st.floats(-5, 5, allow_nan=False).map(lambda f: round(f, 2))),
    "boolean": st.booleans(),
}

ZERO = {"string": "", "integer": 0, "number": 0, "boolean": False}


@st.composite
def typed_cases(draw):
    types = {k: draw(st.sampled_from(sorted(SCALAR))) for k in KEYS}
    props = {}
    for k, t in types.items():
        kw = {"type": t}
        if t == "string":
            kw.update(draw(st.one_of(
                st.just({}),
                st.fixed_dictionaries({"pattern": st.sampled_from(["^x", "[0-9]$"])}),
                st.fixed_dictionaries({"minLength": st.integers(0, 2), "maxLength": st.integers(1, 3)}),
                st.fixed_dictionaries({"enum": st.lists(short_text, min_size=1, max_size=3)}),
            )))
        elif t in ("integer", "number"):
            kw.update(draw(st.one_of(
                st.just({}),
                st.fixed_dictionaries({"minimum": st.integers(-3, 0), "maximum": st.integers(0, 3)}),
                st.fixed_dictionaries({"enum": st.lists(st.integers(-2, 2), min_size=1, max_size=3)}),
            )))
        props[k] = kw
    schema = {
        "type": "object",
        "properties": props,
        "required": draw(st.lists(st.sampled_from(KEYS), max_size=2, unique=True)),
    }
    if draw(st.booleans()):
        k = draw(st.sampled_from(KEYS))
        # the target may be absent: every route compares it as the
        # reference's nil, StringOf(nil) = "", never as the declared
        # type's zero value (drawn often, to tell the two apart)
        lit = draw(st.one_of(st.just(ZERO[types[k]]), SCALAR[types[k]]))
        schema["if"] = {"keyMatch": {k: lit}}
        schema["then"] = {"required": [draw(st.sampled_from([k, *KEYS]))]}
    doc = st.fixed_dictionaries({}, optional={k: SCALAR[t] for k, t in types.items()})
    docs = draw(st.lists(doc.map(json.dumps), min_size=20, max_size=40))
    return schema, docs, types


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(case=typed_cases())
def test_variant_equals_static_on_well_typed(spark, case):
    schema, docs, _ = case
    df = spark.createDataFrame(list(enumerate(docs)), "id int, doc string")
    plan = js.compile_schema(schema)

    def verdicts(mode):
        out = plan.fail_verdicts(df, json_col="doc", json_types=mode)
        return {r["id"]: r["__fails__"] for r in out.collect()}

    assert verdicts("variant") == verdicts("static"), (schema, docs)


DDL = {"string": "string", "integer": "bigint", "number": "double", "boolean": "boolean"}
PY = {"string": str, "integer": int, "number": float, "boolean": bool}


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(case=typed_cases())
def test_typed_routes_fails_equal_violations(spark, case):
    """The well-typed cases as static JSON and as typed columns (absent
    fields as NULLs): fail_predicate == size(violations) > 0."""
    schema, docs, types = case
    plan = js.compile_schema(schema)
    df = spark.createDataFrame(list(enumerate(docs)), "id int, doc string")
    assert not _disagreements(_predicate_vs_arrays(plan, df, "static")), (schema, docs)

    rows = []
    for i, d in enumerate(docs):
        d = json.loads(d)
        rows.append((i, *[None if k not in d else PY[types[k]](d[k]) for k in KEYS]))
    fixed = spark.createDataFrame(rows, ", ".join(["id int"] + [f"{k} {DDL[types[k]]}" for k in KEYS]))
    assert not _disagreements(_predicate_vs_arrays(plan, fixed)), (schema, rows)


# typed arrays under items: the whole-array forms ----------------------
#
# ``items`` over a typed array compiles each keyword of the item rule
# to a lambda-free whole-array form where it has one (type: nothing
# when the element type satisfies it; minimum/maximum: array_min/
# array_max; enum/const on string, integral or boolean elements: the
# element rule unrolled up to UNROLL elements, array_except beyond).
# Lengths straddle the unroll guard, elements include NULLs, and
# doubles include -0.0 and NaN.

ELEMENTS = {
    "string": st.sampled_from(["ball", "game", "x", "", "1", "true", "2.5"]),
    "bigint": st.integers(-3, 3),
    "double": st.sampled_from([0.0, -0.0, 1.0, 2.5, -3.0, float("nan"), 1e300]),
}
ITEM_LITERALS = st.one_of(
    st.sampled_from(["ball", "game", "x", "", "1", "true", "2.5"]),
    st.integers(-3, 3),
    st.sampled_from([0.0, -0.0, 2.5]),
    st.booleans(),
)
LENGTHS = [0, 1, UNROLL - 1, UNROLL, UNROLL + 1, 2 * UNROLL]


def typed_arrays(dtype: str):
    elem = st.one_of(st.none(), ELEMENTS[dtype])
    sized = st.sampled_from(LENGTHS).flatmap(
        lambda n: st.lists(elem, min_size=n, max_size=n))
    return st.one_of(st.none(), sized)


item_keywords = st.one_of(
    st.fixed_dictionaries({"type": st.sampled_from(["string", "integer", "number", "boolean"])}),
    st.fixed_dictionaries({"enum": st.lists(ITEM_LITERALS, min_size=1, max_size=4)}),
    st.fixed_dictionaries({"const": ITEM_LITERALS}),
    st.fixed_dictionaries({"minimum": st.sampled_from([-1, 0, 1.5]),
                           "exclusiveMinimum": st.booleans()}),
    st.fixed_dictionaries({"maximum": st.sampled_from([-1, 0, 1.5]),
                           "exclusiveMaximum": st.booleans()}),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(data=st.data())
def test_typed_items_fails_equals_violations(spark, data):
    for dtype in ELEMENTS:
        items = data.draw(st.lists(item_keywords, min_size=1, max_size=3).map(_merge))
        arrays = data.draw(st.lists(typed_arrays(dtype), min_size=15, max_size=30))
        # both sides of the unroll guard, every time: one odd element,
        # last, in arrays of UNROLL, UNROLL + 1 and 2 * UNROLL elements
        same, odd = {"string": ("ball", "zz"), "bigint": (0, 7), "double": (0.0, 9.5)}[dtype]
        arrays += [[same] * (n - 1) + [odd] for n in (UNROLL, UNROLL + 1, 2 * UNROLL)]
        schema = {"properties": {"xs": {"items": items}}}
        df = spark.createDataFrame(list(enumerate(arrays)), f"id int, xs array<{dtype}>")
        pairs = _predicate_vs_arrays(js.compile_schema(schema), df)
        assert not _disagreements(pairs), (dtype, schema, arrays)


# the comparison keywords' direct fails: missing and NULL targets -------

TARGETS = ["a", "n", "zz"]  # string, bigint, absent from the table
map_keywords = st.one_of(
    st.tuples(st.sampled_from(["gt", "lt", "gte", "lte", "maxLengths", "minLengths"]),
              st.sampled_from([-1, 0, 2])),
    st.tuples(st.sampled_from(["startWiths", "endWiths", "containss", "neq"]),
              st.sampled_from(["", "x", "0", "1"])),
    st.tuples(st.just("patterns"), st.sampled_from(["^x", "^$", "[0-9]"])),
    st.tuples(st.sampled_from(["in", "notin"]),
              st.lists(st.sampled_from(["", "x", 0, 1, "1"]), max_size=3)),
    st.tuples(st.just("keyMatch"), st.sampled_from(["", "x", 0, 1])),
)


@st.composite
def comparison_schemas(draw):
    kw, operand = draw(map_keywords)
    targets = draw(st.lists(st.sampled_from(TARGETS), min_size=1, max_size=3, unique=True))
    node = {kw: {t: operand for t in targets}}
    single = draw(st.sampled_from(["startWith", "endWith", "contains"]))
    props = {"a": {single: draw(st.sampled_from(["", "x", "0"]))}}
    # in an if-condition the map forms are silent (no path, no info)
    if draw(st.booleans()):
        return {"if": node, "then": {"properties": props}, "else": {"required": ["a"]}}
    return {**node, "properties": props}


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(schema=comparison_schemas(),
       rows=st.lists(st.tuples(st.one_of(st.none(), st.sampled_from(["", "x", "x1", "0", "1"])),
                               st.one_of(st.none(), st.integers(-2, 3))),
                     min_size=10, max_size=25))
def test_comparison_keywords_fails_equal_violations(spark, schema, rows):
    df = spark.createDataFrame([(i, a, n) for i, (a, n) in enumerate(rows)],
                               "id int, a string, n bigint")
    pairs = _predicate_vs_arrays(js.compile_schema(schema), df)
    assert not _disagreements(pairs), (schema, rows)
