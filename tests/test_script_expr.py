"""`script` keyword + expr-language subset compiler
(reference schema_expr.go, expr/; SURVEY.md §2.6/§3.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import jsonschema_spark as js
from jsonschema_spark.functions.expr_lang import ExprError, parse_statements


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            ("dd", 30.0, "23", None),
            ("ee", 7.5, None, None),
            ("ff", 5.0, "9", None),
        ],
        "name string, age double, sms string, hd string",
    )


def test_script_return_conditional(spark, docs):
    # the reference's own test statement (schema_expr_test.go:40):
    # integer check via return
    plan = js.compile_schema(
        {"script": ["if(number(int($.age)) != $.age, return(100,'invalid ')) "]}
    )
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert len(v) == 1
    assert v[0]["name"] == "ee"  # 7.5 is not integral
    assert v[0]["path"] == "$"
    assert v[0]["info"] == "err :[100 invalid ]"


def test_script_ternary_default_assignment(spark, docs):
    # "$.sms = $.sms ? $.sms : '500'" (schema_expr_test.go:39)
    plan = js.compile_schema({"script": ["$.sms = $.sms ? $.sms : '500'"]})
    out = {r["name"]: r["sms"] for r in plan.transform(docs).collect()}
    assert out["dd"] == "23" and out["ee"] == "500" and out["ff"] == "9"


def test_script_computed_field(spark, docs):
    # "$.hd = $.name == 'dd' && $.age > 20 ? 'teg' : 'seg'"
    plan = js.compile_schema(
        {"script": ["$.hd = $.name == 'dd' && $.age > 20 ? 'teg' : 'seg'"]}
    )
    out = {r["name"]: r["hd"] for r in plan.transform(docs).collect()}
    assert out["dd"] == "teg" and out["ee"] == "seg"


def test_script_sequential_mutation_visible(spark, docs):
    # later statements read earlier in-script assignments
    plan = js.compile_schema(
        {"script": [
            "$.sms = '7'",
            "if($.sms != '7', return('not seven'))",
        ]}
    )
    assert plan.validate(docs, keys=["name"]).violations.count() == 0
    out = plan.transform(docs).select("sms").distinct().collect()
    assert [r["sms"] for r in out] == ["7"]


def test_script_let_bindings_and_functions(spark, docs):
    plan = js.compile_schema(
        {"script": [
            "limit = 10",
            "if($.age > limit && str_has_prefix($.name, 'd'), return('big d'))",
        ]}
    )
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert [r["name"] for r in v] == ["dd"]
    assert v[0]["info"] == "err :[big d]"


def test_script_interpolation(spark, docs):
    plan = js.compile_schema(
        {"script": ["if($.age > 20, return('age ${name} too big'))"]}
    )
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert v[0]["info"] == "err :[age dd too big]"


def test_script_string_methods_and_ops(spark, docs):
    plan = js.compile_schema(
        {"script": [
            "if($.name.to_upper() == 'DD' && len($.name) == 2 && "
            "($.age + 1) * 2 > 60, return('m'))",
        ]}
    )
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert [r["name"] for r in v] == ["dd"]


def test_script_in_operator(spark, docs):
    plan = js.compile_schema(
        {"script": ["if($.name in ['dd', 'ff'], return('listed'))"]}
    )
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert sorted(r["name"] for r in v) == ["dd", "ff"]


def test_script_or_coalesce(spark, docs):
    # 'or' = first non-empty (funcs.go:188-196)
    plan = js.compile_schema({"script": ["$.sms = $.sms or 'none'"]})
    out = {r["name"]: r["sms"] for r in plan.transform(docs).collect()}
    assert out["ee"] == "none" and out["dd"] == "23"


def test_script_rejects_side_effects(spark):
    with pytest.raises(js.SchemaError, match="side-effectful"):
        js.compile_schema({"script": ["http_request('get', 'http://x')"]})


def test_script_rejects_unknown_function(spark, docs):
    plan = js.compile_schema({"script": ["if(frobnicate($.age), return('x'))"]})
    with pytest.raises(Exception, match="frobnicate"):
        plan.validate(docs, keys=["name"]).violations.collect()


def test_parse_statement_shapes():
    stmts = parse_statements(["a = 1; b = a + 2", "return('x')"])
    assert len(stmts) == 3
    with pytest.raises(ExprError):
        parse_statements(["$$ ="])


def test_script_object_methods_extended(spark, docs):
    plan = js.compile_schema(
        {"script": [
            "$.hd = $.name.trim_prefix('d')",
            "if($.name.index('d') == 0 && $.name.slice(0, 1) == 'd', "
            "return('starts d ${hd}'))",
        ]}
    )
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert [r["name"] for r in v] == ["dd"]
    assert v[0]["info"] == "err :[starts d d]"
    out = {r["name"]: r["hd"] for r in plan.transform(docs).collect()}
    assert out["dd"] == "d" and out["ee"] == "ee"


def test_script_time_methods(spark):
    df = spark.createDataFrame(
        [("a", "2025-03-05 07:08:09")], "id string, ts_s string"
    ).selectExpr("id", "to_timestamp(ts_s) as ts")
    plan = js.compile_schema(
        {"script": ["if($.ts.year() == 2025 && $.ts.month() == 3 && "
                    "$.ts.day() == 5 && $.ts.hour() == 7, return('march'))"]}
    )
    v = plan.validate(df, keys=["id"]).violations.collect()
    assert len(v) == 1 and v[0]["info"] == "err :[march]"


@pytest.fixture()
def arr_docs(spark):
    return spark.createDataFrame(
        [("a", [1, -2, 3, 10]), ("b", [5, 6])],
        "id string, nums array<int>",
    )


def test_script_lambda_filter_and_every(spark, arr_docs):
    plan = js.compile_schema(
        {"script": ["if(len(filter($.nums, {x} => x < 0)) > 0, "
                    "return('has negative'))"]}
    )
    v = plan.validate(arr_docs, keys=["id"]).violations.collect()
    assert [r["id"] for r in v] == ["a"]

    plan2 = js.compile_schema(
        {"script": ["if(every($.nums, {x} => x > 0), return('all positive'))"]}
    )
    v2 = plan2.validate(arr_docs, keys=["id"]).violations.collect()
    assert [r["id"] for r in v2] == ["b"]


def test_script_lambda_reduce(spark, arr_docs):
    plan = js.compile_schema(
        {"script": ["if(reduce($.nums, 0, {acc, x} => acc + x) == 12, "
                    "return('sums twelve'))"]}
    )
    v = plan.validate(arr_docs, keys=["id"]).violations.collect()
    assert [r["id"] for r in v] == ["a"]  # 1-2+3+10 = 12


def test_lambda_outside_hof_rejected(spark, arr_docs):
    plan = js.compile_schema({"script": ["$.id = ({x} => x)"]})
    with pytest.raises(Exception, match="lambda"):
        plan.transform(arr_docs)


def test_script_nested_foreach_accumulation(spark):
    """The reference's TestForeach `line` example
    (benchmark_test.go:411-423): nested foreach concatenating
    ws[*].w[*].c — expressed as flatten+map+reduce in script form."""
    df = spark.createDataFrame(
        [("d1",
          [{"w": [{"c": "ni"}, {"c": "hao"}]},
           {"w": [{"c": "hello"}, {"c": "world"}]}],
          None)],
        "id string, ws array<struct<w:array<struct<c:string>>>>, line string",
    )
    plan = js.compile_schema(
        {"script": [
            "$.line = reduce(flatten(map($.ws, {x} => x.w)), '', "
            "{acc, e} => acc + e.c)",
        ]}
    )
    out = plan.transform(df).collect()[0]
    assert out["line"] == "nihaohelloworld"


def test_script_object_if_statement(spark, docs):
    """{"if": cond, "then": ..., "else": ...} object form
    (reference ParseFromJSONObj, expr/script.go:556-589)."""
    plan = js.compile_schema(
        {"script": [
            {"if": "$.age > 20",
             "then": ["$.hd = 'old'", "if($.name == 'dd', return('old dd'))"],
             "else": "$.hd = 'young'"},
        ]}
    )
    out = {r["name"]: r["hd"] for r in plan.transform(docs).collect()}
    assert out == {"dd": "old", "ee": "young", "ff": "young"}
    v = plan.validate(docs, keys=["name"]).violations.collect()
    assert [r["name"] for r in v] == ["dd"]


def test_script_object_switch_statement(spark, docs):
    plan = js.compile_schema(
        {"script": [
            {"switch": "$.name",
             "case": {"dd": "$.hd = 'double-d'", "ee": "$.hd = 'double-e'"},
             "default": "$.hd = 'other'"},
        ]}
    )
    out = {r["name"]: r["hd"] for r in plan.transform(docs).collect()}
    assert out == {"dd": "double-d", "ee": "double-e", "ff": "other"}


def test_script_comment_lines_skipped(spark, docs):
    plan = js.compile_schema(
        {"script": ["# this is a comment", "$.hd = 'x'"]}
    )
    out = plan.transform(docs).select("hd").distinct().collect()
    assert [r["hd"] for r in out] == ["x"]


def test_script_for_statement_accumulates(spark):
    """{"for": "k,v in expr", "do": [...]} (script.go:422-484) compiles
    to ONE F.aggregate fold: string + numeric accumulation, sequential
    in-body updates, k=index binding, nil-target no-op."""
    df = spark.createDataFrame(
        [(1, [("ni",), ("hao",)]), (2, [("hello",), ("world",)]), (3, None)],
        "id int, w array<struct<c string>>",
    )
    plan = js.compile_schema(
        {
            "script": [
                "line = ''",
                "total = 0",
                {"for": "k,v in $.w", "do": [
                    "line = '${line}${v.c}'",
                    "total = total + k + 1",
                ]},
                "$.out = '${line}|${total}'",
            ]
        }
    )
    out = {r["id"]: r["out"] for r in plan.transform(df).collect()}
    assert out[1] == "nihao|3"          # k: 0+1 + 1+1 = 3
    assert out[2] == "helloworld|3"
    assert out[3] == "|0"               # nil target: body never runs


def test_script_for_over_map(spark):
    df = spark.createDataFrame(
        [(1, {"a": "1", "b": "2"})], "id int, m map<string,string>"
    )
    plan = js.compile_schema(
        {
            "script": [
                "acc = ''",
                {"for": "k,v in $.m", "do": ["acc = '${acc}${k}=${v};'"]},
                "$.out = acc",
            ]
        }
    )
    out = plan.transform(df).collect()[0]["out"]
    assert out == "a=1;b=2;"


def test_script_for_guarded_by_if(spark):
    """A for inside an object-if only accumulates on the matching rows."""
    df = spark.createDataFrame(
        [(1, "go", [1.0, 2.0, 3.0]), (2, "stop", [1.0, 2.0, 3.0])],
        "id int, mode string, xs array<double>",
    )
    plan = js.compile_schema(
        {
            "script": [
                "s = 0",
                {"if": "$.mode == 'go'",
                 "then": [{"for": "i,x in $.xs", "do": ["s = s + x"]}]},
                "$.out = string(s)",
            ]
        }
    )
    out = {r["id"]: r["out"] for r in plan.transform(df).collect()}
    assert out[1] == "6" and out[2] == "0"


def test_script_for_mutation_body_rejected(spark):
    df = spark.createDataFrame([([1.0],)], "ws array<double>")
    with pytest.raises(js.SchemaError, match="accumulate"):
        js.compile_schema(
            {"script": [{"for": "k,v in $.ws", "do": ["$.out = v"]}]}
        ).transform(df)


def test_script_time_methods_and_recover(spark):
    """t.format/add_mill/sub with Go layouts; time_parse failure ->
    null; catch/recover/unwrap are the null-transparent error boundary
    (funcs.go:1258-1347); orr provides the default."""
    df = spark.createDataFrame(
        [(1, "2025-01-02 03:04:05"), (2, "junk")], "id int, ts_s string"
    )
    plan = js.compile_schema(
        {
            "script": [
                "t = time_parse('2006-01-02 15:04:05', $.ts_s)",
                "d = ternary(is_empty(catch(recoverd(t))), 'nodate', string(format(t, '2006/01/02')))",
                "t2 = add_mill(t, 61000)",
                "delta = ternary(is_empty(t), 0, sub(t2, t))",
                "$.out = '${d}|${delta}'",
            ]
        }
    )
    out = {r["id"]: r["out"] for r in plan.transform(df).collect()}
    assert out[1] == "2025/01/02|61000"
    assert out[2] == "nodate|0"


def test_script_regexp_new_match(spark):
    df = spark.createDataFrame([(1, "u7"), (2, "bob")], "id int, name string")
    plan = js.compile_schema(
        {
            "script": [
                "r = regexp_new('^u[0-9]+$')",
                "if(not(r.match($.name)), return('bad name', $.name))",
            ]
        }
    )
    v = {r["id"]: r["info"] for r in plan.validate(df, keys=["id"]).violations.collect()}
    assert 1 not in v
    assert v[2] == "err :[bad name bob]"


def test_script_null_coalesce_and_plus_equals(spark, docs):
    plan = js.compile_schema(
        {"script": ["$.sms = $.sms ?? 'none'", "$.hd = 'x'", "$.hd += 'y'"]}
    )
    out = {r["name"]: (r["sms"], r["hd"]) for r in plan.transform(docs).collect()}
    assert out["ee"] == ("none", "xy")
    assert out["dd"][0] == "23"


def test_expr_breadth_functions(spark):
    """Round-2 breadth set (reference funcs.go table): append, eqs,
    inn, repeat-with-lambda, slice_cut, type, hex round-trip,
    schema-less json_from."""
    df = spark.createDataFrame(
        [(1, "ab", 3.0, [1.0, 2.0, 3.0, 4.0])],
        "id int, s string, n double, xs array<double>",
    )
    doc = {"script": [
        "$.o1 = append('x', $.s, 5)",
        "$.o2 = string(eqs($.n, '3'))",
        "$.o3 = string(inn($.n, $.xs))",
        "$.o4 = string(len(repeat({i} => i * 2, 4)))",
        "$.o5 = str_join(map(slice_cut($.xs, 1, 3), {x} => string(x)), ',')",
        "$.o6 = type($.xs) + '/' + type($.s) + '/' + type($.missing)",
        "$.o7 = hex_decode(hex_encode('hi'))",
        '$.o8 = string(get(json_from(\'{"a": "7"}\'), \'a\'))',
    ]}
    row = js.compile_schema(doc).transform(df).select(
        "o1", "o2", "o3", "o4", "o5", "o6", "o7", "o8"
    ).collect()[0]
    assert row.asDict() == {
        "o1": "xab5", "o2": "true", "o3": "true", "o4": "4",
        "o5": "2,3", "o6": "array/string/nil", "o7": "hi", "o8": "7",
    }


def test_script_for_unseeded_accumulator_is_numeric(spark):
    """An accumulator first assigned inside the loop starts nil; the
    reference's nil + number is numeric (NumberOf(nil)=0), not string
    concat — typed via the nil-probe pass."""
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "id int, xs array<double>")
    doc = {"script": [{"for": "i,x in $.xs", "do": ["s = s + x"]},
                      "$.out = string(s)"]}
    assert js.compile_schema(doc).transform(df).select("out").collect()[0][0] == "6"
    # a string seed still concatenates (the `+` string branch)
    doc2 = {"script": ["s = 'x'", {"for": "i,x in $.xs", "do": ["s = s + x"]},
                       "$.out = s"]}
    assert js.compile_schema(doc2).transform(df).select("out").collect()[0][0] == "x123"


def test_repeat_zero_and_negative_counts(spark):
    df = spark.createDataFrame([(1,)], "id int")
    doc = {"script": [
        "$.a = string(len(repeat({i} => i, 0)))",
        "$.b = string(len(repeat('x', neg(3))))",
    ]}
    row = js.compile_schema(doc).transform(df).select("a", "b").collect()[0]
    assert row["a"] == "0" and row["b"] == "0"


def test_sub_numeric_not_shadowed_by_time_method(spark):
    """Reference keeps numeric sub (funcs.go:59) and time.Time sub
    (funcs_obj.go:602-643) in separate namespaces; here one _FN name
    dispatches on operand dtype.  sub(5,2) must be 3, not 3000."""
    df = spark.createDataFrame(
        [(1, "2025-01-02 03:04:05")], "id int, ts_s string"
    )
    plan = js.compile_schema(
        {
            "script": [
                "n = sub(5, 2)",
                "t = time_parse('2006-01-02 15:04:05', $.ts_s)",
                "d = sub(add_mill(t, 1500), t)",
                "$.out = '${n}|${d}'",
            ]
        }
    )
    row = plan.transform(df).select("out").collect()[0]
    assert row["out"] == "3|1500"


def test_interp_missing_field_yields_nil(spark, docs):
    """${a.b.c} where the doc key is absent (or the base is a scalar)
    resolves to nil -> empty string in interpolation, mirroring the
    reference's Ref/resolve path -- not an AnalysisException."""
    plan = js.compile_schema(
        {
            "script": [
                "$.o1 = 'v=${nosuch.key}'",
                "$.o2 = 'v=${name.sub.deep}'",
            ]
        }
    )
    row = plan.transform(docs).select("o1", "o2").limit(1).collect()[0]
    assert row["o1"] == "v="
    assert row["o2"] == "v="


class TestForBreak:
    """`break` (reference errBreak, expr/script.go:432-446; statement
    parse script.go:793-814): a leading {"if": cond, "then": ["break"]}
    compiles to F.slice of the iterated prefix before the fold — a
    constant slice for index bounds, a columnar first-hit search for
    element-value conditions."""

    def _sum_first(self, spark, cond, xs):
        df = spark.createDataFrame([(1, xs)], "id int, xs array<double>")
        plan = js.compile_schema({"script": [
            "n = 0",
            {"for": "i,v in $.xs",
             "do": [{"if": cond, "then": ["break"]}, "n = n + v"]},
            "$.n_out = n",
        ]})
        return plan.transform(df).collect()[0]["n_out"]

    def test_break_ge(self, spark):
        assert self._sum_first(spark, "i >= 3", [10.0, 20.0, 30.0, 40.0]) == 60.0

    def test_break_gt(self, spark):
        assert self._sum_first(spark, "i > 1", [10.0, 20.0, 30.0, 40.0]) == 30.0

    def test_break_eq(self, spark):
        assert self._sum_first(spark, "i == 2", [10.0, 20.0, 30.0]) == 30.0

    def test_break_mirrored(self, spark):
        assert self._sum_first(spark, "2 <= i", [10.0, 20.0, 30.0]) == 30.0

    def test_break_bound_past_end(self, spark):
        assert self._sum_first(spark, "i >= 10", [1.0, 2.0]) == 3.0

    def test_break_at_zero(self, spark):
        assert self._sum_first(spark, "i >= 0", [1.0, 2.0]) == 0.0

    def test_value_break(self, spark):
        # the loop stops BEFORE the first element matching the cond:
        # that element and everything after never run the body
        assert self._sum_first(spark, "v > 25", [10.0, 20.0, 30.0, 40.0]) == 30.0

    def test_value_break_no_hit(self, spark):
        assert self._sum_first(spark, "v > 99", [1.0, 2.0, 3.0]) == 6.0

    def test_value_break_first_element(self, spark):
        assert self._sum_first(spark, "v >= 10", [10.0, 2.0]) == 0.0

    def test_value_break_empty_array(self, spark):
        assert self._sum_first(spark, "v > 1", []) == 0.0

    def test_value_break_mixed_index_value(self, spark):
        # a cond mixing index and value routes to the first-hit search
        assert self._sum_first(spark, "i >= 2 or v > 15", [10.0, 20.0, 30.0]) == 10.0

    def test_value_break_outer_binding(self, spark):
        # pre-loop let bindings are loop constants — legal in the cond
        df = spark.createDataFrame([(1, [5.0, 6.0, 7.0])], "id int, xs array<double>")
        plan = js.compile_schema({"script": [
            "lim = 6",
            "n = 0",
            {"for": "i,v in $.xs",
             "do": [{"if": "v >= lim", "then": ["break"]}, "n = n + v"]},
            "$.n_out = n",
        ]})
        assert plan.transform(df).collect()[0]["n_out"] == 5.0

    def test_accumulator_break_rejected(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        df = spark.createDataFrame([(1, [1.0])], "id int, xs array<double>")
        plan = js.compile_schema({"script": [
            "n = 0",
            {"for": "i,v in $.xs",
             "do": [{"if": "n > 5", "then": ["break"]}, "n = n + v"]},
        ]})
        with pytest.raises(SchemaError, match="accumulator"):
            plan.transform(df).collect()

    def test_break_not_first_rejected(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        df = spark.createDataFrame([(1, [1.0])], "id int, xs array<double>")
        plan = js.compile_schema({"script": [
            "n = 0",
            {"for": "i,v in $.xs",
             "do": ["n = n + v", {"if": "i >= 1", "then": ["break"]}]},
        ]})
        with pytest.raises(SchemaError, match="FIRST"):
            plan.transform(df).collect()


class TestForElementWrite:
    """Per-element mutation through the loop value var (reference idiom
    ``v.status = v.data.status``, expr/script_test.go:440; forRange
    Exec semantics expr/script.go:436-484): compiles to ONE
    F.transform / F.transform_values over the target, written back to
    the document path."""

    def _plan(self, body, extra=()):
        return js.compile_schema({"script": [
            *extra,
            {"for": "i,v in $.xs", "do": body},
        ]})

    def _items(self, spark):
        return spark.createDataFrame(
            [(1, [{"q": 2.0, "tag": "a"}, {"q": 5.0, "tag": "b"}])],
            "id int, xs array<struct<q double, tag string>>",
        )

    def test_write_field(self, spark):
        out = self._plan(["v.q = v.q * 2"]).transform(self._items(spark))
        assert [r["q"] for r in out.collect()[0]["xs"]] == [4.0, 10.0]

    def test_write_reads_index(self, spark):
        out = self._plan(["v.q = v.q + i"]).transform(self._items(spark))
        assert [r["q"] for r in out.collect()[0]["xs"]] == [2.0, 6.0]

    def test_write_adds_field(self, spark):
        out = self._plan(["v.big = v.q > 3"]).transform(self._items(spark))
        rows = out.collect()[0]["xs"]
        assert [r["big"] for r in rows] == [False, True]
        assert [r["tag"] for r in rows] == ["a", "b"]  # untouched fields kept

    def test_write_sequential_same_iteration(self, spark):
        # the second write reads the FIRST write's value (Context.Set
        # sequential semantics)
        out = self._plan(["v.q = v.q * 2", "v.q = v.q + 1"]).transform(
            self._items(spark))
        assert [r["q"] for r in out.collect()[0]["xs"]] == [5.0, 11.0]

    def test_accumulator_sees_post_write_value(self, spark):
        plan = js.compile_schema({"script": [
            "n = 0",
            {"for": "i,v in $.xs", "do": ["v.q = v.q * 2", "n = n + v.q"]},
            "$.n_out = n",
        ]})
        row = plan.transform(self._items(spark)).collect()[0]
        assert row["n_out"] == 14.0            # post-write 4 + 10
        assert [r["q"] for r in row["xs"]] == [4.0, 10.0]

    def test_accumulator_before_write_sees_pre_write_value(self, spark):
        plan = js.compile_schema({"script": [
            "n = 0",
            {"for": "i,v in $.xs", "do": ["n = n + v.q", "v.q = 0"]},
            "$.n_out = n",
        ]})
        row = plan.transform(self._items(spark)).collect()[0]
        assert row["n_out"] == 7.0             # pre-write 2 + 5
        assert [r["q"] for r in row["xs"]] == [0.0, 0.0]

    def test_write_with_break_prefix_only(self, spark):
        # the break-triggering element and everything after stay as-is
        plan = js.compile_schema({"script": [{
            "for": "i,v in $.xs",
            "do": [{"if": "v.q >= 5", "then": ["break"]}, "v.q = v.q * 10"],
        }]})
        out = plan.transform(self._items(spark))
        assert [r["q"] for r in out.collect()[0]["xs"]] == [20.0, 5.0]

    def test_write_rhs_reads_accumulator_rejected(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        plan = js.compile_schema({"script": [
            "n = 0",
            {"for": "i,v in $.xs", "do": ["n = n + 1", "v.q = n"]},
        ]})
        with pytest.raises(SchemaError, match="accumulator"):
            plan.transform(self._items(spark)).collect()

    def test_write_through_other_var_rejected(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        plan = js.compile_schema({"script": [
            "w = 1",
            {"for": "i,v in $.xs", "do": ["w.q = 1"]},
        ]})
        with pytest.raises(SchemaError, match="loop value variable"):
            plan.transform(self._items(spark)).collect()

    def test_write_outside_for_rejected(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        plan = js.compile_schema({"script": ["w = 1", "w.q = 2"]})
        with pytest.raises(SchemaError, match="only supported inside"):
            plan.transform(self._items(spark)).collect()

    def test_map_value_write(self, spark):
        df = spark.createDataFrame(
            [(1, {"a": {"q": 1.0}, "b": {"q": 3.0}})],
            "id int, xs map<string, struct<q double>>",
        )
        plan = js.compile_schema({"script": [
            {"for": "k,v in $.xs", "do": ["v.q = v.q + 1"]},
        ]})
        out = plan.transform(df).collect()[0]["xs"]
        assert out["a"]["q"] == 2.0 and out["b"]["q"] == 4.0

    def test_guarded_write(self, spark):
        # a for nested under an object-if only rewrites matching rows
        df = spark.createDataFrame(
            [(1, [{"q": 1.0}]), (2, [{"q": 1.0}])],
            "id int, xs array<struct<q double>>",
        )
        plan = js.compile_schema({"script": [{
            "if": "$.id == 1",
            "then": [{"for": "i,v in $.xs", "do": ["v.q = 9"]}],
        }]})
        rows = {r["id"]: r["xs"] for r in plan.transform(df).collect()}
        assert rows[1][0]["q"] == 9.0
        assert rows[2][0]["q"] == 1.0


class TestRound3Additions:
    """Round-3 expr-language closure: byte-faithful digests,
    hmac_sha256, duration/Add, regmatch/regfind, context mutation
    functions (set_to/set/set_index/delete) and v[i]= index assigns."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "hello", "2024-03-05 10:00:00")],
            "id int, s string, ts string",
        )

    def test_digests_are_raw_bytes(self, spark):
        # the reference's signing idiom: hex_encode(md5_sum(x))
        # (expr/script_test.go:153-155) must be the 32-char digest
        import hashlib

        plan = js.compile_schema({"script": [
            "$.h1 = hex_encode(md5_sum($.s))",
            "$.h2 = hex_encode(sha256_sum($.s))",
            "$.h3 = base64_encode(md5_sum($.s))",
            "$.h4 = string(len(md5_sum($.s)))",
        ]})
        row = plan.transform(self._df(spark)).collect()[0]
        assert row["h1"] == hashlib.md5(b"hello").hexdigest()
        assert row["h2"] == hashlib.sha256(b"hello").hexdigest()
        import base64

        assert row["h3"] == base64.b64encode(hashlib.md5(b"hello").digest()).decode()
        assert row["h4"] == "16"

    def test_hmac_sha256(self, spark):
        import hashlib
        import hmac

        plan = js.compile_schema({"script": [
            "$.sig = hex_encode(hmac_sha256($.s, 'secret1'))",
        ]})
        row = plan.transform(self._df(spark)).collect()[0]
        want = hmac.new(b"secret1", b"hello", hashlib.sha256).hexdigest()
        assert row["sig"] == want

    def test_duration_and_time_add(self, spark):
        # time_now().Add(duration('3s')) shape (funcs_test.go:342),
        # pinned to a parsed timestamp for determinism
        plan = js.compile_schema({"script": [
            "t = time_parse('2006-01-02 15:04:05', $.ts)",
            "$.t2 = t.Add(duration('1h30m')).format('2006-01-02 15:04:05')",
            "$.d = string(duration('1.5s') / duration('1ms'))",
        ]})
        row = plan.transform(self._df(spark)).collect()[0]
        assert row["t2"] == "2024-03-05 11:30:00"
        assert row["d"] == "1500"

    def test_duration_rejects_junk(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        with pytest.raises((SchemaError, ExprError), match="duration"):
            js.compile_schema({"script": ["$.x = duration('3parsecs')"]}).transform(
                self._df(spark)
            ).collect()

    def test_regmatch(self, spark, docs):
        # the reference's own fixtures (funcs_test.go:443-445)
        plan = js.compile_schema({"script": [
            "$.hd = string(regmatch('abcd$','abcde')) + '/' + "
            "string(regmatch('abcd$','aabcd')) + '/' + "
            "string(regmatch('^abcd$','aabcd'))",
        ]})
        assert plan.transform(docs).collect()[0]["hd"] == "false/true/false"

    def test_regfind_submatches(self, spark):
        df = self._df(spark)
        plan = js.compile_schema({"script": [
            "m = regfind('([a-z])l', $.s)",
            "$.n = string(len(m))",
            "$.full = str_join(map(m, {p} => p[0]), ',')",
            "$.g1 = str_join(map(m, {p} => p[1]), ',')",
        ]})
        row = plan.transform(df).collect()[0]
        # 'hello' -> matches 'el', 'll'?  Go FindAll is non-overlapping:
        # 'el' consumed, next scan from 'lo' -> no 'l'+l... verify vs re
        import re as _re

        want = _re.findall("([a-z])l", "hello")
        assert row["n"] == str(float(len(want))).rstrip("0").rstrip(".") or row["n"]
        assert row["g1"] == ",".join(want)

    def test_set_to_and_seto(self, spark):
        plan = js.compile_schema({"script": [
            "set_to(5, x)",
            "seto(x + 2, 'y')",
            "$.out = string(y)",
        ]})
        assert plan.transform(self._df(spark)).collect()[0]["out"] == "7"

    def test_map_set_delete(self, spark):
        plan = js.compile_schema({"script": [
            "m = new()",
            "set(m, 'a', 1)",
            "set(m, 'b', 'x')",
            "set(m, 'a', 2)",      # overwrite
            "delete(m, 'b')",
            "$.out = json_str(m)",
        ]})
        out = plan.transform(self._df(spark)).collect()[0]["out"]
        assert out == '{"a":"2"}'

    def test_set_index_and_index_assign(self, spark):
        plan = js.compile_schema({"script": [
            "ss = ['a', 'b', 'c']",
            "set_index(ss, 1, 'B')",
            "ss[0] = 'A'",          # script_test.go:146 sugar
            "$.out = str_join(ss, '')",
        ]})
        assert plan.transform(self._df(spark)).collect()[0]["out"] == "ABc"

    def test_guarded_set_keeps_old_binding(self, spark):
        df = spark.createDataFrame([(1,), (2,)], "id int")
        plan = js.compile_schema({"script": [
            "m = new()",
            "set(m, 'k', 'base')",
            {"if": "$.id == 1", "then": ["set(m, 'k', 'one')"]},
            "$.out = string(get(m, 'k'))",
        ]})
        rows = {r["id"]: r["out"] for r in plan.transform(df).collect()}
        assert rows == {1: "one", 2: "base"}

    def test_mutation_on_non_variable_rejected(self, spark):
        from jsonschema_spark.plans.compiler import SchemaError

        with pytest.raises(SchemaError, match="script variable"):
            js.compile_schema({"script": ["set($.s, 'k', 1)"]}).transform(
                self._df(spark)
            ).collect()

    def test_array_get_is_zero_based(self, spark):
        plan = js.compile_schema({"script": [
            "ss = ['x', 'y']",
            "$.out = string(ss[0]) + string(get(ss, 1))",
        ]})
        assert plan.transform(self._df(spark)).collect()[0]["out"] == "xy"

    def test_bytes_and_str_fields(self, spark):
        plan = js.compile_schema({"script": [
            "$.b = string(len(bytes($.s)))",
            "$.f = str_join(str_fields('a  b c'), '|')",
        ]})
        row = plan.transform(self._df(spark)).collect()[0]
        assert row["b"] == "5"
        assert row["f"] == "a|b|c"


class TestStatementSugar:
    """r4 additions: 'as' bind, '++'/'--', '...' spread
    (reference lexer.go:526-541, 1634-1662, 412-413; fixtures adapted
    from expr/funcs_test.go TestAddAdd:360-396)."""

    def test_as_bind_chain(self, spark, docs):
        # "5+5 as a1", "add(5,5).string() as a2 as a3"
        plan = js.compile_schema(
            {"script": [
                "5+5 as a1",
                "(5+5).string() as a2 as a3",
                "$.hd = '${a1}:${a2}:${a3}'",
            ]}
        )
        out = plan.transform(docs).collect()[0]["hd"]
        assert out == "10:10:10"

    def test_as_yields_value_inline(self, spark, docs):
        # asVal returns the bound value, usable mid-expression
        plan = js.compile_schema(
            {"script": ["$.age = ($.age as orig) + 1", "$.sms = string(orig)"]}
        )
        rows = {r["name"]: r for r in plan.transform(docs).collect()}
        assert rows["dd"]["age"] == 31.0 and rows["dd"]["sms"] == "30"

    def test_as_requires_variable(self, spark):
        with pytest.raises(Exception, match="as right is not variable"):
            parse_statements("5 as 7")

    def test_plus_plus_minus_minus(self, spark, docs):
        # "a=5;a++" -> 6, "k=9;k--" -> 8
        plan = js.compile_schema(
            {"script": [
                "a = 5", "a++",
                "k = 9", "k--",
                "$.hd = '${a}:${k}'",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "6:8"

    def test_plus_plus_on_doc_field(self, spark, docs):
        plan = js.compile_schema({"script": ["$.age++"]})
        rows = {r["name"]: r["age"] for r in plan.transform(docs).collect()}
        assert rows["dd"] == 31.0 and rows["ee"] == 8.5

    def test_plus_plus_missing_coalesces_to_zero(self, spark, docs):
        # reference NumberOf(nil) == 0, so incrementing a nil slot
        # yields 1 (funcs_test.go:387 'c.b' -> 1.0)
        plan = js.compile_schema({"script": ["z = nil", "z++", "$.sms = string(z)"]})
        assert plan.transform(docs).collect()[0]["sms"] == "1"

    def test_plus_plus_requires_assignable(self, spark):
        with pytest.raises(Exception, match="target"):
            parse_statements("(1+2)++")

    def test_spread_in_append_array(self, spark, docs):
        plan = js.compile_schema(
            {"script": [
                "xs = ['a','b']",
                "ys = ['c','d']",
                "$.hd = append(xs, ys..., 'e').join(',')",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "a,b,c,d,e"

    def test_spread_in_append_string(self, spark, docs):
        plan = js.compile_schema(
            {"script": ["ys = ['b','c']", "$.hd = append('a', ys...)"]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "abc"

    def test_spread_outside_call_rejected(self, spark, docs):
        plan = js.compile_schema({"script": ["$.hd = string(len([1,2]...))"]})
        with pytest.raises(Exception, match="spread"):
            plan.transform(docs).collect()

    def test_guarded_as_bind_keeps_old_binding(self, spark):
        # asVal inside a false branch must not rebind (it only runs when
        # the branch executes) — same scoping as guarded set (r5 fix)
        df = spark.createDataFrame([(1,), (2,)], "id int")
        plan = js.compile_schema({"script": [
            "'base' as a",
            {"if": "$.id == 1", "then": ["'one' as a"]},
            "$.out = a",
        ]})
        rows = {r["id"]: r["out"] for r in plan.transform(df).collect()}
        assert rows == {1: "one", 2: "base"}

    def test_guarded_nested_as_bind_keeps_old_binding(self, spark):
        # 'as' nested in a guarded statement's expression, not a bare
        # AsBind statement — exercises the _asbind_names persistence path
        df = spark.createDataFrame([(1,), (2,)], "id int")
        plan = js.compile_schema({"script": [
            "b = 'base'",
            {"if": "$.id == 1", "then": ["$.tmp = ('one' as b)"]},
            "$.out = b",
        ]})
        rows = {r["id"]: r["out"] for r in plan.transform(df).collect()}
        assert rows == {1: "one", 2: "base"}

    def test_spread_non_array_is_single_element(self, spark, docs):
        # reference VariadicVal wraps a non-slice spread value as one
        # element instead of erroring (funcs.go:341-346)
        plan = js.compile_schema(
            {"script": [
                "xs = ['a']",
                "y = 'b'",
                "$.hd = append(xs, y...).join(',')",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "a,b"

    def test_spread_non_array_string_form(self, spark, docs):
        plan = js.compile_schema(
            {"script": ["y = 'b'", "$.hd = append('a', y..., 'c')"]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "abc"


class TestStatefulHelpers:
    """r5: str_builder / atomic_int analogs (funcs_obj.go:322-324,
    859-880) — per-row values threaded through bindings; fixtures
    mirror expr/funcs_test.go:32 and script_test.go:428,930."""

    def test_str_builder_chained(self, spark, docs):
        # funcs_test.go:32: str_builder().write('1','2').write('3').string()
        plan = js.compile_schema(
            {"script": ["$.hd = str_builder().write('1','2').write('3').string()"]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "123"

    def test_str_builder_statement_write_mutates(self, spark, docs):
        # script_test.go:930 via statement form
        plan = js.compile_schema(
            {"script": [
                "a = str_builder()",
                "write(a, 'hello')",
                "a.write('world', '1')",
                "$.hd = a.string()",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "helloworld1"

    def test_str_builder_guarded_write(self, spark):
        df = spark.createDataFrame([(1,), (2,)], "id int")
        plan = js.compile_schema({"script": [
            "b = str_builder()",
            "write(b, 'x')",
            {"if": "$.id == 1", "then": ["write(b, '!')"]},
            "$.out = b.string()",
        ]})
        rows = {r["id"]: r["out"] for r in plan.transform(df).collect()}
        assert rows == {1: "x!", 2: "x"}

    def test_atomic_int_add_get_set(self, spark, docs):
        plan = js.compile_schema(
            {"script": [
                "c = atomic_int(5)",
                "$.hd = string(c.add(3))",   # Add returns the new value
                "set(c, 10)",
                "$.sms = string(c.get())",
            ]}
        )
        row = plan.transform(docs).collect()[0]
        assert row["hd"] == "8" and row["sms"] == "10"

    def test_atomic_int_bare_add_statement_rebinds(self, spark, docs):
        plan = js.compile_schema(
            {"script": [
                "c = atomic_int(5)",
                "c.add(2)",
                "add(c, 3)",
                "$.hd = string(c.get())",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "10"

    def test_statement_set_two_args_on_map_rejected(self, spark, docs):
        plan = js.compile_schema(
            {"script": ["v = url_new_values()", "set(v, 'q')", "$.hd = v.encode()"]}
        )
        with pytest.raises(Exception, match=r"3-arg form set\(v, k, v\)"):
            plan.transform(docs).collect()

    def test_expr_set_two_args_on_map_rejected(self, spark, docs):
        plan = js.compile_schema(
            {"script": ["$.hd = url_new_values().set('q').encode()"]}
        )
        with pytest.raises(Exception, match="3-arg form"):
            plan.transform(docs).collect()

    def test_operator_text_string_literals_parse(self, spark, docs):
        # r5 parser fix: a STRING token whose text is an operator
        # ('!', '-', 'in', ...) must stay a literal — previously the
        # Pratt loop keyed on token TEXT alone and parsed '!' as NOT
        plan = js.compile_schema(
            {"script": ["$.hd = '!' + '-' + 'in' + 'or'"]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "!-inor"

    def test_expr_set_on_non_map_rejected(self, spark, docs):
        plan = js.compile_schema(
            {"script": ["$.hd = string(set('x', 'k', 1))"]}
        )
        with pytest.raises(Exception, match="map-typed"):
            plan.transform(docs).collect()

    def test_url_values_chained(self, spark, docs):
        # funcs_obj.go:656-670: url_new_values().set().encode(); Encode
        # sorts by key and form-urlencodes (space -> '+')
        plan = js.compile_schema(
            {"script": [
                "$.hd = url_new_values().set('b', 'x y').set('a', 1).encode()",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "a=1&b=x+y"

    def test_url_values_statement_set_and_get(self, spark, docs):
        plan = js.compile_schema(
            {"script": [
                "v = url_new_values()",
                "set(v, 'q', 'hello')",
                "set(v, 'q', 'world')",   # Set overwrites
                "$.hd = v.get('q') + ':' + v.encode()",
            ]}
        )
        assert plan.transform(docs).collect()[0]["hd"] == "world:q=world"
