"""Plan pins for the fixed-column routes: the optimized plans of the
gateway rule's ``fail_predicate`` and of the transcript rule's
``SchemaCheck`` (verdicts and violation rows) must not move unnoticed:
all three compile through the keywords' ``Rule.fails``.  A change here
moves the gateway and resume benchmarks; update the pins only together
with a measurement of both."""

from __future__ import annotations

import hashlib
import re

import jsonschema_spark as js
from jsonschema_spark.operators import checks

ROLES = ["system", "user", "assistant", "tool"]

TRANSCRIPT_SCHEMA = {
    "required": ["conv_id", "turn_idx", "role", "text"],
    "properties": {
        "conv_id": {"type": "string", "pattern": "^c[0-9]{8}$", "minLength": 9, "maxLength": 9},
        "turn_idx": {"type": "integer", "minimum": 0, "maximum": 100000},
        "role": {"type": "string", "enum": ROLES},
        "text": {"type": "string", "minLength": 1, "maxLength": 4000,
                 "pattern": "^[\\x20-\\x7E\\s]*$"},
        "tool": {"pattern": "^tool_[0-9]{2}$"},
    },
    "if": {"keyMatch": {"role": "tool"}},
    "then": {"required": ["tool"]},
}

GATEWAY_SCHEMA = {
    "set": {
        "userinfo": ["append()", "${name}", ":", "${age}"],
        "user_info": ["sprintf()", "name:%s  age:%s", "${name}", "${age}"],
    },
    "and": [
        {"if": {"neq": {"school": "wh"}},
         "then": {"set": {"skip_it": True}},
         "else": {"error": ["sprintf()", "invalid school '%v'", "${school}"]}},
        {"if": {"not": {"eq": {"sig": [
            "md5.hex()", ["append()", "${name}", "${timestamp}", "secret1"]]}}},
         "then": {"error": "sig not match"}},
        {"if": {"not": {"lt": {"timestamp": 1_700_000_300},
                          "gt": {"timestamp": 1_699_999_700}}},
         "then": {"error": "time is valid"}},
    ],
    "properties": {
        "age": {"type": "number", "maximum": 100, "minimum": 0},
        "hobby": {"type": "array",
                  "items": {"type": "string", "enum": ["ball", "game", "music"]}},
        "name": {"type": "string", "startWith": "b", "maxLength": 32},
    },
}

# (length, sha256) of each normalized optimized plan
PINNED = {
    "gateway.fail_predicate": (
        1246, "e621954a2628131ba08799321b158f8a803e62e193fc770a0e02bb9ec2ad2983"),
    "transcripts.schema_check.verdicts": (
        1109, "e8cdb51fed9719ce875be8bcfd860fdf918c53dacdaa71d2460f45be0777430e"),
    "transcripts.schema_check.violations": (
        2523, "e61ee2de097d9b94bb62303a795d6d00da4aeeb44cf3cbbd7aa74e6b2d6b42ca"),
}


def _normalized(df) -> str:
    """The optimized plan without its session counters: expression ids
    and the numbering of lambda variables."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    return re.sub(r"\b(lambda \w+?)_\d+", r"\1", plan)


def plans(spark, tmp_dir: str):
    gw = spark.createDataFrame(
        [("bob", 30.0, "xx", ["ball"], 1_700_000_000, "s")],
        "name string, age double, school string, hobby array<string>, "
        "timestamp long, sig string",
    )
    gw.write.mode("overwrite").parquet(f"{tmp_dir}/gateway")
    gw = spark.read.parquet(f"{tmp_dir}/gateway")
    plan = js.compile_schema(GATEWAY_SCHEMA)
    yield "gateway.fail_predicate", _normalized(gw.select(plan.fail_predicate(gw).alias("f")))

    turns = spark.createDataFrame(
        [("c00000001", 0, "user", "hi", None)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    turns.write.mode("overwrite").parquet(f"{tmp_dir}/turns")
    turns = spark.read.parquet(f"{tmp_dir}/turns")
    chk = checks.SchemaCheck(plan=js.compile_schema(TRANSCRIPT_SCHEMA),
                             keys=["conv_id", "turn_idx"])
    yield "transcripts.schema_check.verdicts", _normalized(chk.verdicts(turns))
    yield "transcripts.schema_check.violations", _normalized(chk.violations(turns))


def test_fixed_column_plans_pinned(spark, tmp_path):
    got = {
        name: (len(text), hashlib.sha256(text.encode()).hexdigest())
        for name, text in plans(spark, str(tmp_path))
    }
    assert got == PINNED
