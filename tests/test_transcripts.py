"""Conversation-transcript sequence operators
(jsonschema_spark/operators/transcripts.py): the integrity FSM and the
SequenceIntegrity Check surface."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from jsonschema_spark.operators import transcripts
from jsonschema_spark.operators.transcripts import (
    SequenceIntegrity,
    conversation_integrity,
)


def rows(df, *order):
    if order:
        df = df.orderBy(*order)
    return [tuple(r) for r in df.collect()]


def _ts(m):
    return dt.datetime(2026, 1, 1, 12, m, 0)


def _corpus(spark):
    # c1: clean conversation.  c2: turn gap + duplicate turn, ts
    # regression, illegal transition (user after user) and a bad
    # opening role.
    data = [
        # conv, turn, role, text, tool, ts
        ("c1", 0, "user", "hi", None, _ts(0)),
        ("c1", 1, "assistant", "hello", None, _ts(1)),
        ("c1", 2, "tool", "result", "search", _ts(2)),
        ("c1", 3, "assistant", "done", None, _ts(3)),
        ("c2", 1, "assistant", "a", None, _ts(0)),  # opens at 1, bad role
        ("c2", 3, "user", "b", None, _ts(1)),       # gap 1->3
        ("c2", 3, "user", "c", None, _ts(0)),       # dup turn + ts regress + user>user
    ]
    return spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


def test_integrity_violations(spark):
    out = conversation_integrity(
        _corpus(spark), order_by=("turn_idx", "text")
    )
    got = rows(out, "conv_id", "turn_idx", "check", "info")
    assert all(r[0] == "c2" for r in got), "clean conversation must be silent"
    kinds = {(r[1], r[2]) for r in got}
    assert (1, "turn_sequence") in kinds      # first turn is 1
    assert (1, "role_transition") in kinds    # opens with assistant
    assert (3, "turn_sequence") in kinds      # gap and duplicate
    assert (3, "ts_monotonic") in kinds       # ts regresses
    infos = {r[3] for r in got}
    assert "first turn index is 1 , expected 0" in infos
    assert "turn index 3 follows 1" in infos
    assert "turn index 3 follows 3" in infos
    assert "role user cannot follow user" in infos
    assert "conversation opens with role assistant" in infos


def test_integrity_single_shuffle(spark):
    out = conversation_integrity(
        _corpus(spark), order_by=("turn_idx", "text")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "PythonUDF" not in plan


def test_sequence_integrity_check_matches_violations(spark):
    df = _corpus(spark).withColumn(
        "day", F.to_date("ts")
    )
    chk = SequenceIntegrity(
        order_by=("turn_idx", "text"), partition_by=["day"]
    )
    verd = rows(chk.verdicts(df), "partition_id")
    viol = chk.violations(df).count()
    assert len(verd) == 1
    pid, name, ok, n, metrics = verd[0]
    assert pid == "day=2026-01-01"
    assert name == "sequence_integrity"
    assert ok is False and n == viol and n >= 5
    assert metrics["rows"] == "7"


def test_sequence_integrity_clean_passes(spark):
    clean = _corpus(spark).filter(F.col("conv_id") == "c1")
    verd = rows(SequenceIntegrity(order_by=("turn_idx", "text")).verdicts(clean))
    assert len(verd) == 1
    assert verd[0][2] is True and verd[0][3] == 0


def test_default_transitions_frozen():
    assert ("user", "assistant") in transcripts.DEFAULT_TRANSITIONS
    assert ("user", "user") not in transcripts.DEFAULT_TRANSITIONS
