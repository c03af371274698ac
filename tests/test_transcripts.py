"""Conversation-transcript sequence operators
(jsonschema_spark/operators/transcripts.py): integrity FSM, rollup,
turn merging, tool loops, latency and pairing, and the
SequenceIntegrity Check surface."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from jsonschema_spark.operators import transcripts
from jsonschema_spark.operators.transcripts import (
    SequenceIntegrity,
    conversation_integrity,
    conversation_rollup,
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


def test_conversation_rollup(spark):
    out = {r[0]: r for r in rows(conversation_rollup(_corpus(spark)))}
    c1 = out["c1"]
    # conv_id, n_turns, first, last, n_roles, n_tool_calls, n_chars,
    # duration_sec, contiguous
    assert c1[1:] == (4, 0, 3, 3, 1, 17, 180, True)
    c2 = out["c2"]
    assert c2[1] == 3 and c2[2] == 1 and c2[3] == 3
    # span == count (the dup and the gap cancel): the flag is contiguity
    # GIVEN uniqueness — duplicate turn detection is Uniqueness' job
    assert c2[8] is True
    only_gap = rows(
        conversation_rollup(
            _corpus(spark).filter(F.col("text") != "c")
        )
    )
    c2g = [r for r in only_gap if r[0] == "c2"][0]
    assert c2g[8] is False  # turns {1,3}: span 3 != count 2


def test_default_transitions_frozen():
    assert ("user", "assistant") in transcripts.DEFAULT_TRANSITIONS
    assert ("user", "user") not in transcripts.DEFAULT_TRANSITIONS


def _runs_corpus(spark):
    # c1: user,user,assistant,assistant,assistant,tool,assistant —
    # chunked same-role runs with a tool call in the middle.
    data = [
        ("c1", 0, "user", "hi", None, _ts(0)),
        ("c1", 1, "user", "are you there", None, _ts(1)),
        ("c1", 2, "assistant", "yes", None, _ts(2)),
        ("c1", 3, "assistant", "how can I help", None, _ts(3)),
        ("c1", 4, "assistant", "today", None, _ts(4)),
        ("c1", 5, "tool", "result 42", "calc", _ts(5)),
        ("c1", 6, "assistant", "answer is 42", None, _ts(6)),
        ("c2", 0, "user", "lonely", None, _ts(0)),
    ]
    return spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )


def test_merge_consecutive_turns(spark):
    out = transcripts.merge_consecutive_turns(_runs_corpus(spark))
    got = rows(out, "conv_id", "turn_idx")
    assert got == [
        ("c1", 0, "user", "hi\nare you there", None, _ts(0), 2),
        ("c1", 1, "assistant", "yes\nhow can I help\ntoday", None, _ts(2), 3),
        ("c1", 2, "tool", "result 42", "calc", _ts(5), 1),
        ("c1", 3, "assistant", "answer is 42", None, _ts(6), 1),
        ("c2", 0, "user", "lonely", None, _ts(0), 1),
    ]
    # merged output is FSM-clean: no same-role transitions remain
    viol = conversation_integrity(
        out.withColumn("seq", F.col("turn_idx")), order_by=("turn_idx", "seq")
    )
    assert (
        viol.where(F.col("check") == "role_transition")
        .where(F.col("info").contains("cannot follow"))
        .count()
        == 0
    )


def test_merge_consecutive_turns_no_tool_no_ts(spark):
    out = transcripts.merge_consecutive_turns(
        _runs_corpus(spark), tool_col=None, ts_col=None, order_by=("turn_idx",)
    )
    assert out.columns == ["conv_id", "turn_idx", "role", "text", "n_merged"]
    assert out.count() == 5


class TestToolLoops:
    def test_runs_and_breaks(self, spark):
        from jsonschema_spark.operators.transcripts import tool_loops

        rows = [
            # conv A: search x3 (loop), user break, search x1 + fetch x2
            ("A", 0, "user", None),
            ("A", 1, "assistant", "search"),
            ("A", 2, "tool", "search"),
            ("A", 3, "tool", "search"),
            ("A", 4, "user", None),
            ("A", 5, "tool", "search"),
            ("A", 6, "tool", "fetch"),
            ("A", 7, "tool", "fetch"),
            # conv B: alternation, no same-tool run
            ("B", 0, "tool", "a"),
            ("B", 1, "tool", "b"),
            ("B", 2, "tool", "a"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, tool string"
        )
        got = {
            (r["conv_id"], r["tool"], r["run_start"]): r["run_len"]
            for r in tool_loops(df, min_run=2).collect()
        }
        # the user turn at 4 breaks the search run even though the
        # tool name repeats right after
        assert got == {("A", "search", 1): 3, ("A", "fetch", 6): 2}

    def test_min_run_filter(self, spark):
        from jsonschema_spark.operators.transcripts import tool_loops

        df = spark.createDataFrame(
            [("C", 0, "tool", "x"), ("C", 1, "tool", "x"), ("C", 2, "tool", "x")],
            "conv_id string, turn_idx int, role string, tool string",
        )
        assert tool_loops(df, min_run=4).count() == 0
        assert tool_loops(df, min_run=3).collect()[0]["run_len"] == 3


class TestToolLatency:
    def test_adjacent_pairs_only(self, spark):
        import datetime

        from jsonschema_spark.operators.transcripts import tool_latency

        t0 = datetime.datetime(2026, 1, 1)
        ms = lambda k: t0 + datetime.timedelta(milliseconds=k)
        rows = [
            ("A", 0, "assistant", "search", ms(0)),
            ("A", 1, "tool", "search", ms(250)),     # pair: 250ms
            ("A", 2, "assistant", "fetch", ms(300)),
            ("A", 3, "user", None, ms(400)),         # fetch never answered
            ("A", 4, "tool", "fetch", ms(900)),      # prev is user -> no pair
            ("B", 0, "assistant", "search", ms(0)),
            ("B", 1, "tool", "search", ms(750)),     # pair: 750ms
        ]
        df = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, tool string, ts timestamp",
        )
        got = {r["tool"]: r for r in tool_latency(df).collect()}
        assert set(got) == {"search"}
        s = got["search"]
        assert s["n_pairs"] == 2
        assert s["mean_us"] == 500000.0
        assert s["p50_us"] == 500000.0  # interpolated midpoint
        assert s["max_us"] == 750000

