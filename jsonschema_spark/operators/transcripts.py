"""Conversation-transcript sequence operators.

The engine's input domain (north rule) is a table of multi-turn
conversation / agent transcripts::

    conv_id:string, turn_idx:int, role:string, text:string,
    tool:string, ts:timestamp

The reference engine (seeadoog/jsonschema) validates one JSON document
at a time; a transcript corpus additionally carries CROSS-ROW
invariants inside each conversation — the turn sequence itself must be
well-formed before any per-turn schema rule is meaningful.  This module
provides those conversation-level operators as first-class checks:

* ``conversation_integrity`` — per-turn sequence violations (turn-index
  contiguity, timestamp monotonicity, role-transition FSM, first-turn
  rules) from ONE window pass over (conv_id) — a single hash shuffle on
  the conversation key, then pure codegen projection + explode.  No
  self-join, no collect.
* ``SequenceIntegrity`` — the same as a ``Check`` (operators/checks.py)
  emitting per-partition pass/fail verdict rows, so transcript-sequence
  health sits in the same resumable CheckSuite as schema/stats/drift.
* ``conversation_rollup`` — per-conversation metrics in one
  map-side-combinable aggregation.
* ``merge_consecutive_turns`` — transcript repair: same-role runs
  merged to one turn per run (gaps-and-islands segmenter; run id IS
  the new turn index).

Scale notes (100 TB): every operator here shuffles exactly once on
``conv_id`` (the window / the groupBy); conversations are
bounded-length so the per-key payload is small even for hot keys.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .checks import Check, _partition_id, _verdict_select

# A reasonable default FSM for agent transcripts: conversations open
# with system/user, user and assistant alternate, the assistant may
# fan out tool calls (tool->tool = parallel tool results), tools hand
# back to the assistant.
DEFAULT_TRANSITIONS: frozenset[tuple[str, str]] = frozenset(
    {
        ("system", "user"),
        ("system", "assistant"),
        ("user", "assistant"),
        ("assistant", "user"),
        ("assistant", "tool"),
        ("tool", "tool"),
        ("tool", "assistant"),
    }
)
DEFAULT_FIRST_ROLES: frozenset[str] = frozenset({"system", "user"})


def conversation_integrity(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    ts_col: str | None = "ts",
    role_col: str | None = "role",
    order_by: Sequence[str] | None = None,
    allowed_transitions: Iterable[tuple[str, str]] | None = DEFAULT_TRANSITIONS,
    first_roles: Iterable[str] | None = DEFAULT_FIRST_ROLES,
    first_index: int = 0,
) -> DataFrame:
    """Per-turn sequence violations: ``(conv_id, turn_idx, check, info)``.

    Checks (each row is compared with its predecessor in ``order_by``
    order within the conversation):

    * ``turn_sequence``  — ``turn_idx`` must be exactly prev+1
      (duplicates and gaps both trip it); the first turn must be
      ``first_index``.
    * ``ts_monotonic``   — ``ts`` must be non-decreasing.
    * ``role_transition``— (prev_role, role) must be in
      ``allowed_transitions``; the opening role must be in
      ``first_roles``.

    ONE window (hash shuffle on ``conv_col``) computes all three; the
    violation rows come out of a single codegen projection + explode.
    Pass ``order_by`` a deterministic total order (include a unique
    tiebreak column when ``(turn_idx, ts)`` can tie — duplicate turn
    indices are exactly what the check is for).
    """
    order_cols = list(order_by) if order_by else [turn_col] + (
        [ts_col] if ts_col else []
    )
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    turn = F.col(turn_col)
    prev_turn = F.lag(turn).over(w)

    def viol(cond: Column, name: str, info: Column) -> Column:
        return F.when(
            cond, F.struct(F.lit(name).alias("check"), info.alias("info"))
        )

    checks: list[Column] = [
        viol(
            prev_turn.isNull() & (turn != F.lit(first_index)),
            "turn_sequence",
            F.format_string(
                "first turn index is %s , expected %s",
                turn.cast("string"),
                F.lit(str(first_index)),
            ),
        ),
        viol(
            prev_turn.isNotNull() & (turn != prev_turn + 1),
            "turn_sequence",
            F.format_string(
                "turn index %s follows %s",
                turn.cast("string"),
                prev_turn.cast("string"),
            ),
        ),
    ]
    if ts_col is not None:
        ts, prev_ts = F.col(ts_col), F.lag(F.col(ts_col)).over(w)
        checks.append(
            viol(
                prev_ts.isNotNull() & ts.isNotNull() & (ts < prev_ts),
                "ts_monotonic",
                F.lit("timestamp regresses within conversation"),
            )
        )
    if role_col is not None:
        role = F.col(role_col)
        prev_role = F.lag(role).over(w)
        if first_roles is not None:
            first_set = sorted(set(first_roles))
            checks.append(
                viol(
                    prev_turn.isNull()
                    & role.isNotNull()
                    & ~role.isin(first_set),
                    "role_transition",
                    F.format_string(
                        "conversation opens with role %s", role
                    ),
                )
            )
        if allowed_transitions is not None:
            allowed = sorted(
                f"{a}>{b}" for a, b in set(allowed_transitions)
            )
            pair = F.concat_ws(">", prev_role, role)
            checks.append(
                viol(
                    prev_role.isNotNull()
                    & role.isNotNull()
                    & ~pair.isin(allowed),
                    "role_transition",
                    F.format_string("role %s cannot follow %s", role, prev_role),
                )
            )

    arr = F.filter(F.array(*checks), lambda x: x.isNotNull())
    return (
        df.select(
            F.col(conv_col).alias("conv_id"),
            turn.alias("turn_idx"),
            arr.alias("__v"),
        )
        .select("conv_id", "turn_idx", F.explode("__v").alias("v"))
        .select("conv_id", "turn_idx", "v.check", "v.info")
    )


@dataclass
class SequenceIntegrity(Check):
    """Conversation-sequence health as a per-partition verdict Check.

    Slots into the same CheckSuite / ResumableRun machinery as schema,
    stats, uniqueness, RI and drift: ``verdicts`` emits one
    ``VERDICT_SCHEMA`` row per table partition with the violation
    count, ``violations`` the per-turn rows.  The window shuffle is on
    ``conv_col``; the verdict aggregation re-shuffles only the
    (partition_id) keyed counts — driver-small.
    """

    conv_col: str = "conv_id"
    turn_col: str = "turn_idx"
    ts_col: str | None = "ts"
    role_col: str | None = "role"
    order_by: Sequence[str] | None = None
    allowed_transitions: Iterable[tuple[str, str]] | None = DEFAULT_TRANSITIONS
    first_roles: Iterable[str] | None = DEFAULT_FIRST_ROLES
    first_index: int = 0
    partition_by: Sequence[str] | None = None
    name: str = "sequence_integrity"

    def violations(self, df: DataFrame) -> DataFrame:
        return conversation_integrity(
            df,
            conv_col=self.conv_col,
            turn_col=self.turn_col,
            ts_col=self.ts_col,
            role_col=self.role_col,
            order_by=self.order_by,
            allowed_transitions=self.allowed_transitions,
            first_roles=self.first_roles,
            first_index=self.first_index,
        )

    def verdicts(self, df: DataFrame) -> DataFrame:
        # The partition columns must survive the integrity projection to
        # key the verdicts; re-join would be a second scan, so thread
        # them through the window projection instead.
        part = list(self.partition_by or [])
        base = df
        order_cols = list(self.order_by or [self.turn_col] + (
            [self.ts_col] if self.ts_col else []
        ))
        w = Window.partitionBy(self.conv_col).orderBy(
            *[F.col(c) for c in order_cols]
        )
        # count violations per row without materializing info strings
        turn = F.col(self.turn_col)
        prev_turn = F.lag(turn).over(w)
        conds: list[Column] = [
            prev_turn.isNull() & (turn != F.lit(self.first_index)),
            prev_turn.isNotNull() & (turn != prev_turn + 1),
        ]
        if self.ts_col is not None:
            ts, prev_ts = F.col(self.ts_col), F.lag(F.col(self.ts_col)).over(w)
            conds.append(prev_ts.isNotNull() & ts.isNotNull() & (ts < prev_ts))
        if self.role_col is not None:
            role = F.col(self.role_col)
            prev_role = F.lag(role).over(w)
            if self.first_roles is not None:
                conds.append(
                    prev_turn.isNull()
                    & role.isNotNull()
                    & ~role.isin(sorted(set(self.first_roles)))
                )
            if self.allowed_transitions is not None:
                allowed = sorted(
                    f"{a}>{b}" for a, b in set(self.allowed_transitions)
                )
                conds.append(
                    prev_role.isNotNull()
                    & role.isNotNull()
                    & ~F.concat_ws(">", prev_role, role).isin(allowed)
                )
        n_viol = sum(
            (F.when(c, F.lit(1)).otherwise(F.lit(0)) for c in conds),
            F.lit(0),
        )
        rows = base.select(
            _partition_id(part).alias("partition_id"),
            n_viol.alias("__nv"),
            F.col(self.conv_col).alias("__conv"),
        )
        agg = rows.groupBy("partition_id").agg(
            F.sum("__nv").alias("__fail"),
            F.count(F.lit(1)).alias("__rows"),
            F.approx_count_distinct("__conv").alias("__convs"),
        )
        metrics = F.map_from_arrays(
            F.array(F.lit("rows"), F.lit("conversations")),
            F.array(
                F.col("__rows").cast("string"),
                F.col("__convs").cast("string"),
            ),
        )
        return agg.select(
            *_verdict_select(self.name, F.col("__fail"), metrics)
        )


def conversation_rollup(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    ts_col: str | None = "ts",
    role_col: str | None = "role",
    text_col: str | None = "text",
    tool_col: str | None = "tool",
) -> DataFrame:
    """Per-conversation metrics in ONE aggregation (all algebraic →
    map-side partial aggregation makes this skew-tolerant without
    salting): turn count, distinct roles, tool-call count, character
    volume, wall duration, and a turn-contiguity flag
    (min==first, max==min+count-1 ⇒ contiguous when also duplicate-free;
    the duplicate check itself is Uniqueness' job)."""
    aggs = [
        F.count(F.lit(1)).alias("n_turns"),
        F.min(turn_col).alias("first_turn"),
        F.max(turn_col).alias("last_turn"),
    ]
    if role_col is not None:
        aggs.append(F.count_distinct(F.col(role_col)).alias("n_roles"))
    if tool_col is not None:
        aggs.append(
            F.sum(
                F.when(F.col(tool_col).isNotNull(), 1).otherwise(0)
            ).alias("n_tool_calls")
        )
    if text_col is not None:
        aggs.append(
            F.sum(F.length(F.col(text_col))).cast("long").alias("n_chars")
        )
    if ts_col is not None:
        # the .cast("timestamp") hop makes NTZ-typed columns castable
        dur = (
            F.max(F.col(ts_col)).cast("timestamp").cast("long")
            - F.min(F.col(ts_col)).cast("timestamp").cast("long")
        )
        aggs.append(dur.alias("duration_sec"))
    out = df.groupBy(F.col(conv_col).alias("conv_id")).agg(*aggs)
    contiguous = (
        (F.col("last_turn") - F.col("first_turn") + 1) == F.col("n_turns")
    ).alias("turns_contiguous")
    return out.select("*", contiguous)


def tool_call_pairing(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    order_by: Sequence[str] | None = None,
    caller_roles: Iterable[str] = ("assistant", "tool"),
) -> DataFrame:
    """Tool-call / tool-result pairing violations:
    ``(conv_id, turn_idx, check, info)``.

    The role-transition FSM (``conversation_integrity``) validates the
    ROLE sequence but ignores the ``tool`` column; this operator checks
    the coupling between them:

    * ``tool_name``    — a ``role='tool'`` turn must carry a tool name
      (a result without its tool is unattributable);
    * ``tool_caller``  — a non-null ``tool`` is only meaningful on an
      assistant turn (the call) or a tool turn (the result);
    * ``tool_pairing`` — a tool-result turn must directly follow an
      assistant call or a sibling tool result (parallel fan-out), never
      open a conversation or follow a user/system turn.

    Same scale shape as ``conversation_integrity``: ONE window pass
    (single hash shuffle on ``conv_col``), codegen projection, explode.
    """
    order_cols = list(order_by) if order_by else [turn_col]
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    role, tool = F.col(role_col), F.col(tool_col)
    prev_role = F.lag(role).over(w)
    callers = sorted(set(caller_roles))

    def viol(cond: Column, name: str, info: Column) -> Column:
        return F.when(
            cond, F.struct(F.lit(name).alias("check"), info.alias("info"))
        )

    checks = [
        viol(
            (role == "tool") & tool.isNull(),
            "tool_name",
            F.lit("tool turn carries no tool name"),
        ),
        viol(
            tool.isNotNull() & role.isNotNull() & ~role.isin(callers),
            "tool_caller",
            F.format_string("tool %s named on role %s", tool, role),
        ),
        viol(
            (role == "tool")
            & (prev_role.isNull() | ~prev_role.isin(callers)),
            "tool_pairing",
            F.format_string(
                "tool result follows role %s",
                F.coalesce(prev_role, F.lit("<none>")),
            ),
        ),
    ]
    arr = F.filter(F.array(*checks), lambda x: x.isNotNull())
    return (
        df.select(
            F.col(conv_col).alias("conv_id"),
            F.col(turn_col).alias("turn_idx"),
            arr.alias("__v"),
        )
        .select("conv_id", "turn_idx", F.explode("__v").alias("v"))
        .select("conv_id", "turn_idx", "v.check", "v.info")
    )


def merge_consecutive_turns(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str | None = "tool",
    ts_col: str | None = "ts",
    order_by: Sequence[str] | None = None,
    sep: str = "\n",
) -> DataFrame:
    """Transcript repair: merge runs of consecutive SAME-ROLE turns into
    one turn per run and re-index turns 0..n-1.

    Raw agent logs routinely emit several physical rows for one logical
    turn (chunked streaming output, retried tool writes); training
    pipelines normalise those to one turn per role change before
    packing.  Chat-template renderers (and the role-transition FSM in
    ``conversation_integrity``) reject same-role repeats, so this is
    the repair stage upstream of both.

    Plan shape (100 TB): window over ``conv_col`` assigns each row a
    run id (``SUM`` over a role-change flag — the classic gaps-and-
    islands segmenter) which IS the merged turn index, so no third pass
    re-indexes; then ONE groupBy on (conv, run) with map-side partial
    aggregation folds each run.  Two hash shuffles total, both on keys
    derived from the conversation id; no self-join, no Python.

    Output: one row per merged turn — ``(conv_id, turn_idx, role,
    text, tool, ts, n_merged)`` where ``text`` is the run's texts
    joined by ``sep`` in order, ``tool`` the run's first non-null tool,
    ``ts`` the run's first timestamp, ``n_merged`` the run length.
    """
    order_cols = list(order_by) if order_by else [turn_col] + (
        [ts_col] if ts_col else []
    )
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    role = F.col(role_col)
    changed = F.when(
        F.lag(role).over(w).isNull() | (F.lag(role).over(w) != role), 1
    ).otherwise(0)
    # run id == merged turn index (0-based): cumulative count of role
    # changes up to and including this row, minus one.
    seg = (F.sum(changed).over(w) - 1).alias("__seg")

    item = F.struct(
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        F.col(text_col).alias("v"),
        *(
            [F.col(tool_col).alias("tool")]
            if tool_col is not None
            else []
        ),
        *([F.col(ts_col).alias("ts")] if ts_col is not None else []),
    )
    base = df.select(
        F.col(conv_col).alias("conv_id"),
        seg,
        role.alias("role"),
        item.alias("__item"),
    )
    aggs = [
        F.first("role").alias("role"),
        F.array_sort(F.collect_list("__item")).alias("__items"),
        F.count(F.lit(1)).alias("n_merged"),
    ]
    out = base.groupBy("conv_id", "__seg").agg(*aggs)
    text = F.array_join(
        F.transform(F.col("__items"), lambda s: s["v"]), sep
    ).alias("text")
    cols = [
        F.col("conv_id"),
        F.col("__seg").alias("turn_idx"),
        F.col("role"),
        text,
    ]
    if tool_col is not None:
        # first non-null tool in run order (F.filter then element 1)
        cols.append(
            F.try_element_at(
                F.filter(
                    F.transform(F.col("__items"), lambda s: s["tool"]),
                    lambda t: t.isNotNull(),
                ),
                F.lit(1),
            ).alias("tool")
        )
    if ts_col is not None:
        # first timestamp in run order (items are sorted by order_cols)
        cols.append(F.element_at(F.col("__items"), 1)["ts"].alias("ts"))
    cols.append(F.col("n_merged"))
    return out.select(*cols)


def tool_loops(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    order_by: Sequence[str] | None = None,
    min_run: int = 2,
    break_roles: Iterable[str] = ("user", "system"),
) -> DataFrame:
    """Agent-loop detection: ``(conv_id, tool, run_start, run_len)``
    for every maximal run of >= ``min_run`` consecutive tool-bearing
    turns invoking the SAME tool with no intervening ``break_roles``
    turn (new user input legitimately restarts a tool, so it breaks a
    run).  The signature of an agent stuck retrying the same call.

    Shape: ONE window pass over ``conv_col`` computes a running
    break-segment id (cumulative count of break-role turns) and the
    gaps-and-islands run id over the tool-bearing subsequence; the
    run aggregation then groups on (conv, run) — loop volume, not
    corpus volume, survives the second shuffle.  No self-join, no
    collect."""
    order_cols = list(order_by) if order_by else [turn_col]
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    breaks = sorted(set(break_roles))
    seg = F.sum(
        F.when(F.col(role_col).isin(breaks), 1).otherwise(0)
    ).over(w)
    tl = (
        df.withColumn("__seg", seg)
        .filter(F.col(tool_col).isNotNull())
        .withColumn("__ptool", F.lag(F.col(tool_col)).over(w))
        .withColumn("__pseg", F.lag(F.col("__seg")).over(w))
    )
    new_run = F.when(
        F.col("__ptool").isNull()
        | (F.col("__ptool") != F.col(tool_col))
        | (F.col("__pseg") != F.col("__seg")),
        1,
    ).otherwise(0)
    runs = tl.withColumn("__run", F.sum(new_run).over(w))
    return (
        runs.groupBy(
            F.col(conv_col).alias("conv_id"),
            F.col("__run"),
            F.col(tool_col).alias("tool"),
        )
        .agg(
            F.min(turn_col).cast("long").alias("run_start"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
        .select("conv_id", "tool", "run_start", "run_len")
    )


def tool_latency(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    ts_col: str = "ts",
    order_by: Sequence[str] | None = None,
    caller_role: str = "assistant",
    result_role: str = "tool",
) -> DataFrame:
    """Per-tool call->result latency profile:
    ``(tool, n_pairs, mean_us, p50_us, p90_us, max_us)``.

    A pair is a ``result_role`` turn whose IMMEDIATELY preceding turn
    (in transcript order) is a ``caller_role`` turn naming the same
    tool — the adjacency the role-transition FSM already enforces, so
    unpaired results surface in ``tool_call_pairing``, not here.

    Shape: ONE window pass (lag of role/tool/ts over the conv key),
    then one map-side-combinable aggregation per tool.  Latencies stay
    exact integer MICROseconds end-to-end (no ms division — a
    double-divide would reopen the truncate-vs-round cast gap between
    engines); sums are order-free at any parallelism, the mean is the
    one fixed-order double division, and percentiles use Spark's exact
    ``percentile`` (rank = p*(n-1), linear interpolation — small
    per-tool groups make exact affordable; at extreme cardinality swap
    in approx_percentile)."""
    order_cols = list(order_by) if order_by else [turn_col]
    w = Window.partitionBy(conv_col).orderBy(*[F.col(c) for c in order_cols])
    # cast NTZ -> LTZ for unix_micros (sessions pin UTC, so the cast
    # is deterministic); exact integer microseconds end-to-end
    ts_ltz = F.col(ts_col).cast("timestamp_ltz")
    lat_us = F.unix_micros(ts_ltz) - F.unix_micros(F.lag(ts_ltz).over(w))
    pairs = (
        df.withColumn("__prole", F.lag(F.col(role_col)).over(w))
        .withColumn("__ptool", F.lag(F.col(tool_col)).over(w))
        .withColumn("__lat", lat_us)
        .filter(
            (F.col(role_col) == result_role)
            & (F.col("__prole") == caller_role)
            & (F.col("__ptool") == F.col(tool_col))
        )
    )
    return (
        pairs.groupBy(F.col(tool_col).alias("tool"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum("__lat").cast("double") / F.count(F.lit(1)), 3
            ).alias("mean_us"),
            F.round(F.expr("percentile(__lat, 0.5)"), 3).alias("p50_us"),
            F.round(F.expr("percentile(__lat, 0.9)"), 3).alias("p90_us"),
            F.max("__lat").alias("max_us"),
        )
    )
