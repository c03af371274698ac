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

Scale notes (100 TB): the window shuffles once on ``conv_id``;
conversations are bounded-length so the per-key payload is small even
for hot keys.
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
