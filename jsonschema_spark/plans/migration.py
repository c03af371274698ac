"""Schema-migration impact analysis.

When a constraint document is tightened (a new ``required`` field, a
narrowed ``enum``, a lower ``maximum``), the operational question is:
which rows that are clean under the CURRENT schema become violations
under the NEW one?  The reference answers this one document at a time
(re-run ``Validate`` with the new schema, seeadoog/jsonschema
schema.go:121-138); over a 10^12-turn table the answer must come from
one pass.

``migration_impact`` compiles BOTH documents and evaluates both
violation arrays in ONE codegen projection over ONE scan — no second
read of the fact table, no join between "old verdicts" and "new
verdicts".  A row is *newly violating* iff its old-violations array is
empty and its new-violations array is not.

Scale shape: map-only (scan → fused Project → filter → explode); the
summary variant adds one partial-aggregable groupBy on the violation
path — shuffle payload = distinct (path, info) pairs, not rows.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .compiler import CompiledSchema, SchemaError, compile_schema

_GATE_SEQ = itertools.count()


def _plans(
    old_doc: dict | CompiledSchema, new_doc: dict | CompiledSchema
) -> tuple[CompiledSchema, CompiledSchema]:
    old = old_doc if isinstance(old_doc, CompiledSchema) else compile_schema(old_doc)
    new = new_doc if isinstance(new_doc, CompiledSchema) else compile_schema(new_doc)
    return old, new


def migration_impact(
    df: DataFrame,
    old_doc: dict | CompiledSchema,
    new_doc: dict | CompiledSchema,
    keys: list[str] | None = None,
) -> DataFrame:
    """Rows clean under ``old_doc`` that violate ``new_doc``:
    ``(keys..., path, info)`` — one exploded row per NEW violation on
    each newly-violating row.

    Rows already violating the old schema are excluded: they are not
    migration regressions, they are pre-existing dirt (fix them via
    the normal ``validate`` path).  Both violation arrays evaluate in
    the same fused projection, so the fact table is scanned once.
    """
    old, new = _plans(old_doc, new_doc)
    key_cols = keys or []
    ann = df.select(
        *key_cols,
        old.violations_col(df).alias("__old_v"),
        new.violations_col(df).alias("__new_v"),
    )
    hit = ann.where(
        (F.size("__old_v") == 0) & (F.size("__new_v") > 0)
    )
    return hit.select(
        *key_cols,
        F.explode("__new_v").alias("__v"),
    ).select(
        *key_cols,
        F.col("__v.path").alias("path"),
        F.col("__v.info").alias("info"),
    )


def migration_impact_json(
    df: DataFrame,
    old_doc: dict | CompiledSchema,
    new_doc: dict | CompiledSchema,
    json_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """``migration_impact`` over a dynamic JSON *string* column — the
    reference's actual input domain (schema.go:121-138), migrated at
    corpus scale: the document is parsed ONCE into a ``VariantType``
    value and BOTH compiled rule sets evaluate against that single
    parse, sharing one shred (core.variant.Shred) — a path both schemas
    reference is extracted and classified once per row for both, not
    once per plan.

    Variant mode only: the static path infers a per-document struct
    from each schema, so two documents would mean two different
    parses — exactly the double scan this function exists to avoid.

    Malformed documents violate BOTH rule sets (the reference fails
    the decode before any rule runs), so they land in "already
    violating" and are correctly excluded from the migration's newly
    violating rows.

    Scale shape: scan → parse → shred (extract, classify) → one fused
    violations projection → CollectMetrics gate (pushdown barrier: a predicate
    crossing it would re-evaluate the parse per keyword branch) →
    filter → explode.  One scan, one parse, no shuffle.
    """
    from ..core.errors import violation

    old, new = _plans(old_doc, new_doc)
    for plan in (old, new):
        if plan._json_mode(None) != "variant":
            raise SchemaError(
                "migration_impact_json requires variant json_types "
                "(static mode would parse twice)"
            )
    key_cols = keys or []

    def both(root, malformed) -> list[dict[str, Column]]:
        return [{
            name: F.when(malformed, violation("$", "invalid json document")).otherwise(
                plan.node.violations(root)
            )
            for name, plan in (("__old_v", old), ("__new_v", new))
        }]

    ann = (
        new._over_shred(df, json_col, both)
        .select(*key_cols, "__old_v", "__new_v")
        # same pushdown barrier as ValidationResult._gate: without it
        # the size() filter is substituted below the projection and
        # the parse re-evaluates once per keyword branch
        .observe(
            f"jsonschema_migration_gate_{next(_GATE_SEQ)}",
            F.count(F.lit(1)).alias("rows_validated"),
        )
    )
    hit = ann.where((F.size("__old_v") == 0) & (F.size("__new_v") > 0))
    return hit.select(*key_cols, F.explode("__new_v").alias("__v")).select(
        *key_cols,
        F.col("__v.path").alias("path"),
        F.col("__v.info").alias("info"),
    )


def migration_summary(
    df: DataFrame,
    old_doc: dict | CompiledSchema,
    new_doc: dict | CompiledSchema,
) -> DataFrame:
    """Aggregate impact of the migration in one pass:
    ``(path, info, newly_violating, already_violating)`` — per
    violation site, how many rows the NEW schema newly rejects vs how
    many were already rejected by the OLD one (same (path, info) may
    appear in both when a keyword was tightened in place).

    The groupBy is partially aggregable (map-side combine); its
    shuffle carries distinct violation sites, not rows.
    """
    old, new = _plans(old_doc, new_doc)
    ann = df.select(
        old.violations_col(df).alias("__old_v"),
        new.violations_col(df).alias("__new_v"),
    )
    exploded = ann.where(F.size("__new_v") > 0).select(
        (F.size("__old_v") == 0).alias("__was_clean"),
        F.explode("__new_v").alias("__v"),
    )
    return (
        exploded.groupBy(
            F.col("__v.path").alias("path"),
            F.col("__v.info").alias("info"),
        )
        .agg(
            F.sum(F.when(F.col("__was_clean"), 1).otherwise(0))
            .cast("long")
            .alias("newly_violating"),
            F.sum(F.when(~F.col("__was_clean"), 1).otherwise(0))
            .cast("long")
            .alias("already_violating"),
        )
    )
