"""Violation model: typed array<struct<path,info>> columns.

Mirrors the reference's flat accumulating error list
(``ValidateCtx.errors``, /root/reference/common.go:15-23) as a per-row
Spark column.  A row passes a compiled schema iff its violations array
is empty.  Message templates replicate the reference's exact strings
(e.g. "field is required" validator_base.go:508, "length must be less
or equal than N" validator_base.go:264) so violation rows are
byte-comparable where the semantics allow.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

VIOLATION_ARRAY_DDL = "array<struct<path:string,info:string>>"


def empty_violations() -> Column:
    """A typed empty violations array (the 'no error' value).  SQL text
    rather than ``F.array().cast(...)``: a plan holds one per keyword,
    and each Column method call costs a JVM round trip plus a call-site
    capture on the driver."""
    return F.expr(f"CAST(array() AS {VIOLATION_ARRAY_DDL})")


def violation(path: str | Column, info: str | Column) -> Column:
    """A single-violation array literal."""
    p = F.lit(path) if isinstance(path, str) else path
    i = F.lit(info) if isinstance(info, str) else info
    return F.array(F.struct(p.alias("path"), i.alias("info")))


def viol_when(fail: Column, path: str | Column, info: str | Column) -> Column:
    """violations := fail ? [{path, info}] : []."""
    return F.when(fail, violation(path, info)).otherwise(empty_violations())


def concat_violations(*arrays: Column) -> Column:
    """Ordered concatenation preserving the reference's keyword-order
    error accumulation (ArrProp.Validate, validator_core.go:278-285)."""
    arrays = [a for a in arrays if a is not None]
    if not arrays:
        return empty_violations()
    if len(arrays) == 1:
        return arrays[0]
    return F.concat(*arrays)


def go_num(v: float | int) -> str:
    """Format a schema-document number the way Go's
    strconv.FormatFloat(v, 'f', -1, 64) does (reference
    validator_base.go:391-399): shortest fixed notation, no trailing
    zeros, integers without a decimal point."""
    f = float(v)
    if f == int(f) and abs(f) < 1e16:
        return str(int(f))
    return repr(f)


def go_v(v) -> str:
    """Approximate Go fmt '%v' for schema-document literals, used in
    messages like "value is invalid , shoule be one of [a b c]"
    (validator_base.go:477 — typo preserved from the reference)."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e16:
            return str(int(v))
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + " ".join(go_v(x) for x in v) + "]"
    if isinstance(v, dict):
        return "map[" + " ".join(f"{go_v(k)}:{go_v(x)}" for k, x in sorted(v.items())) + "]"
    if v is None:
        return "<nil>"
    return str(v)
