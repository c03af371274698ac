"""Cross-type coercion as Column expressions.

Replicates the reference's StringOf / NumberOf / BoolOf / Equal tables
(/root/reference/common.go:71-154) columnar-side.  These drive coercing
`enum`, `const`, `eq`/`keyMatch` and the `switch` dispatch semantics.

Known reference bug intentionally FIXED here (documented divergence,
SURVEY.md §7.4): NumberOf("123") returns 0 in the reference because the
error check is inverted (common.go:102-110).  We parse numeric strings
properly; tests record the divergence.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_integral(dt: T.DataType) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


def string_of(col: Column, dtype: T.DataType | None) -> Column:
    """StringOf (common.go:71-91): bool -> "true"/"false",
    float -> shortest fixed form (FormatFloat 'f' -1), nil -> ""."""
    if isinstance(dtype, T.VariantType):
        from .variant import variant_string_of

        return variant_string_of(col)
    if dtype is None or isinstance(dtype, T.StringType):
        return F.coalesce(col, F.lit(""))
    if isinstance(dtype, T.BooleanType):
        return F.coalesce(F.when(col, F.lit("true")).otherwise(F.lit("false")), F.lit(""))
    if _is_integral(dtype):
        return F.coalesce(col.cast("string"), F.lit(""))
    if _is_numeric(dtype):
        # shortest form: integral doubles print without ".0"; NaN, the
        # infinities and magnitudes past a long do not fit one (try_cast:
        # an ANSI cast would raise)
        as_long = col.try_cast("long")
        return F.coalesce(
            F.when(col == as_long.cast("double"), as_long.cast("string")).otherwise(
                col.cast("string")
            ),
            F.lit(""),
        )
    if isinstance(dtype, (T.TimestampType, T.DateType)):
        return F.coalesce(col.cast("string"), F.lit(""))
    if isinstance(dtype, T.BinaryType):
        # Go StringOf([]byte) is the raw bytes as a string (utils.go)
        return F.coalesce(col.cast("string"), F.lit(""))
    return F.coalesce(F.to_json(col), F.lit(""))


def number_of(col: Column, dtype: T.DataType | None) -> Column:
    """NumberOf (common.go:93-112), with the string-parse bug fixed:
    numeric strings parse to their value, "true" -> 1, junk -> 0."""
    if isinstance(dtype, T.VariantType):
        from .variant import variant_number_of

        return variant_number_of(col)
    if dtype is not None and _is_numeric(dtype):
        return F.coalesce(col.cast("double"), F.lit(0.0))
    if isinstance(dtype, T.BooleanType):
        return F.coalesce(F.when(col, F.lit(1.0)).otherwise(F.lit(0.0)), F.lit(0.0))
    s = col.cast("string")
    return F.coalesce(
        s.try_cast("double"),
        F.when(s == "true", F.lit(1.0)).otherwise(F.lit(0.0)),
        F.lit(0.0),
    )


def bool_of(col: Column, dtype: T.DataType | None) -> Column:
    """BoolOf (common.go:114-129): number > 0, string == "true"."""
    if isinstance(dtype, T.VariantType):
        from .variant import variant_bool_of

        return variant_bool_of(col)
    if isinstance(dtype, T.BooleanType):
        return F.coalesce(col, F.lit(False))
    if dtype is not None and _is_numeric(dtype):
        return F.coalesce(col > 0, F.lit(False))
    if dtype is None or isinstance(dtype, T.StringType):
        return F.coalesce(col.cast("string") == "true", F.lit(False))
    return F.lit(False)


def coercing_equal(
    lhs: Column, lhs_dtype: T.DataType | None, rhs: Column, rhs_dtype: T.DataType | None
) -> Column:
    """Equal (common.go:142-154): coercion keyed on the LHS runtime
    type — string LHS compares stringified, bool LHS compares
    boolified, number LHS compares numerically."""
    if isinstance(lhs_dtype, T.VariantType):
        # runtime LHS dispatch: the static table below, per row
        from .variant import KIND_BOOL, KIND_NUMBER, variant_kind

        k = variant_kind(lhs)
        return (
            F.when(k == KIND_NUMBER, number_of(lhs, lhs_dtype) == number_of(rhs, rhs_dtype))
            .when(k == KIND_BOOL, bool_of(lhs, lhs_dtype) == bool_of(rhs, rhs_dtype))
            .otherwise(string_of(lhs, lhs_dtype) == string_of(rhs, rhs_dtype))
        )
    if lhs_dtype is not None and _is_numeric(lhs_dtype):
        return number_of(lhs, lhs_dtype) == number_of(rhs, rhs_dtype)
    if isinstance(lhs_dtype, T.BooleanType):
        return bool_of(lhs, lhs_dtype) == bool_of(rhs, rhs_dtype)
    return string_of(lhs, lhs_dtype) == string_of(rhs, rhs_dtype)


def coerce_literal_for(dtype: T.DataType | None, value):
    """Driver-side: coerce a schema-document literal so it compares
    against a column of `dtype` under reference Equal semantics.
    Returns the python literal to embed via F.lit."""
    if dtype is not None and _is_numeric(dtype):
        if isinstance(value, bool):
            return 1.0 if value else 0.0
        if isinstance(value, (int, float)):
            return float(value)
        if isinstance(value, str):
            try:
                return float(value)
            except ValueError:
                return 1.0 if value == "true" else 0.0
        return 0.0
    if isinstance(dtype, T.BooleanType):
        if isinstance(value, bool):
            return value
        if isinstance(value, (int, float)):
            return value > 0
        return value == "true"
    # string-ish LHS: StringOf the literal
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return str(int(value)) if value == int(value) else repr(value)
    if isinstance(value, int):
        return str(value)
    if value is None:
        return ""
    return str(value)
