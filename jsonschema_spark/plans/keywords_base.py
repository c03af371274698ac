"""Assertion keywords (reference validator_base.go / validator_core.go
/ validator_strings.go / validator_properties.go), compiled to pure
Column expressions — no per-row Python anywhere.

Null semantics replicate the reference's null-skip fast paths
(validator_base.go:180-183, 461-463): a null/missing value passes every
check except `required` (and the Compare-map forms, which see Go zero
values — compare.go:23-27).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.coerce import coerce_literal_for, string_of
from ..core.errors import (
    empty_violations,
    go_num,
    go_v,
    viol_when,
    violation,
)
from ..core.refs import ValueRef, resolve
from ..functions.values import parse_value
from .compiler import (
    CondRule,
    FnRule,
    Rule,
    SchemaError,
    TargetsRule,
    _never,
    or_all,
    register_keyword,
)
from .formats import compile_format


def _skip_null(ref: ValueRef, v: Column) -> Column:
    if not ref.exists:
        return empty_violations()
    return F.when(ref.null(), empty_violations()).otherwise(v)


def _is_numeric(dt) -> bool:
    return isinstance(dt, T.NumericType)


def _is_integral(dt) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def _type_names(dt) -> set[str]:
    """Static classification of a Spark dtype into the reference's
    runtime type universe (typeOf, type.go:3-20)."""
    if isinstance(dt, T.StringType):
        return {"string"}
    if isinstance(dt, T.BooleanType):
        return {"boolean", "bool"}
    if _is_integral(dt):
        return {"number", "integer"}
    if _is_numeric(dt):
        return {"number"}  # integer needs runtime frac check
    if isinstance(dt, T.ArrayType):
        return {"array"}
    if isinstance(dt, (T.StructType, T.MapType)):
        return {"object"}
    if isinstance(dt, (T.TimestampType, T.DateType)):
        # reference carries time as RFC3339 strings (funcs.go:245-247)
        return {"string"}
    return set()


# --------------------------------------------------------------- type

@register_keyword("type")
def kw_type(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, str):
        raise SchemaError(f"value of 'type' must be string! path:{path}")
    wanted = [t.strip() for t in operand.split("|")]
    union = len(wanted) > 1

    def satisfied(dt) -> bool:
        """Whether every value of static type ``dt`` has a wanted type."""
        return "any" in wanted or any(w in _type_names(dt) for w in wanted)

    def build(ref: ValueRef):
        dt = ref.dtype
        if satisfied(dt):
            return None
        if isinstance(dt, T.VariantType):
            return _type_variant(ref, wanted, union, operand)
        if "integer" in wanted and _is_numeric(dt):
            # the only wanted type a non-integral number can have
            ok = ref.col == F.floor(ref.col)
        else:
            ok = F.lit(False)

        def info():
            if union:
                return F.lit(f"type should be one of {operand}")
            if wanted[0] == "integer" and _is_numeric(dt) and not _is_integral(dt):
                return F.concat(
                    F.lit("type should be integer, but float:"), string_of(ref.col, dt)
                )
            given = dt.simpleString() if dt is not None else "null"
            return F.lit(f"Invalid type, expected: {wanted[0]} , given: {given}")

        return ~ok, info

    def over_array(rule, ref: ValueRef):
        return _never() if satisfied(ref.dtype.elementType) else None

    return CondRule(build, over_array=over_array)


def _type_variant(ref: ValueRef, wanted, union, operand):
    """Runtime type dispatch on a Variant value — the exact typeOf
    switch (type.go:3-20) with reflect.TypeOf 'given:' labels
    (validator_base.go:44-160); a CondRule build result."""
    from ..core.variant import (
        KIND_ARRAY,
        KIND_BOOL,
        KIND_NUMBER,
        KIND_OBJECT,
        KIND_STRING,
    )

    kind = ref.v_kind()

    def ok_of(w: str) -> Column:
        if w == "string":
            return kind == KIND_STRING
        if w in ("bool", "boolean"):
            return kind == KIND_BOOL
        if w == "number":
            return kind == KIND_NUMBER
        if w == "integer":
            # float64 with zero fraction passes (validator_base.go:95-101)
            d = ref.v_double()
            return (kind == KIND_NUMBER) & (d == F.floor(d))
        if w == "object":
            return kind == KIND_OBJECT
        if w == "array":
            return kind == KIND_ARRAY
        return F.lit(False)  # lower/upper/unknown: parity with static path

    ok = ok_of(wanted[0])
    for w in wanted[1:]:
        ok = ok | ok_of(w)

    def info():
        if union:
            return F.lit(f"type should be one of {operand}")
        if wanted[0] == "integer":
            return F.when(
                kind == KIND_NUMBER,
                F.concat(
                    F.lit("type should be integer, but float:"),
                    ref.str_of(),
                ),
            ).otherwise(
                F.concat(
                    F.lit("Invalid type, expected: integer , given: "),
                    ref.go_label(),
                )
            )
        return F.concat(
            F.lit(f"Invalid type, expected: {wanted[0]} , given: "),
            ref.go_label(),
        )

    return ~ok, info


# ------------------------------------------------------- length bounds

def _length_of(ref: ValueRef) -> Column | None:
    dt = ref.dtype
    if isinstance(dt, T.VariantType):
        # runtime dispatch (MaxLength.Validate switches on string/array,
        # validator_base.go:257-275); NULL on other kinds -> no check
        from ..core.variant import nn_size

        return F.coalesce(
            F.octet_length(ref.v_string()),
            nn_size(ref.v_array()),
        )
    if isinstance(dt, T.ArrayType):
        return F.size(ref.col)
    if isinstance(dt, T.StringType) or dt is None:
        # Go len(string) is bytes (validator_base.go:258-264)
        return F.octet_length(ref.col.cast("string"))
    return None


@register_keyword("maxLength")
def kw_max_length(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "maxLength", path)

    def build(ref: ValueRef):
        ln = _length_of(ref)
        if ln is None:
            return None
        return ln > n, lambda: f"length must be less or equal than {n}"

    return CondRule(build)


@register_keyword("minLength")
def kw_min_length(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minLength", path)

    def build(ref: ValueRef):
        ln = _length_of(ref)
        if ln is None:
            return None
        return ln < n, lambda: f"length must be larger or equal than {n}"

    return CondRule(build)


def _int_operand(operand, kw, path) -> int:
    if isinstance(operand, bool) or not isinstance(operand, (int, float)):
        raise SchemaError(f"value of '{kw}' must be int: path:{path}")
    if operand < 0:
        raise SchemaError(f"value of '{kw}' must be >=0, path:{path}")
    return int(operand)


# ------------------------------------------------------ numeric bounds

def _num_operand(operand, kw, path) -> float:
    if isinstance(operand, bool) or not isinstance(operand, (int, float)):
        raise SchemaError(f"value of '{kw}' must be number, path:{path}")
    return float(operand)


def _numeric_value(ref: ValueRef) -> Column | None:
    """Numeric view of the current value; None when statically
    non-numeric (bounds skip, as the reference skips non-float64)."""
    dt = ref.dtype
    if isinstance(dt, T.VariantType):
        # strict: JSON numbers only, exactly valueOfFloat
        # (validator_base.go:405-425) — no string/bool coercion
        return ref.v_double()
    if _is_numeric(dt):
        return ref.col.cast("double")
    if isinstance(dt, (T.TimestampType, T.DateType)):
        return ref.col.cast("timestamp").cast("double")
    if isinstance(dt, T.StringType) or dt is None:
        return ref.col.cast("string").try_cast("double")
    return None


def _extreme(pick):
    """Whole-array form of a numeric bound: the rule's own ``fails`` on
    the one element that fails if any does — ``pick`` is
    ``array_max`` for an upper bound, ``array_min`` for a lower one.
    Both skip NULL elements, as the element rule does, and order NaN
    above every number, as the comparison does."""

    def over_array(rule, ref: ValueRef):
        dt = ref.dtype.elementType
        if not _is_numeric(dt):
            return None
        return rule.fails(ValueRef(pick(ref.col), dt, f"{ref.path}[*]"))

    return over_array


@register_keyword("maximum")
def kw_maximum(operand, path, siblings, ctx) -> Rule:
    v = _num_operand(operand, "maximum", path)
    # sibling bool exclusiveMaximum folds into a strict bound
    # (validator_base.go:365-375)
    exclusive = siblings.get("exclusiveMaximum") is True

    def build(ref: ValueRef):
        c = _numeric_value(ref)
        if c is None:
            return None
        if exclusive:
            return ~(c < v), lambda: f"value must be  < {go_num(v)}", c.isNull()
        return ~(c <= v), lambda: f"value must be <= than {go_num(v)}", c.isNull()

    return CondRule(build, over_array=_extreme(F.array_max))


@register_keyword("minimum")
def kw_minimum(operand, path, siblings, ctx) -> Rule:
    v = _num_operand(operand, "minimum", path)
    exclusive = siblings.get("exclusiveMinimum") is True

    def build(ref: ValueRef):
        c = _numeric_value(ref)
        if c is None:
            return None
        if exclusive:
            return ~(c > v), lambda: f"value must be larger than {go_num(v)}", c.isNull()
        return ~(c >= v), lambda: f"value must be larger or equal than {go_num(v)}", c.isNull()

    return CondRule(build, over_array=_extreme(F.array_min))


@register_keyword("exclusiveMaximum")
def kw_exclusive_maximum(operand, path, siblings, ctx) -> Rule | None:
    # bool form: modifier consumed by sibling maximum
    # (validator_core.go:887-951 3-state status)
    if isinstance(operand, bool):
        return None
    v = _num_operand(operand, "exclusiveMaximum", path)

    def build(ref: ValueRef):
        c = _numeric_value(ref)
        if c is None:
            return None
        return ~(c < v), lambda: f"value should be < {go_v(operand)}", c.isNull()

    return CondRule(build)


@register_keyword("exclusiveMinimum")
def kw_exclusive_minimum(operand, path, siblings, ctx) -> Rule | None:
    if isinstance(operand, bool):
        return None
    v = _num_operand(operand, "exclusiveMinimum", path)

    def build(ref: ValueRef):
        c = _numeric_value(ref)
        if c is None:
            return None
        return ~(c > v), lambda: f"value should be > {go_v(operand)}", c.isNull()

    return CondRule(build)


@register_keyword("multipleOf")
def kw_multiple_of(operand, path, siblings, ctx) -> Rule:
    m = _num_operand(operand, "multipleOf", path)
    if m == 0:
        raise SchemaError(f"multipleOf must not be 0, path:{path}")

    def build(ref: ValueRef):
        c = _numeric_value(ref)
        if c is None:
            return None
        q = c / m
        return q != F.floor(q), lambda: F.concat(
            F.lit(f"value must be multipleOf {go_num(m)},but:"),
            string_of(c, T.DoubleType()),
            F.lit(", divide:"),
            string_of(q, T.DoubleType()),
        ), c.isNull()

    return CondRule(build)


# -------------------------------------------------------- enum / const

# arrays up to this length are tested element by element
# (try_element_at) by the value-set forms of ``_unrolled``
UNROLL = 4


def _unrolled(rule: Rule, ref: ValueRef, longer: Column) -> Column:
    """Whether ``rule`` fails on some element of the typed array
    ``ref``, without a lambda: arrays of up to UNROLL elements test each
    element with ``rule.fails`` itself (an index past the end reads
    NULL, which passes every null-skipping rule), longer ones take
    ``longer``, the caller's whole-array form of the same test."""
    n = F.size(ref.col)
    each = or_all([rule.fails(ref.index(i)) for i in range(UNROLL)])
    return F.coalesce(F.when(n <= UNROLL, each).otherwise(longer), _never())


def _member_rule(members, msg: str, variant=None) -> Rule:
    """enum/const: a value passes iff its coerced view is one of a
    literal set.  ``members(dt)`` gives, for a static dtype, the
    ``ValueRef`` view method the literals compare on (``num_of``,
    ``bool_of`` or ``str_of``) and the literals coerced to it;
    ``variant(ref)``, when given, is the runtime-kind form for variant
    refs.

    The whole-array form, over string, integral or boolean elements, is
    a value-set test: short arrays unrolled (``_unrolled``), longer ones
    by ``array_except`` of the literal set (and NULL, as NULL elements
    pass) from the array cast to the view's type — for these element
    types that cast is exactly the view."""

    def build(ref: ValueRef):
        if variant is not None and isinstance(ref.dtype, T.VariantType):
            return ~variant(ref), lambda: msg
        view, lits = members(ref.dtype)
        return ~getattr(ref, view)().isin(lits), lambda: msg

    def over_array(rule, ref: ValueRef):
        dt = ref.dtype.elementType
        if not (isinstance(dt, (T.StringType, T.BooleanType)) or _is_integral(dt)):
            return None
        view, lits = members(dt)
        if any(x != x for x in lits):  # NaN: array_except and IN disagree
            return None
        # -0.0 + 0.0 is 0.0: the set holds one zero, as IN compares
        vals = [x + 0.0 if isinstance(x, float) else x for x in lits]
        vdt = _VIEW_TYPES[view]
        arr = ref.col if dt == vdt else ref.col.cast(T.ArrayType(vdt))
        rest = F.array_except(arr, F.array(*[F.lit(x) for x in vals], F.lit(None)))
        return _unrolled(rule, ref, F.size(rest) > 0)

    return CondRule(build, over_array=over_array)


_VIEW_TYPES = {"num_of": T.DoubleType(), "bool_of": T.BooleanType(), "str_of": T.StringType()}


def _enum_rule(operand, path, keyword) -> Rule:
    if not isinstance(operand, list) or not operand:
        raise SchemaError(f"value of '{keyword}' must be non-empty array, path:{path}")
    msg = f"value is invalid , shoule be one of {go_v(operand)}"  # sic (validator_base.go:477)

    # coercing Equal keyed on LHS type (common.go:142-154)
    def members(dt):
        lits = [coerce_literal_for(dt, v) for v in operand]
        if dt is not None and _is_numeric(dt):
            return "num_of", [float(x) for x in lits]
        if isinstance(dt, T.BooleanType):
            return "bool_of", [bool(x) for x in lits]
        return "str_of", [str(x) for x in lits]

    nums = [float(coerce_literal_for(T.DoubleType(), v)) for v in operand]
    bools = [bool(coerce_literal_for(T.BooleanType(), v)) for v in operand]
    strs = [str(coerce_literal_for(T.StringType(), v)) for v in operand]

    def variant(ref: ValueRef) -> Column:
        # runtime LHS kind picks the comparison family per row
        from ..core.variant import KIND_BOOL, KIND_NUMBER

        k = ref.v_kind()
        return (
            F.when(k == KIND_NUMBER, ref.num_of().isin(nums))
            .when(k == KIND_BOOL, ref.bool_of().isin(bools))
            .otherwise(ref.str_of().isin(strs))
        )

    return _member_rule(members, msg, variant)


@register_keyword("enum")
def kw_enum(operand, path, siblings, ctx) -> Rule:
    return _enum_rule(operand, path, "enum")


@register_keyword("enums")
def kw_enums(operand, path, siblings, ctx) -> Rule:
    return _enum_rule(operand, path, "enums")


@register_keyword("const")
def kw_const(operand, path, siblings, ctx) -> Rule:
    # const compares stringified (validator_base.go:762-782)
    sv = coerce_literal_for(T.StringType(), operand)
    return _member_rule(lambda dt: ("str_of", [sv]), f"value is invalid , expected: {sv}")


# ------------------------------------------------------------ required

@register_keyword("required")
def kw_required(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, list):
        raise SchemaError(f"value of 'required' must be array, path:{path}")
    keys = []
    for k in operand:
        if not isinstance(k, str):
            raise SchemaError(f"value of 'required item' must be string: {k}")
        keys.append(k)
    # build-time cross-check against sibling properties when
    # additionalProperties is disabled (validator_base.go:565-584)
    props = siblings.get("properties") or siblings.get("props")
    if props is not None and siblings.get("additionalProperties") is False:
        for k in keys:
            if k not in props:
                raise SchemaError(
                    f"required '{k}' is not defined in properties when "
                    f"additionalProperties is not enabled! path:{path}"
                )

    def absent(ref: ValueRef):
        """(child ref, absence condition) per required key."""
        out = []
        for k in keys:
            child = ref.child(k)
            if not child.exists:
                out.append((child, F.lit(True)))
            elif isinstance(child.dtype, T.VariantType):
                # exact m[key] presence (validator_base.go:500-512):
                # a present key holding JSON null is NOT missing
                out.append((child, child.missing()))
            else:
                out.append((child, child.null()))
        return out

    def fn(ref: ValueRef) -> Column:
        from ..core.errors import concat_violations

        out = concat_violations(*[
            violation(child.path, "field is required") if not child.exists
            else viol_when(cond, child.path, "field is required")
            for child, cond in absent(ref)
        ])
        if isinstance(ref.dtype, T.VariantType):
            # non-object value: reference skips entirely
            # (value.(map[string]interface{}) guard)
            out = F.when(~ref.is_object(), empty_violations()).otherwise(out)
        return out

    def fails(ref: ValueRef) -> Column:
        out = or_all([cond for _, cond in absent(ref)])
        if isinstance(ref.dtype, T.VariantType):
            out = ref.is_object() & out
        return out

    return FnRule(fn, fails)


# ------------------------------------------------------------- pattern

@register_keyword("pattern")
def kw_pattern(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, str):
        raise SchemaError(f"value of 'pattern' must be string, path:{path}")
    import re as _re

    try:
        _re.compile(operand)  # compile-once check (validator_strings.go:27-37)
    except _re.error as e:
        raise SchemaError(f"invalid pattern at {path}: {e}") from e

    def build(ref: ValueRef):
        dt = ref.dtype
        if isinstance(dt, T.VariantType):
            # strict view: non-strings are NULL -> check skips, exactly
            # the value.(string) guard (validator_strings.go:14-18)
            s = ref.v_string()
        elif dt is not None and not isinstance(dt, T.StringType):
            return None
        else:
            s = ref.col.cast("string")
        return ~s.rlike(operand), lambda: F.concat(
            s, F.lit(" ,value does not match pattern: "), F.lit(operand)
        )

    return CondRule(build)


# --------------------------------------------------------------- items

@register_keyword("items")
def kw_items(operand, path, siblings, ctx) -> Rule:
    sub = ctx.compile_node(operand, path + "[*]")

    def fn(ref: ValueRef) -> Column:
        if isinstance(ref.dtype, T.VariantType):
            aref = _variant_array_ref(ref)
            per_elem = F.transform(aref.col, lambda x: sub.violations(aref.element(x)))
            # non-array at runtime: view is NULL -> transform NULL -> skip
            return _skip_null(ref, F.coalesce(F.flatten(per_elem), empty_violations()))
        if not isinstance(ref.dtype, T.ArrayType):
            return empty_violations()
        per_elem = F.transform(ref.col, lambda x: sub.violations(ref.element(x)))
        return _skip_null(ref, F.flatten(per_elem))

    def fails(ref: ValueRef) -> Column:
        never = _never()
        if not ref.exists:
            return never
        if isinstance(ref.dtype, T.VariantType):
            aref = _variant_array_ref(ref)
            some = F.exists(aref.col, lambda x: sub.fails(aref.element(x)))
            return ~ref.null() & F.coalesce(some, never)
        if not isinstance(ref.dtype, T.ArrayType):
            return never
        # exists distributes over the item node's OR of keywords: each
        # keyword's whole-array form where it has one, one exists over
        # the keywords that have none
        forms, per_elem = [], []
        for _, rule in sub.rules:
            form = rule.any_fails(ref)
            if form is None:
                per_elem.append(rule)
            else:
                forms.append(form)
        if per_elem:
            some = F.exists(ref.col, lambda x: or_all([r.fails(ref.element(x)) for r in per_elem]))
            forms.append(F.coalesce(some, never))
        some = or_all(forms)
        return never if some is never else ~ref.null() & some

    return FnRule(fn, fails)


def _variant_array_ref(ref: ValueRef) -> ValueRef:
    """array<variant> view of a variant ref (NULL when not an array)."""
    from dataclasses import replace as _replace

    return _replace(ref.with_col(ref.v_array()), dtype=T.ArrayType(T.VariantType()))


_NOT_COMPARABLE = " items should be comparable type,like [ string boolean number ]"
_NOT_UNIQUE = " items should be unique"


@register_keyword("uniqueItems")
def kw_unique_items(operand, path, siblings, ctx) -> Rule | None:
    if not isinstance(operand, bool):
        raise SchemaError(f"{path} uniqueItems value should be boolean")
    if not operand:
        return None

    def build(ref: ValueRef):
        dt = ref.dtype
        if isinstance(dt, T.VariantType):
            # per-element runtime comparability (Go map-key interface
            # identity: same dynamic type AND value,
            # validator_core.go:787-799).  Dup detection tags each
            # element kind|canonical-string so 1 != "1" != true.
            from ..core.variant import KIND_ARRAY, KIND_OBJECT, variant_kind
            from ..core.variant import variant_string_of as _vso

            arr = _variant_array_ref(ref).col  # NULL for a non-array: skip
            kinds = F.transform(arr, lambda x: variant_kind(x))
            has_container = F.exists(
                kinds, lambda k: k.isin(KIND_OBJECT, KIND_ARRAY)
            )
            tags = F.transform(
                arr, lambda x: F.concat_ws("|", variant_kind(x), _vso(x))
            )
            dup = F.size(F.array_distinct(tags)) != F.size(tags)
            return (
                arr.isNotNull() & (has_container | dup),
                lambda: F.when(has_container, F.lit(_NOT_COMPARABLE)).otherwise(
                    F.lit(_NOT_UNIQUE)
                ),
            )
        if not isinstance(dt, T.ArrayType):
            return None
        if not isinstance(
            dt.elementType, (T.StringType, T.BooleanType, T.NumericType)
        ):
            return F.lit(True), lambda: _NOT_COMPARABLE
        fail = F.size(F.array_distinct(ref.col)) != F.size(ref.col)
        return fail, lambda: _NOT_UNIQUE

    return CondRule(build)


def _item_count(ref: ValueRef) -> Column | None:
    """Element count of an array value; None when statically not an
    array."""
    if isinstance(ref.dtype, T.VariantType):
        from ..core.variant import nn_size

        return nn_size(_variant_array_ref(ref).col)  # NULL unless array
    if isinstance(ref.dtype, T.ArrayType):
        return F.size(ref.col)
    return None


@register_keyword("maxItems")
def kw_max_items(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "maxItems", path)

    def build(ref: ValueRef):
        sz = _item_count(ref)
        if sz is None:
            return None
        return sz > n, lambda: f" max length is {n}"

    return CondRule(build)


@register_keyword("minItems")
def kw_min_items(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minItems", path)

    def build(ref: ValueRef):
        sz = _item_count(ref)
        if sz is None:
            return None
        return sz < n, lambda: f" min length is {n}"

    return CondRule(build)


# --------------------------------------------- object key-count bounds

@register_keyword("minProperties")
def kw_min_properties(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minProperties", path)

    def build(ref: ValueRef):
        cnt = _prop_count(ref)
        if cnt is None:
            return None
        return cnt < n, lambda: f"min properties is : {n}"

    return CondRule(build)


@register_keyword("maxProperties")
def kw_max_properties(operand, path, siblings, ctx) -> Rule:
    """Reference bug (validator_properties.go:86-89): NewMaxProperties
    returns a MinProperties, so `maxProperties` acts as a minimum.
    We implement the CORRECT maximum semantics — documented divergence
    (SURVEY §7.4)."""
    n = _int_operand(operand, "maxProperties", path)

    def build(ref: ValueRef):
        cnt = _prop_count(ref)
        if cnt is None:
            return None
        return cnt > n, lambda: f"max properties is :{n}"

    return CondRule(build)


def _prop_count(ref: ValueRef) -> Column | None:
    dt = ref.dtype
    if isinstance(dt, T.VariantType):
        # objects AND arrays count (validator_properties.go:29-35);
        # NULL on scalars -> check skips
        from ..core.variant import nn_size

        return F.coalesce(
            nn_size(ref.v_object()), nn_size(ref.v_array())
        )
    if isinstance(dt, T.MapType):
        return F.size(ref.col)
    if isinstance(dt, T.StructType):
        nn = [F.when(ref.col.getField(f.name).isNotNull(), 1).otherwise(0) for f in dt.fields]
        if not nn:  # a struct without fields holds no keys
            return F.lit(0)
        out = nn[0]
        for c in nn[1:]:
            out = out + c
        return out
    if isinstance(dt, T.ArrayType):
        # the reference also counts arrays (validator_properties.go:29-35)
        return F.size(ref.col)
    return None


# -------------------------------------------------------- base64 bounds

@register_keyword("maxB64DLen")
def kw_max_b64(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "maxB64DLen", path)

    def build(ref: ValueRef):
        dlen = _b64_decoded_len(ref)
        if dlen is None:
            return None
        return dlen > n, lambda: f"length is invalid, max length is  {n}"

    return CondRule(build)


@register_keyword("minB64DLen")
def kw_min_b64(operand, path, siblings, ctx) -> Rule:
    n = _int_operand(operand, "minB64DLen", path)

    def build(ref: ValueRef):
        dlen = _b64_decoded_len(ref)
        if dlen is None:
            return None
        return dlen < n, lambda: f"length is invalid ,min length is  {n}"

    return CondRule(build)


def _b64_decoded_len(ref: ValueRef) -> Column | None:
    """Go base64.StdEncoding.DecodedLen = len/4*3
    (validator_base.go:692-760) of a string value; None when statically
    non-string."""
    s = _string_view(ref)
    if s is None:
        return None
    return F.floor(F.octet_length(s) / 4) * 3


def _string_view(ref: ValueRef) -> Column | None:
    """String-kind view for string-only keywords: the column itself
    for static strings, the strict runtime view for variants (NULL on
    non-strings -> check skips), None for statically non-string."""
    if isinstance(ref.dtype, T.VariantType):
        return ref.v_string()
    if ref.dtype is not None and not isinstance(ref.dtype, T.StringType):
        return None
    return ref.col.cast("string")


# --------------------------------------------------------------- format

@register_keyword("format")
def kw_format(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, str):
        raise SchemaError(f"value of 'format' must be string, path:{path}")
    check = compile_format(operand)

    def build(ref: ValueRef):
        if isinstance(ref.dtype, T.VariantType):
            s = ref.v_string()  # non-strings skip at runtime
        elif ref.dtype is not None and not isinstance(
            ref.dtype, (T.StringType, T.TimestampType, T.DateType)
        ):
            return None
        else:
            s = ref.col.cast("string")
        return ~check(s), lambda: f"value does not match format '{operand}'"

    return CondRule(build)


# --------------------------------------------------------- dependencies

@register_keyword("dependencies")
def kw_dependencies(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"value of 'dependencies' must be object, path:{path}")
    deps = {}
    for k, v in operand.items():
        if not isinstance(v, list):
            raise SchemaError(f"dependencies values must be arrays, path:{path}")
        deps[k] = [str(x) for x in v]

    def build(ref: ValueRef):
        # a variant non-object passes
        guard = ref.v_object().isNotNull() if isinstance(ref.dtype, T.VariantType) else None
        for k, vs in deps.items():
            kc = ref.child(k)
            for dep in vs:
                dc = ref.child(dep)
                # m[key] PRESENCE on both sides (validator_logic.go:
                # 198-218): a key holding JSON null counts as present
                fail = ~kc.missing() & dc.missing()
                yield (fail if guard is None else guard & fail), dc.path, "is required"

    return TargetsRule(build)


# ------------------------------------------------- children (sub-node)

@register_keyword("children")
def kw_children(operand, path, siblings, ctx) -> Rule:
    """Apply sub-validator to named children only when present
    (validator_core.go:732-762)."""
    if not isinstance(operand, dict):
        raise SchemaError(f"value of 'children' must be object, path:{path}")
    subs = {k: ctx.compile_node(v, f"{path}.{k}") for k, v in operand.items()}

    def present(ref: ValueRef):
        """(sub-node, child ref) per child that can be present."""
        children = [(sub, ref.child(k)) for k, sub in subs.items()]
        return [(sub, child) for sub, child in children if child.exists]

    def fn(ref: ValueRef) -> Column:
        from ..core.errors import concat_violations

        return concat_violations(*[
            F.when(child.null(), empty_violations()).otherwise(sub.violations(child))
            for sub, child in present(ref)
        ])

    def fails(ref: ValueRef) -> Column:
        return or_all([~child.null() & sub.fails(child) for sub, child in present(ref)])

    return FnRule(fn, fails)


# ------------------------------------- single-value string comparisons

def _compare_single(keyword: str, info: str, build_ok):
    @register_keyword(keyword)
    def kw(operand, path, siblings, ctx, _info=info, _build=build_ok) -> Rule:
        if not isinstance(operand, str):
            raise SchemaError(f"{path} is not string")

        def build(ref: ValueRef):
            s = _string_view(ref)
            if s is None:
                return None
            return ~_build(s, operand), lambda: _info + operand

        return CondRule(build)

    return kw


_compare_single("startWith", " should start with ", lambda c, v: c.startswith(v))
_compare_single("endWith", " should end with ", lambda c, v: c.endswith(v))
_compare_single("contains", " should contains ", lambda c, v: c.contains(v))


# --------------------------------- map-form comparisons (jsonpath keys)

def _compare_map(keyword: str, info: str, build_ok, numeric_rhs=False):
    """NewCompare forms (compare.go:69-111): operand is a map of
    jsonpath -> operand; missing values compare as Go zero values."""

    @register_keyword(keyword)
    def kw(operand, path, siblings, ctx, _info=info, _build=build_ok) -> Rule:
        if not isinstance(operand, dict):
            raise SchemaError(f"{path} is not a map")
        compiled = [(jp, parse_value(v), v) for jp, v in operand.items()]
        silent = ctx.in_if

        def build(ref: ValueRef):
            for jp, val, raw in compiled:
                fail = ~_build(resolve(ref, jp), val.bind(ref))
                if silent:
                    yield fail, "", ""
                else:
                    path = f"{ref.path}.{jp}" if not ref.is_root else f"$.{jp}"
                    yield fail, path, _info + _static_str(raw)

        return TargetsRule(build)

    return kw


def _static_str(raw) -> str:
    from ..core.coerce import coerce_literal_for as _c

    return str(_c(T.StringType(), raw))


def _zs(target: ValueRef) -> Column:
    # Go zero-value string for missing (compare.go:23-27)
    return F.coalesce(target.str_of(), F.lit(""))


def _zn(target: ValueRef) -> Column:
    return F.coalesce(target.num_of(), F.lit(0.0))


_compare_map("startWiths", "should start with ", lambda t, b: _zs(t).startswith(b.str_of()))
# sic: reference reuses the startWith message for endWiths
# (validator_core.go:78-80)
_compare_map("endWiths", "should start with ", lambda t, b: _zs(t).endswith(b.str_of()))
_compare_map("containss", "should contains ", lambda t, b: _zs(t).contains(b.str_of()))
_compare_map("maxLengths", "length should less then", lambda t, b: F.octet_length(_zs(t)) <= b.num_of())
_compare_map("minLengths", "length should larger then", lambda t, b: F.octet_length(_zs(t)) >= b.num_of())
_compare_map("gt", "should greater than ", lambda t, b: _zn(t) > b.num_of())
_compare_map("lt", "should less than", lambda t, b: _zn(t) < b.num_of())
_compare_map("gte", "should greater or equal than ", lambda t, b: _zn(t) >= b.num_of())
_compare_map("lte", "should less or equal  than ", lambda t, b: _zn(t) <= b.num_of())


@register_keyword("patterns")
def kw_patterns(operand, path, siblings, ctx) -> Rule:
    """Map form jsonpath -> regex (validator_core.go:94-101); regexes
    compiled once at build time like the reference."""
    if not isinstance(operand, dict):
        raise SchemaError(f"{path} is not a map")
    import re as _re

    compiled = []
    for jp, pat in operand.items():
        if not isinstance(pat, str):
            raise SchemaError("regexp expect string")
        _re.compile(pat)
        compiled.append((jp, pat))

    def build(ref: ValueRef):
        for jp, pat in compiled:
            fail = ~_zs(resolve(ref, jp)).rlike(pat)
            yield fail, f"$.{jp}", "should match regular expression" + pat

    return TargetsRule(build)


@register_keyword("neq")
def kw_neq(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"{path} is not a map")
    compiled = [(jp, parse_value(v), v) for jp, v in operand.items()]

    def build(ref: ValueRef):
        from ..core.refs import equal_refs

        for jp, val, raw in compiled:
            eq = equal_refs(resolve(ref, jp), val.bind(ref))
            yield eq, f"$.{jp}", "should not equal with " + _static_str(raw)

    return TargetsRule(build)


# ------------------------------------------------------------ in/notin

def _in_rule(operand, path, ctx, negate: bool) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"'in'/'notin' operand must be a map, path:{path}")
    compiled = []
    for jp, lst in operand.items():
        if not isinstance(lst, list):
            raise SchemaError("'in' or 'notin' opt right value expect slice")
        compiled.append((jp, [parse_value(v) for v in lst], lst))

    def build(ref: ValueRef):
        from ..core.refs import equal_refs

        never = _never()
        for jp, vals, raw in compiled:
            target = resolve(ref, jp)
            ok = or_all([F.coalesce(equal_refs(target, v.bind(ref)), never) for v in vals])
            if negate:
                # notin wraps in a Not -> "is not valid" (validator_logic.go:151)
                yield ok, f"$.{jp}", "is not valid"
            else:
                yield ~ok, f"$.{jp}", "should be one of  " + go_v(raw)

    return TargetsRule(build)


@register_keyword("in")
def kw_in(operand, path, siblings, ctx) -> Rule:
    return _in_rule(operand, path, ctx, negate=False)


@register_keyword("notin")
def kw_notin(operand, path, siblings, ctx) -> Rule:
    return _in_rule(operand, path, ctx, negate=True)


# ---------------------------------------------------------------- ipIn

@register_keyword("ipIn")
def kw_ip_in(operand, path, siblings, ctx) -> Rule:
    """IPv4-in-CIDR-set (validator_core.go:168-196): CIDRs are parsed
    once on the driver into numeric [lo, hi] ranges; the runtime check
    is pure integer arithmetic on the dotted-quad."""
    if not isinstance(operand, dict):
        raise SchemaError("ipIn operand should be map of jsonpath -> cidr list")
    import ipaddress

    compiled = []
    for jp, cidrs in operand.items():
        if not isinstance(cidrs, list):
            raise SchemaError("ipIn should be slice type")
        ranges = []
        for c in cidrs:
            s = str(c)
            if "/" not in s:
                s += "/32"
            net = ipaddress.ip_network(s, strict=False)
            ranges.append((int(net.network_address), int(net.broadcast_address)))
        compiled.append((jp, ranges, cidrs))

    def ip_to_long(s: Column) -> Column:
        parts = F.split(s, r"\.")
        valid = (F.size(parts) == 4) & s.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
        octets = [F.try_element_at(parts, F.lit(i + 1)).try_cast("long") for i in range(4)]
        in_range = F.lit(True)
        for o in octets:
            in_range = in_range & o.isNotNull() & (o >= 0) & (o <= 255)
        num = octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
        return F.when(valid & in_range, num)

    def build(ref: ValueRef):
        for jp, ranges, raw in compiled:
            num = ip_to_long(resolve(ref, jp).str_of())
            ok = or_all([(num >= lo) & (num <= hi) for lo, hi in ranges])
            ok = F.coalesce(ok, _never())  # unparseable ip fails
            yield ~ok, f"$.{jp}", " ip should be within " + go_v(raw)

    return TargetsRule(build)
