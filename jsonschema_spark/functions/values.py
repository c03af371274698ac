"""The schema-embedded value mini-language, compiled to Columns.

Reference: ``parseValue`` (/root/reference/value.go:104-173) with forms
  - literals                      -> Const        -> F.lit
  - "a ${path} b" interpolation   -> comboValue   -> F.concat of parts
                                     (value.go:175-257)
  - ["fn()", arg1, arg2] / "fn()" -> function call (value.go:131-157)
  - {...} / [...] literals        -> recursive     (value.go:35-57)

Functions mirror the funcs.go:18-61 registry, mapped to native
pyspark.sql.functions (JVM-side, codegen'd) — never per-row Python.

Known reference bugs FIXED here (documented divergences, SURVEY §7.4):
  - sub/div/mod returning 0 for the 2-arg form (funcs.go:88-104 arity
    guard `len(args) <= 2`): we compute the obvious 2-arg result.
  - tonumber("123") == 0 (inverted error check common.go:102-110):
    we parse numeric strings.
Non-deterministic functions (time.now, rand.*) are supported but
excluded from golden fixtures; `time.now` honours an injectable fixed
clock for reproducible tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.coerce import number_of, string_of
from ..core.refs import ValueRef, resolve

NOT_STATIC = object()


@dataclass
class Bound:
    col: Column
    dtype: Optional[T.DataType]
    static: object = NOT_STATIC  # python literal when compile-time constant
    # the originating document ref, when the value IS a document path —
    # lets coercions reuse the ref's shredded variant views
    ref: Optional[ValueRef] = None

    def str_of(self) -> Column:
        if self.ref is not None:
            return self.ref.str_of()
        return string_of(self.col, self.dtype)

    def num_of(self) -> Column:
        if self.ref is not None:
            return self.ref.num_of()
        return number_of(self.col, self.dtype)

    def bool_of(self) -> Column:
        from ..core.coerce import bool_of as _bool_of

        if self.ref is not None:
            return self.ref.bool_of()
        return _bool_of(self.col, self.dtype)


class Value:
    """A compiled value expression; bind(root) yields a Column."""

    def bind(self, root: ValueRef) -> Bound:  # pragma: no cover - interface
        raise NotImplementedError


class Const(Value):
    def __init__(self, v):
        self.v = v

    def bind(self, root: ValueRef) -> Bound:
        if isinstance(self.v, bool):
            return Bound(F.lit(self.v), T.BooleanType(), self.v)
        if isinstance(self.v, (int, float)) and not isinstance(self.v, bool):
            # reference numbers are always float64 (type.go:3-20)
            return Bound(F.lit(float(self.v)), T.DoubleType(), float(self.v))
        if isinstance(self.v, str):
            return Bound(F.lit(self.v), T.StringType(), self.v)
        if self.v is None:
            return Bound(F.lit(None), None, None)
        if isinstance(self.v, list):
            return Bound(
                F.array(*[parse_value(x).bind(root).col for x in self.v]), None, NOT_STATIC
            )
        if isinstance(self.v, dict):
            kv = []
            for k, x in self.v.items():
                kv.append(F.lit(str(k)))
                kv.append(parse_value(x).bind(root).col)
            return Bound(F.create_map(*kv), None, NOT_STATIC)
        return Bound(F.lit(str(self.v)), T.StringType(), str(self.v))


class PathVal(Value):
    """${jsonpath} — reads another field of the document."""

    def __init__(self, path: str):
        self.path = path

    def bind(self, root: ValueRef) -> Bound:
        ref = resolve(root, self.path)
        return Bound(ref.col, ref.dtype, ref=ref)


class Combo(Value):
    """String interpolation 'x ${a} y ${b}' -> concat (value.go:175-257)."""

    def __init__(self, parts: list[Value]):
        self.parts = parts

    def bind(self, root: ValueRef) -> Bound:
        cols = []
        for p in self.parts:
            b = p.bind(root)
            cols.append(b.col if isinstance(b.dtype, T.StringType) else b.str_of())
        if len(cols) == 1:
            return Bound(cols[0], T.StringType())
        return Bound(F.concat(*cols), T.StringType())


class FuncCall(Value):
    def __init__(self, name: str, args: list[Value]):
        if name not in FUNCS:
            raise ValueError(f"unknown value function: {name}")
        self.name = name
        self.args = args

    def bind(self, root: ValueRef) -> Bound:
        return FUNCS[self.name]([a.bind(root) for a in self.args], root)


_INTERP = re.compile(r"\$\{([^}]+)\}")
_FUNC = re.compile(r"^([a-zA-Z_][\w.]*)\(\)$")


def parse_value(v) -> Value:
    """parseValue (value.go:104-173)."""
    if isinstance(v, str):
        m = _FUNC.match(v)
        if m and m.group(1) in FUNCS:
            return FuncCall(m.group(1), [])
        if "${" in v:
            whole = _INTERP.fullmatch(v)
            if whole:
                # exactly '${path}': raw value, type preserved
                # (value.go:120-130 Var form)
                return PathVal(whole.group(1))
            parts: list[Value] = []
            pos = 0
            for m2 in _INTERP.finditer(v):
                if m2.start() > pos:
                    parts.append(Const(v[pos : m2.start()]))
                parts.append(PathVal(m2.group(1)))
                pos = m2.end()
            if pos < len(v):
                parts.append(Const(v[pos:]))
            return Combo(parts)
        return Const(v)
    if isinstance(v, list) and v and isinstance(v[0], str):
        m = _FUNC.match(v[0])
        if m and m.group(1) in FUNCS:
            return FuncCall(m.group(1), [parse_value(a) for a in v[1:]])
    return Const(v)


# ---------------------------------------------------------------- functions

FuncImpl = Callable[[list[Bound], ValueRef], Bound]
FUNCS: dict[str, FuncImpl] = {}


def register_func(name: str):
    def deco(fn: FuncImpl) -> FuncImpl:
        FUNCS[name] = fn
        return fn

    return deco


def _num(b: Bound) -> Column:
    return b.num_of()


def _str(b: Bound) -> Column:
    return b.col if isinstance(b.dtype, T.StringType) else b.str_of()


@register_func("add")
def _add(args, root):
    # funcs.go:72-86: numeric sum; string first arg => concat
    if args and isinstance(args[0].dtype, T.StringType):
        return Bound(F.concat(*[_str(a) for a in args]), T.StringType())
    c = _num(args[0])
    for a in args[1:]:
        c = c + _num(a)
    return Bound(c, T.DoubleType())


@register_func("sub")
def _sub(args, root):
    return Bound(_num(args[0]) - _num(args[1]), T.DoubleType())


@register_func("mul")
def _mul(args, root):
    c = _num(args[0])
    for a in args[1:]:
        c = c * _num(a)
    return Bound(c, T.DoubleType())


@register_func("div")
def _div(args, root):
    return Bound(_num(args[0]) / _num(args[1]), T.DoubleType())


@register_func("mod")
def _mod(args, root):
    return Bound(_num(args[0]) % _num(args[1]), T.DoubleType())


@register_func("append")
def _append(args, root):
    # funcs.go:63-70: string concatenation of all args
    return Bound(F.concat(*[_str(a) for a in args]), T.StringType())


@register_func("sprintf")
def _sprintf(args, root):
    fmt = args[0].static
    if fmt is NOT_STATIC:
        raise ValueError("sprintf format must be a literal")
    # Go %v on dynamic values ~ stringified; map to %s with StringOf
    fmt = str(fmt).replace("%v", "%s")
    return Bound(F.format_string(fmt, *[_str(a) for a in args[1:]]), T.StringType())


@register_func("str.split")
def _split(args, root):
    return Bound(F.split(_str(args[0]), re.escape(str(args[1].static))), None)


@register_func("str.join")
def _join(args, root):
    return Bound(F.array_join(args[0].col, str(args[1].static)), T.StringType())


@register_func("str.trim")
def _trim(args, root):
    if len(args) > 1:
        return Bound(F.trim(F.lit(str(args[1].static)), _str(args[0])), T.StringType())
    return Bound(F.trim(_str(args[0])), T.StringType())


@register_func("str.trimPrefix")
def _trim_prefix(args, root):
    p = re.escape(str(args[1].static))
    return Bound(F.regexp_replace(_str(args[0]), f"^{p}", ""), T.StringType())


@register_func("str.trimSuffix")
def _trim_suffix(args, root):
    p = re.escape(str(args[1].static))
    return Bound(F.regexp_replace(_str(args[0]), f"{p}$", ""), T.StringType())


@register_func("str.replace")
def _replace(args, root):
    return Bound(
        F.replace(_str(args[0]), _str(args[1]), _str(args[2])), T.StringType()
    )


@register_func("str.toLower")
def _lower(args, root):
    return Bound(F.lower(_str(args[0])), T.StringType())


@register_func("str.toUpper")
def _upper(args, root):
    return Bound(F.upper(_str(args[0])), T.StringType())


@register_func("str.quote")
def _quote(args, root):
    return Bound(F.to_json(F.struct(_str(args[0]).alias("v"))).substr(F.lit(6), F.length(F.to_json(F.struct(_str(args[0]).alias("v")))) - 6), T.StringType())


@register_func("or")
def _or(args, root):
    # funcs.go:188-196: first non-nil/non-empty (notNil common.go:131-140)
    c = None
    for a in args:
        s = _str(a)
        guarded = F.when(a.col.isNotNull() & (s != ""), a.col)
        c = guarded if c is None else F.coalesce(c, guarded)
    return Bound(c, args[0].dtype if args else None)


@register_func("md5.hex")
def _md5(args, root):
    return Bound(F.md5(_str(args[0]).cast("binary")), T.StringType())


@register_func("sha256.hex")
def _sha256(args, root):
    return Bound(F.sha2(_str(args[0]).cast("binary"), 256), T.StringType())


# injectable clock for deterministic fixtures (reference time.now is
# wall-clock unix seconds, funcs.go:245-247)
FIXED_CLOCK: list[float | None] = [None]


@register_func("time.now")
def _now(args, root):
    if FIXED_CLOCK[0] is not None:
        return Bound(F.lit(float(FIXED_CLOCK[0])), T.DoubleType(), float(FIXED_CLOCK[0]))
    return Bound(F.unix_timestamp().cast("double"), T.DoubleType())


@register_func("time.format")
def _time_format(args, root):
    fmt = "yyyy-MM-dd HH:mm:ss"
    if len(args) > 1 and args[1].static is not NOT_STATIC:
        fmt = str(args[1].static)
    return Bound(
        F.date_format(F.timestamp_seconds(_num(args[0])), fmt), T.StringType()
    )


@register_func("json.to")
def _json_to(args, root):
    return Bound(F.to_json(args[0].col), T.StringType())


@register_func("json.from")
def _json_from(args, root):
    return Bound(
        F.from_json(_str(args[0]), "map<string,string>"),
        T.MapType(T.StringType(), T.StringType()),
    )


@register_func("new")
def _new(args, root):
    return Bound(F.create_map().cast("map<string,string>"), T.MapType(T.StringType(), T.StringType()))


@register_func("tostring")
def _tostring(args, root):
    return Bound(_str(args[0]), T.StringType())


@register_func("tonumber")
def _tonumber(args, root):
    return Bound(_num(args[0]), T.DoubleType())


@register_func("toint")
def _toint(args, root):
    return Bound(_num(args[0]).cast("long").cast("double"), T.DoubleType())


@register_func("tobool")
def _tobool(args, root):
    return Bound(args[0].bool_of(), T.BooleanType())


@register_func("rand.new16")
def _rand16(args, root):
    return Bound(F.substring(F.regexp_replace(F.expr("uuid()"), "-", ""), 1, 16), T.StringType())


@register_func("rand.new32")
def _rand32(args, root):
    return Bound(F.regexp_replace(F.expr("uuid()"), "-", ""), T.StringType())


@register_func("map.get")
def _map_get(args, root):
    """["map.get()", map-value, key] (funcs.go:249-259)."""
    m, k = args[0], args[1]
    if isinstance(m.dtype, T.MapType):
        return Bound(
            F.try_element_at(m.col, _str(k).cast(m.dtype.keyType)),
            m.dtype.valueType,
        )
    return Bound(F.lit(None), None)


@register_func("map.set")
def _map_set(args, root):
    """["map.set()", map-value, key, val]: returns the modified map
    (pure — the engine never mutates in place)."""
    m, k, v = args[0], args[1], args[2]
    if not isinstance(m.dtype, T.MapType):
        return m
    key = _str(k).cast(m.dtype.keyType)
    removed = F.map_filter(
        F.coalesce(m.col, F.create_map().cast(m.dtype)), lambda kk, vv: kk != key
    )
    return Bound(
        F.map_concat(removed, F.create_map(key, v.col.cast(m.dtype.valueType))),
        m.dtype,
    )


def _map_del_impl(args, root):
    m, k = args[0], args[1]
    if not isinstance(m.dtype, T.MapType):
        return m
    key = _str(k).cast(m.dtype.keyType)
    return Bound(F.map_filter(m.col, lambda kk, vv: kk != key), m.dtype)


register_func("map.del")(_map_del_impl)
register_func("delete")(_map_del_impl)
