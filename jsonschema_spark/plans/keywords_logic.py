"""Combinators, control flow, object traversal and $ref inlining
(reference validator_logic.go, validator_properties.go,
validator_core.go:365-669, ref.go, defs.go).

Control-flow branches that contain mutation keywords (the reference's
switch/case + setVal pattern, all_test.go:100-139) compile to GUARDED
TransformOps: the branch predicate becomes a `F.when` guard on the
withColumn pipeline, keeping everything a single declarative plan.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.errors import (
    concat_violations,
    empty_violations,
    go_v,
    viol_when,
    violation,
)
from ..core.refs import ValueRef, equal_refs, resolve
from ..functions.values import parse_value
from .compiler import FnRule, Rule, SchemaError, TargetsRule, _never, or_all, register_keyword


@contextlib.contextmanager
def _guard(ctx, fn):
    ctx.guards.append(fn)
    try:
        yield
    finally:
        ctx.guards.pop()


@contextlib.contextmanager
def _in_if(ctx):
    prev = ctx.in_if
    ctx.in_if = True
    try:
        yield
    finally:
        ctx.in_if = prev


# ---------------------------------------------------------- properties

@register_keyword("properties")
def kw_properties(operand, path, siblings, ctx) -> Rule:
    return _properties(operand, path, siblings, ctx)


@register_keyword("props")
def kw_props(operand, path, siblings, ctx) -> Rule:
    return _properties(operand, path, siblings, ctx)


def _properties(operand, path, siblings, ctx) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"value of 'properties' must be object, path:{path}")
    children: list[tuple[str, object, dict]] = []
    for k, sub in operand.items():
        if not isinstance(sub, dict):
            raise SchemaError(f"property schema for '{k}' must be object, path:{path}")
        node = ctx.compile_node(sub, f"{path}.{k}")
        children.append((k, node, sub))

    additional = siblings.get("additionalProperties")
    add_node = None
    if isinstance(additional, dict):
        add_node = ctx.compile_node(additional, f"{path}.*")
    declared = list(operand.keys())

    def child_refs(ref: ValueRef):
        """(node, child ref) per declared property, defaults filled."""
        out = []
        for k, node, sub in children:
            child = ref.child(k)
            # defaultVal fills the missing value, which is then
            # validated (validator_core.go:443-453) — validate the
            # coalesced column.
            dv = sub.get("defaultVal", sub.get("default"))
            if dv is not None and child.exists:
                if isinstance(child.dtype, T.VariantType):
                    # JSON-encode the default once on the driver; fill
                    # when nil (absent key OR present JSON null — Go's
                    # m[key] returns nil for both, validator_core.go:
                    # 443-453)
                    import json as _json

                    if not (isinstance(dv, str) and "${" in dv):
                        filled = F.when(
                            child.null(), F.parse_json(F.lit(_json.dumps(dv)))
                        ).otherwise(child.col)
                        child = child.with_col(filled)
                    # dynamic ${...} template defaults on a variant
                    # child: no columnar JSON-encode of an arbitrary
                    # typed value — left unfilled
                elif isinstance(dv, (dict, list)) and not isinstance(
                    child.dtype, (T.MapType, T.ArrayType)
                ):
                    # container default onto a struct-typed child: no
                    # columnar value for a fresh empty container, and
                    # every child lookup on nil vs {} is identical —
                    # skip the fill (reference schema_test.go:137
                    # "default": {})
                    pass
                else:
                    b = parse_value(dv).bind(ref)
                    filled = F.coalesce(
                        child.col,
                        b.col.cast(child.dtype) if child.dtype else b.col,
                    )
                    child = child.with_col(filled)
            out.append((node, child))
        return out

    def extra(ref: ValueRef) -> list[Column]:
        """Violations of the undeclared fields."""
        parts = []
        # unknown fields (validator_core.go:419): only meaningful when
        # additionalProperties present and not True
        if additional is False:
            dt = ref.dtype
            if isinstance(dt, T.StructType):
                for f_ in dt.fields:
                    if f_.name not in declared:
                        parts.append(
                            viol_when(
                                F.col(f_.name).isNotNull()
                                if ref.is_root
                                else ref.col.getField(f_.name).isNotNull(),
                                f"{ref.path}.{f_.name}",
                                "unknown field",
                            )
                        )
            elif isinstance(dt, (T.MapType, T.VariantType)):
                if isinstance(dt, T.VariantType):
                    keys_col = F.map_keys(ref.v_object())
                else:
                    keys_col = F.map_keys(ref.col)
                unknown = F.filter(
                    keys_col, lambda k: ~k.isin(*declared) if declared else F.lit(True)
                )
                parts.append(
                    F.when(
                        ref.null() | unknown.isNull(), empty_violations()
                    ).otherwise(
                        F.transform(
                            unknown,
                            lambda k: F.struct(
                                F.concat(F.lit(ref.path + "."), k).alias("path"),
                                F.lit("unknown field").alias("info"),
                            ),
                        )
                    )
                )
        elif add_node is not None:
            dt = ref.dtype
            if isinstance(dt, T.StructType):
                for f_ in dt.fields:
                    if f_.name not in declared:
                        parts.append(add_node.violations(ref.child(f_.name)))
        return parts

    def fn(ref: ValueRef) -> Column:
        return concat_violations(
            *[node.violations(child) for node, child in child_refs(ref)], *extra(ref)
        )

    def fails(ref: ValueRef) -> Column:
        return or_all(
            [node.fails(child) for node, child in child_refs(ref)]
            + [F.coalesce(F.size(v) > 0, F.lit(False)) for v in extra(ref)]
        )

    return FnRule(fn, fails)


@register_keyword("additionalProperties")
def kw_additional_properties(operand, path, siblings, ctx) -> None:
    # consumed by sibling properties (validator_core.go:602-637)
    return None


# --------------------------------------------------------- combinators

@register_keyword("allOf")
def kw_all_of(operand, path, siblings, ctx) -> Rule:
    return _all_of(operand, path, ctx)


@register_keyword("and")
def kw_and(operand, path, siblings, ctx) -> Rule:
    return _all_of(operand, path, ctx)


def _all_of(operand, path, ctx) -> Rule:
    if not isinstance(operand, list):
        raise SchemaError(f"allOf must be an array, path:{path}")
    nodes = [ctx.compile_node(sub, path) for sub in operand]

    def fn(ref: ValueRef) -> Column:
        return concat_violations(*[n.violations(ref) for n in nodes])

    return FnRule(fn, lambda ref: or_all([n.fails(ref) for n in nodes]))


def _any_of(operand, path, ctx) -> Rule:
    if not isinstance(operand, list):
        raise SchemaError(f"anyOf must be an array, path:{path}")
    nodes = [ctx.compile_node(sub, path) for sub in operand]

    def fn(ref: ValueRef) -> Column:
        # first passing branch wins; else all errors emitted
        # (validator_logic.go:12-43)
        ok = F.lit(False)
        for n in nodes:
            ok = ok | ~n.fails(ref)
        return F.when(ok, empty_violations()).otherwise(
            concat_violations(*[n.violations(ref) for n in nodes])
        )

    def fails(ref: ValueRef) -> Column:
        # fails iff every branch fails; with no branches the violations
        # above are an empty concat, so nothing fails
        never = _never()
        branches = [n.fails(ref) for n in nodes]
        if not branches or any(b is never for b in branches):
            return never
        out = branches[0]
        for b in branches[1:]:
            out = out & b
        return out

    return FnRule(fn, fails)


@register_keyword("anyOf")
def kw_any_of(operand, path, siblings, ctx) -> Rule:
    return _any_of(operand, path, ctx)


@register_keyword("or")
def kw_or(operand, path, siblings, ctx) -> Rule:
    return _any_of(operand, path, ctx)


@register_keyword("oneOf")
def kw_one_of(operand, path, siblings, ctx) -> Rule:
    # the reference implements oneOf as anyOf — first match passes,
    # NOT exclusive (validator_properties.go:92-126); we replicate.
    return _any_of(operand, path, ctx)


@register_keyword("not")
def kw_not(operand, path, siblings, ctx) -> Rule:
    node = ctx.compile_node(operand, path)

    def fn(ref: ValueRef) -> Column:
        return viol_when(~node.fails(ref), ref.path, "is not valid")

    return FnRule(fn, lambda ref: ~node.fails(ref))


# ------------------------------------------------------- if/then/else

@register_keyword("if")
def kw_if(operand, path, siblings, ctx) -> Rule:
    with _in_if(ctx):
        cond = ctx.compile_node(operand, path)

    def cond_ok(ref: ValueRef) -> Column:
        return ~cond.fails(ref)

    then_node = else_node = None
    if isinstance(siblings.get("then"), dict):
        with _guard(ctx, cond_ok):
            then_node = ctx.compile_node(siblings["then"], path)
    if isinstance(siblings.get("else"), dict):
        with _guard(ctx, lambda ref: ~cond_ok(ref)):
            else_node = ctx.compile_node(siblings["else"], path)

    def fn(ref: ValueRef) -> Column:
        ok = cond_ok(ref)
        then_v = then_node.violations(ref) if then_node else empty_violations()
        else_v = else_node.violations(ref) if else_node else empty_violations()
        return F.when(ok, then_v).otherwise(else_v)

    def fails(ref: ValueRef) -> Column:
        never = _never()
        then_f = then_node.fails(ref) if then_node else never
        else_f = else_node.fails(ref) if else_node else never
        if then_f is never and else_f is never:
            return never
        cond_f = cond.fails(ref)
        if cond_f is never:
            return then_f
        return F.when(~cond_f, then_f).otherwise(else_f)

    return FnRule(fn, fails)


@register_keyword("then")
def kw_then(operand, path, siblings, ctx) -> None:
    # inert standalone (validator_logic.go:106-116); consumed by `if`
    return None


@register_keyword("else")
def kw_else(operand, path, siblings, ctx) -> None:
    return None


# ---------------------------------------------------- switch/case/dft

@register_keyword("switch")
def kw_switch(operand, path, siblings, ctx) -> Rule:
    """Dispatch on StringOf(doc[switchKey]) (validator_logic.go:360-445)."""
    if not isinstance(operand, str):
        raise SchemaError(f"switch key must be string, path:{path}")
    cases = siblings.get("case") or {}
    if not isinstance(cases, dict):
        raise SchemaError(f"'case' must be object, path:{path}")

    def switch_val(ref: ValueRef) -> Column:
        target = resolve(ref, operand)
        return target.str_of()

    case_nodes = []
    for cv, sub in cases.items():
        with _guard(ctx, lambda ref, _cv=cv: switch_val(ref) == F.lit(str(_cv))):
            case_nodes.append((str(cv), ctx.compile_node(sub, path)))
    default_node = None
    if isinstance(siblings.get("defaults"), dict):
        with _guard(
            ctx,
            lambda ref: ~switch_val(ref).isin([cv for cv, _ in case_nodes])
            if case_nodes
            else F.lit(True),
        ):
            default_node = ctx.compile_node(siblings["defaults"], path)

    def fn(ref: ValueRef) -> Column:
        sv = switch_val(ref)
        expr = None
        for cv, node in case_nodes:
            branch = node.violations(ref)
            expr = (
                F.when(sv == cv, branch)
                if expr is None
                else expr.when(sv == cv, branch)
            )
        default_v = (
            default_node.violations(ref) if default_node else empty_violations()
        )
        return default_v if expr is None else expr.otherwise(default_v)

    return FnRule(fn)


@register_keyword("case")
def kw_case(operand, path, siblings, ctx) -> None:
    return None  # consumed by switch


@register_keyword("defaults")
def kw_defaults_branch(operand, path, siblings, ctx) -> None:
    # NOTE: `defaults` is the switch default branch
    # (validator_logic.go:395-407); `defaultVals` is the bulk-default
    # transform (prop_values.go).
    return None


# ------------------------------------------------- keyMatch/equals/eq

def _key_match(operand, path, ctx) -> Rule:
    if not isinstance(operand, dict):
        raise SchemaError(f"keyMatch operand must be object, path:{path}")
    compiled = [(jp, parse_value(v), v) for jp, v in operand.items()]
    silent = ctx.in_if

    def build(ref: ValueRef):
        never = _never()
        for jp, val, raw in compiled:
            # a NULL comparison is a mismatch
            fail = ~F.coalesce(equal_refs(resolve(ref, jp), val.bind(ref)), never)
            yield (fail, "", "") if silent else (fail, f"$.{jp}", f"value must be {go_v(raw)}")

    return TargetsRule(build)


@register_keyword("keyMatch")
def kw_key_match(operand, path, siblings, ctx) -> Rule:
    return _key_match(operand, path, ctx)


@register_keyword("equals")
def kw_equals(operand, path, siblings, ctx) -> Rule:
    return _key_match(operand, path, ctx)


@register_keyword("eq")
def kw_eq(operand, path, siblings, ctx) -> Rule:
    return _key_match(operand, path, ctx)


# ----------------------------------------------------------------- error

@register_keyword("error")
def kw_error(operand, path, siblings, ctx) -> Rule:
    """Unconditional violation with interpolated message
    (validator_core.go:679-705); meaningful inside if/then/case."""
    val = parse_value(operand)

    def fn(ref: ValueRef) -> Column:
        b = val.bind(ref)
        return violation(ref.path, b.str_of())

    return FnRule(fn, lambda ref: F.lit(True))


# ----------------------------------------------------------------- $ref

@register_keyword("$ref")
def kw_ref(operand, path, siblings, ctx) -> Rule:
    """Compile-time inlining with bounded unrolling — Column DAGs can't
    recurse (reference walks pointers at runtime, ref.go:12-82)."""
    if not isinstance(operand, str):
        raise SchemaError(f"$ref must be string, path:{path}")
    if ctx.ref_depth >= ctx.max_ref_depth:
        return FnRule(lambda ref: empty_violations(), lambda ref: F.lit(False))
    target = ctx.resolve_ref(operand)
    ctx.ref_depth += 1
    try:
        node = ctx.compile_node(target, path)
    finally:
        ctx.ref_depth -= 1
    return FnRule(node.violations, node.fails)


# ------------------------------------------------------------- foreach

# mutation keywords with no per-element columnar analog inside foreach
_FOREACH_UNSUPPORTED_MUT = {
    "constVal", "defaultVal", "default", "defaultVals", "replaceKey",
    "formatVal", "setMap", "delMap", "del", "delete",
    "setExpr", "script", "call",
}


# keywords whose operands are (or contain) nested schema documents
_SCHEMA_NEST = {
    "if", "then", "else", "allOf", "anyOf", "oneOf", "not", "and", "or",
    "case", "defaults", "properties", "props", "items", "children",
    "dependencies",
}


def _reject_nested_foreach_mutations(subdoc: dict, path: str, top: bool) -> None:
    """Inside a foreach sub-schema, mutation keywords are only compiled
    at the TOP level (`set` → fold; nested `foreach` recursively); one
    nested under if/then/case/properties/... would be silently
    discarded by the detached compile ctx — fail loudly instead."""
    for kw, op in subdoc.items():
        if top and kw in ("set", "setVal", "setNN"):
            # fold- or F.transform-compiled; operand values are templates
            continue
        if top and kw == "foreach" and isinstance(op, dict):
            for sub in op.values():
                if isinstance(sub, dict):
                    _reject_nested_foreach_mutations(sub, path, top=True)
            continue
        if kw in _FOREACH_UNSUPPORTED_MUT or kw in (
            "set", "setVal", "setNN", "foreach"
        ):
            raise SchemaError(
                f"'{kw}' nested under '{path}' inside foreach would mutate "
                "the document per element — not columnar; accumulate with a "
                "TOP-level `set` (compiled to a fold) or use the script "
                f"keyword, path:{path}"
            )
        if kw in _SCHEMA_NEST:
            if kw in ("case", "defaults", "properties", "props",
                      "dependencies", "children") and isinstance(op, dict):
                subs = list(op.values())
            elif isinstance(op, list):
                subs = op
            else:
                subs = [op]
            for s in subs:
                if isinstance(s, dict):
                    _reject_nested_foreach_mutations(s, f"{path}.{kw}", top=False)


def _foreach_mut_program(subdoc: dict, path: str):
    """Ordered mutation ops from a foreach sub-schema:
    ("set", [(name, Value), ...]) | ("foreach", jp, subprogram), plus
    per-ELEMENT writes [(subpath, Value, skip_null), ...] for
    ``__val``-rooted targets (the reference writes through the __val
    binding into the element object itself, foreach.go:21-33).
    Returns (program, accumulated names, element writes)."""
    prog: list = []
    names: list[str] = []
    elem: list = []
    for kw, operand in subdoc.items():
        if kw in ("set", "setVal", "setNN") and isinstance(operand, dict):
            items = []
            for name, raw in operand.items():
                if name == "__val" or name.startswith("__val."):
                    elem.append(
                        (name[len("__val"):].lstrip("."), parse_value(raw),
                         kw == "setNN")
                    )
                    continue
                if "." in name or "[" in name:
                    raise SchemaError(
                        "foreach set accumulation supports top-level keys "
                        f"only, got {name!r}, path:{path}"
                    )
                if kw == "setNN":
                    raise SchemaError(
                        "setNN inside foreach supports __val-rooted element "
                        f"writes only, got {name!r}, path:{path}"
                    )
                items.append((name, parse_value(raw)))
                if name not in names:
                    names.append(name)
            if items:
                prog.append(("set", items))
        elif kw == "foreach" and isinstance(operand, dict):
            for jp2, sub2 in operand.items():
                if not isinstance(sub2, dict):
                    continue
                p2, n2, e2 = _foreach_mut_program(sub2, f"{path}.{jp2}")
                if e2:
                    raise SchemaError(
                        "per-element writes inside a NESTED foreach are not "
                        f"columnar (inner arrays are lambda-scoped), path:{path}.{jp2}"
                    )
                if n2:
                    prog.append(("foreach", jp2, p2))
                    for n in n2:
                        if n not in names:
                            names.append(n)
        elif kw in _FOREACH_UNSUPPORTED_MUT:
            raise SchemaError(
                f"'{kw}' inside foreach mutates the document per element — "
                "not columnar; accumulate with `set` (compiled to a fold), "
                "write elements via __val-rooted set/setVal/setNN targets "
                f"(compiled to F.transform), or use the script keyword, path:{path}"
            )
    return prog, names, elem


def _struct_has_field(dt, dotted: str) -> bool:
    """Whether a (possibly dotted) field path exists in a StructType."""
    for seg in dotted.split("."):
        if not isinstance(dt, T.StructType) or seg not in dt.fieldNames():
            return False
        dt = dt[seg].dataType
    return True


def _register_foreach_elem_writes(ctx, elem_entries) -> None:
    """Per-element mutation: the reference binds ``__val`` to the
    element object itself, so a jsonpath write through it mutates the
    element in place (foreach.go:21-33 + the set/setVal/setNN
    validators).  Columnar mapping: ONE ``F.transform`` over the target
    array producing rewritten elements — field writes/adds on struct
    elements via ``Column.withField``, whole-``__val`` replacement for
    scalar elements.  Writes apply sequentially, so a later template
    reading ``__val`` sees the earlier write, matching the reference's
    in-place order.  Cross-element order dependence (mixing with
    accumulator ``set`` in the same foreach) is rejected in kw_foreach.

    Static divergences (documented): setNN on a field the element type
    does not yet have adds a NULL field for skipped rows (a column
    cannot add struct fields per row); map-typed targets keep their
    value type, so writes must cast into it."""
    import dataclasses

    from .compiler import TransformOp
    from .keywords_magic import _guard_cond

    guards = list(ctx.guards)

    def apply_writes(df, root: ValueRef):
        for jp, writes in elem_entries:
            if "." in jp or "[" in jp:
                raise SchemaError(
                    "foreach element writes support top-level array "
                    f"columns only, got target {jp!r}"
                )
            target = resolve(root, jp)
            dt = target.dtype
            if not target.exists or not isinstance(dt, T.ArrayType):
                continue  # non-array target: reference silently skips
            elem_dt = dt.elementType

            def make_rewrite(_writes, _elem_dt):
                def rewrite(v, i):
                    cur, cur_dt = v, _elem_dt
                    for sub, val, skip_null in _writes:
                        bound = dataclasses.replace(
                            root,
                            bindings={
                                **(root.bindings or {}),
                                "__key": ValueRef(
                                    i.cast("long"), T.LongType(), "$.__key"
                                ),
                                "__val": ValueRef(cur, cur_dt, "$.__val"),
                            },
                        )
                        b = val.bind(bound)
                        if not sub:
                            new = b.col
                            if cur_dt is not None and b.dtype != cur_dt:
                                new = new.cast(cur_dt)
                            cur = (
                                F.coalesce(new, cur) if skip_null else new
                            )
                            continue
                        if not isinstance(cur_dt, T.StructType):
                            raise SchemaError(
                                f"foreach element write '__val.{sub}' needs "
                                f"struct elements, got {cur_dt}"
                            )
                        new = b.col
                        if skip_null:
                            # getField on a statically-absent field is
                            # an AnalysisException at plan time — check
                            # the tracked element type instead (a nil
                            # template on a new field adds NULL, the
                            # closest a fixed column gets to Go's
                            # "skip the write entirely")
                            if _struct_has_field(cur_dt, sub):
                                old = cur
                                for seg in sub.split("."):
                                    old = old.getField(seg)
                                new = F.coalesce(new, old)
                        cur = cur.withField(sub, new)
                        if "." not in sub:
                            fields = [
                                f for f in cur_dt.fields if f.name != sub
                            ] + [T.StructField(sub, b.dtype or T.StringType())]
                            cur_dt = T.StructType(fields)
                    return cur

                return rewrite

            new_arr = F.transform(target.col, make_rewrite(writes, elem_dt))
            cond = _guard_cond(guards, root)
            if cond is not None:
                new_arr = F.when(cond, new_arr).otherwise(target.col)
            df = df.withColumn(jp, new_arr)
        return df

    ctx.transforms.append(TransformOp(apply_writes, "foreach"))


def _register_foreach_fold(ctx, mut_entries, mut_names) -> None:
    """One TransformOp: run every (jp, program) fold in document order,
    then assign the final accumulator values to their top-level keys.
    Accumulators are string-typed unless a first compile pass observes
    a numeric template, mirroring the script for-fold's 2-pass typing."""
    import dataclasses
    from functools import reduce

    from .compiler import TransformOp

    guards = list(ctx.guards)

    def apply_fold(df, root: ValueRef):
        def bind_ref(ref, kref, vref, cur):
            bindings = {**(ref.bindings or {}), "__key": kref, "__val": vref}
            for n, (c, d) in cur.items():
                bindings[n] = ValueRef(c, d, f"$.{n}")
            return dataclasses.replace(ref, bindings=bindings)

        def run_fold(ref, jp, prog, acc):
            target = resolve(ref, jp)
            dt = target.dtype
            if not target.exists or not isinstance(dt, (T.ArrayType, T.MapType)):
                return acc  # non-container: reference silently skips
            is_map = isinstance(dt, T.MapType)
            entries_col = F.map_entries(target.col) if is_map else target.col
            names = list(acc.keys())
            init = F.struct(
                *[acc[n][0].alias(n) for n in names],
                F.lit(0).cast("long").alias("__i"),
            )

            def step(a, x):
                if is_map:
                    kref = ValueRef(x["key"], dt.keyType, "$.__key")
                    vref = ValueRef(x["value"], dt.valueType, "$.__val")
                else:
                    kref = ValueRef(a["__i"], T.LongType(), "$.__key")
                    vref = ValueRef(x, dt.elementType, "$.__val")
                cur = {n: (a[n], acc[n][1]) for n in names}
                for op in prog:
                    if op[0] == "set":
                        for name, val in op[1]:
                            b = val.bind(bind_ref(ref, kref, vref, cur))
                            tgt_dt = acc[name][1]
                            col = (
                                b.num_of()
                                if isinstance(tgt_dt, T.NumericType)
                                else b.str_of()
                            )
                            cur[name] = (col, tgt_dt)
                    else:
                        _, jp2, p2 = op
                        cur = run_fold(bind_ref(ref, kref, vref, cur), jp2, p2, cur)
                return F.struct(
                    *[cur[n][0].alias(n) for n in names],
                    (a["__i"] + 1).alias("__i"),
                )

            folded = F.aggregate(entries_col, init, step)
            return {
                n: (
                    F.when(target.null(), acc[n][0]).otherwise(folded[n]),
                    acc[n][1],
                )
                for n in names
            }

        # driver-side TYPE PROBE: bind each template once against the
        # accumulator's INITIAL dtype (the doc column's type, or nil for
        # an absent key — the reference's first iteration sees exactly
        # that), so type-dispatching templates (add: numeric sum vs
        # string concat, funcs.go:72-86) pick the same branch
        observed: dict[str, object] = {}

        def probe(ref, jp, prog, accd):
            target = resolve(ref, jp)
            dt = target.dtype
            if not target.exists or not isinstance(dt, (T.ArrayType, T.MapType)):
                return
            if isinstance(dt, T.MapType):
                kref = ValueRef(F.lit(None), dt.keyType, "$.__key")
                vref = ValueRef(F.lit(None), dt.valueType, "$.__val")
            else:
                kref = ValueRef(F.lit(None), T.LongType(), "$.__key")
                vref = ValueRef(F.lit(None), dt.elementType, "$.__val")
            cur = {n: (F.lit(None), accd[n]) for n in accd}
            for op in prog:
                if op[0] == "set":
                    for name, val in op[1]:
                        b = val.bind(bind_ref(ref, kref, vref, cur))
                        observed[name] = accd[name] = b.dtype
                        cur[name] = (F.lit(None), b.dtype)
                else:
                    probe(bind_ref(ref, kref, vref, cur), op[1], op[2], accd)

        accd = {
            n: (resolve(root, n).dtype if resolve(root, n).exists else None)
            for n in mut_names
        }
        for jp, prog in mut_entries:
            probe(root, jp, prog, accd)

        acc = {}
        for n in mut_names:
            src = resolve(root, n)
            if isinstance(observed.get(n), T.NumericType):
                acc[n] = (src.num_of(), T.DoubleType())
            else:
                acc[n] = (src.str_of(), T.StringType())
        for jp, prog in mut_entries:
            acc = run_fold(root, jp, prog, acc)

        cond = None
        if guards:
            cond = reduce(lambda a, b: a & b, [g(root) for g in guards])
        for n in mut_names:
            col = acc[n][0]
            if cond is not None:
                old = F.col(n) if n in df.columns else F.lit(None)
                col = F.when(cond, col).otherwise(old)
            df = df.withColumn(n, col)
        return df

    ctx.transforms.append(TransformOp(apply_fold, "foreach"))


@register_keyword("foreach")
def kw_foreach(operand, path, siblings, ctx) -> Rule:
    """Iterate the array/map at each jsonpath, binding ``__key`` /
    ``__val`` into the root scope and running the sub-schema per
    element (reference foreach.go:5-63).

    Columnar mapping: assertions compile to ``F.transform`` over the
    array (or map_entries) with a lambda-scoped root ref whose bindings
    resolve __key/__val; per-element violation arrays are flattened
    into the row's list.  The reference's cross-element MUTATION
    accumulation (`set` of a top-level key per element, nested foreach
    included — the `line` example, benchmark_test.go:411-423) compiles
    to ONE nested F.aggregate fold registered as a single TransformOp:
    each `set` target becomes a typed accumulator threaded through the
    iteration in document order, `${target}` inside the template reads
    the running value via a root binding.  Other mutation keywords
    inside foreach are rejected at compile time.
    """
    if not isinstance(operand, dict):
        raise SchemaError(f"foreach operand must be object, path:{path}")
    import dataclasses

    from .compiler import TransformOp, compile_node

    entries = []
    mut_entries: list[tuple[str, list]] = []
    elem_entries: list[tuple[str, list]] = []
    mut_names: list[str] = []
    for jp, sub in operand.items():
        # detached ctx: mutation keywords inside the sub-schema must NOT
        # leak to the global transform pipeline (they would run once per
        # row with __key/__val unbound)
        sub_ctx = dataclasses.replace(ctx, transforms=[])
        if isinstance(sub, dict):
            _reject_nested_foreach_mutations(sub, f"{path}.{jp}", top=True)
        node = compile_node(sub, f"{path}.{jp}", sub_ctx)
        entries.append((jp, node))
        if isinstance(sub, dict):
            prog, names, elem = _foreach_mut_program(sub, f"{path}.{jp}")
            if names:
                mut_entries.append((jp, prog))
                for n in names:
                    if n not in mut_names:
                        mut_names.append(n)
            if elem:
                elem_entries.append((jp, elem))

    if mut_entries and elem_entries:
        # the reference interleaves accumulator reads with element
        # writes element-by-element; a fold + an independent transform
        # cannot reproduce that ordering — fail loudly
        raise SchemaError(
            "foreach cannot mix accumulator `set` and __val element "
            f"writes in one keyword (order-dependent), path:{path}"
        )
    if mut_entries:
        _register_foreach_fold(ctx, mut_entries, mut_names)
    if elem_entries:
        _register_foreach_elem_writes(ctx, elem_entries)

    def fn(ref: ValueRef) -> Column:
        parts = []
        for jp, node in entries:
            target = resolve(ref, jp)
            if not target.exists:
                continue
            dt = target.dtype

            if isinstance(dt, T.ArrayType):
                def make_per_elem(_node, _dt):
                    def per_elem(v, i):
                        bound = dataclasses.replace(
                            ref,
                            bindings={
                                **(ref.bindings or {}),
                                # reference binds the index as a number
                                # (float64(i), foreach.go:23)
                                "__key": ValueRef(i.cast("long"), T.LongType(), "$.__key"),
                                "__val": ValueRef(v, _dt.elementType, "$.__val"),
                            },
                        )
                        return _node.violations(bound)

                    return per_elem

                viols = F.flatten(F.transform(target.col, make_per_elem(node, dt)))
            elif isinstance(dt, T.MapType):
                def make_per_entry(_node, _dt):
                    def per_entry(e):
                        bound = dataclasses.replace(
                            ref,
                            bindings={
                                **(ref.bindings or {}),
                                "__key": ValueRef(e["key"], _dt.keyType, "$.__key"),
                                "__val": ValueRef(e["value"], _dt.valueType, "$.__val"),
                            },
                        )
                        return _node.violations(bound)

                    return per_entry

                viols = F.flatten(
                    F.transform(F.map_entries(target.col), make_per_entry(node, dt))
                )
            elif isinstance(dt, T.VariantType):
                # runtime container dispatch: object -> (key,val) walk,
                # array -> (index,val) walk, scalar -> skip
                obj = target.v_object()
                arr = target.v_array()

                def bind_kv(k_ref, v_ref):
                    return dataclasses.replace(
                        ref,
                        bindings={
                            **(ref.bindings or {}),
                            "__key": k_ref,
                            "__val": v_ref,
                        },
                    )

                # closure factories, NOT default args: F.transform
                # derives the lambda's arity from its signature, so a
                # `_node=node` default would receive the element index
                def make_entry_v(_node):
                    def per_entry_v(e):
                        return _node.violations(
                            bind_kv(
                                ValueRef(e["key"], T.StringType(), "$.__key"),
                                ValueRef(e["value"], T.VariantType(), "$.__val"),
                            )
                        )

                    return per_entry_v

                def make_elem_v(_node):
                    def per_elem_v(v, i):
                        return _node.violations(
                            bind_kv(
                                ValueRef(i.cast("long"), T.LongType(), "$.__key"),
                                ValueRef(v, T.VariantType(), "$.__val"),
                            )
                        )

                    return per_elem_v

                per_entry_v = make_entry_v(node)
                per_elem_v = make_elem_v(node)

                viols = (
                    F.when(
                        obj.isNotNull(),
                        F.flatten(F.transform(F.map_entries(obj), per_entry_v)),
                    )
                    .when(arr.isNotNull(), F.flatten(F.transform(arr, per_elem_v)))
                    .otherwise(empty_violations())
                )
            else:
                # non-container at runtime: reference silently skips
                continue
            parts.append(
                F.when(target.null(), empty_violations()).otherwise(viols)
            )
        return concat_violations(*parts)

    return FnRule(fn)
