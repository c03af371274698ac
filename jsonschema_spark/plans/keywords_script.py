"""`script` keyword: embed an expr-language program in a schema
(reference schema_expr.go:8-52; program semantics §2.6/§3.3).

Each statement compiles to Column expressions once, on the driver:

  * ``$.path = expr``          -> a document transform (withColumn) AND
                                  an in-script shadow binding so later
                                  statements read the assigned value —
                                  the reference mutates sequentially
  * ``name = expr``            -> script-local let binding
  * ``return(args...)``        -> unconditional validation error
                                  ``err :[args]`` at the script's path
  * ``if(cond, return(...))``  -> conditional validation error
  * bare expression            -> no-op unless it has effects above

Unsupported constructs (loops, goroutines, lambdas, http/exec) raise
ExprError at compile time — route those to a pandas UDF batch instead.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.coerce import string_of
from ..core.errors import concat_violations, empty_violations, viol_when
from ..core.refs import ValueRef
from ..functions.expr_lang import (
    AsBind,
    Assign,
    Bin,
    Call,
    CVal,
    Env,
    ExprError,
    Lit,
    Ref,
    Return,
    Var,
    compile_expr,
    field_chain,
    parse_statements,
)
from .compiler import FnRule, Rule, SchemaError, TransformOp, register_keyword


def _shadowed_root(root: ValueRef, overrides: dict[str, CVal]) -> ValueRef:
    """Root ref whose first-level children can be overridden by earlier
    in-script assignments (sequential mutation semantics)."""
    if not overrides:
        return root
    bindings = dict(root.bindings or {})
    for path, cv in overrides.items():
        if "." not in path and "[" not in path:
            bindings[path] = ValueRef(cv.col, cv.dtype, f"$.{path}")
    return dataclasses.replace(root, bindings=bindings)


def _return_message(env: Env, args: list) -> Column:
    """Go fmt.Sprintf("err :%v", []any{...}) (schema_expr.go:36)."""
    parts: list[Column] = []
    for i, a in enumerate(args):
        v = compile_expr(a, env)
        s = string_of(v.col, v.dtype)
        if i:
            parts.append(F.lit(" "))
        parts.append(F.coalesce(s, F.lit("<nil>")))
    return F.concat(F.lit("err :["), *parts, F.lit("]"))


_SIDE_EFFECT_FNS = {"go", "exec", "http_request", "sleep", "print", "printf"}


def _reject_side_effects(node, path) -> None:
    """Compile-time scan: IO/side-effect functions are excluded from
    the columnar engine (SURVEY §2.6 — go/sleep/exec/http_request)."""
    if isinstance(node, list):
        for n in node:
            _reject_side_effects(n, path)
        return
    if isinstance(node, Call):
        if node.fn in _SIDE_EFFECT_FNS:
            raise SchemaError(
                f"script function '{node.fn}' is side-effectful and "
                f"excluded from the columnar engine (SURVEY §2.6), path:{path}"
            )
        _reject_side_effects(node.args, path)
    for attr in ("left", "right", "operand", "cond", "then", "other", "value", "args", "parts"):
        sub = getattr(node, attr, None)
        if sub is not None and not isinstance(node, Call):
            _reject_side_effects(sub, path)


def _is_break_stmt(node) -> bool:
    """A bare ``break`` statement (reference parseExpr 'break' case,
    expr/script.go:793-814; also the `break` variable, lexer.go:230) —
    our parser reads it as the expression statement Var('break')."""
    return isinstance(node, Var) and node.name == "break"


def _var_names(node, out: set) -> set:
    """All Var names an expression AST references (free variables)."""
    if isinstance(node, list):
        for n in node:
            _var_names(n, out)
        return out
    if isinstance(node, Var):
        out.add(node.name)
    for attr in ("left", "right", "operand", "cond", "then", "other",
                 "value", "args", "parts", "target", "body"):
        sub = getattr(node, attr, None)
        if sub is not None:
            _var_names(sub, out)
    return out


def _with_field_dtype(dt, fields: list, new_dt, path: str):
    """Element dtype after ``elem.withField('a.b', col)``: replace (or
    append, last segment only) the named field's type.  Intermediate
    segments must be existing struct fields — Spark's withField has the
    same constraint."""
    from pyspark.sql import types as T

    if not isinstance(dt, T.StructType):
        raise SchemaError(
            "script 'for' element write needs struct-typed elements "
            f"(got {dt.simpleString() if dt else 'nil'}); use the "
            f"foreach keyword for dynamic shapes, path:{path}"
        )
    out, found = [], False
    for f_ in dt.fields:
        if f_.name == fields[0]:
            found = True
            nd = (
                new_dt
                if len(fields) == 1
                else _with_field_dtype(f_.dataType, fields[1:], new_dt, path)
            )
            out.append(T.StructField(f_.name, nd, True))
        else:
            out.append(f_)
    if not found:
        if len(fields) > 1:
            raise SchemaError(
                f"script 'for' element write {'.'.join(fields)}: "
                f"intermediate field {fields[0]!r} does not exist on the "
                f"element, path:{path}"
            )
        out.append(T.StructField(fields[0], new_dt, True))
    return T.StructType(out)


def _index_break_bound(cond, key_name: str, path: str) -> int:
    """Number of leading elements to iterate when the for body starts
    with ``{"if": cond, "then": ["break"]}`` and cond is a pure bound
    on the loop INDEX (``i >= N`` / ``i > N`` / ``i == N``, either
    operand order).  The loop then compiles to F.slice(target, 1,
    bound) before the fold — the break-triggering element executes no
    body statement, exactly the reference's errBreak exit
    (script.go:436-484).  Conditions on the VALUE (data-dependent
    break) raise here and are routed to the columnar first-hit prefix
    search in _exec_for instead."""
    import math

    def num(x):
        if isinstance(x, Lit) and isinstance(x.value, (int, float)) \
                and not isinstance(x.value, bool):
            return float(x.value)
        return None

    bad = SchemaError(
        "script 'for' break compiles to F.slice only when its condition "
        f"is a bound on the loop index '{key_name}' "
        f"({key_name} >= N / {key_name} > N / {key_name} == N); "
        f"value-dependent breaks are not columnar, path:{path}"
    )
    if not isinstance(cond, Bin):
        raise bad
    l, r, op = cond.left, cond.right, cond.op
    if isinstance(l, Var) and l.name == key_name and num(r) is not None:
        n = num(r)
    elif isinstance(r, Var) and r.name == key_name and num(l) is not None:
        # mirrored operand order: N <= i == i >= N, N < i == i > N
        n = num(l)
        op = {"<=": ">=", "<": ">", ">=": "<=", ">": "<", "==": "=="}.get(op, op)
    else:
        raise bad
    if op == ">=":
        return max(math.ceil(n), 0)
    if op == ">":
        return max(math.floor(n) + 1, 0)
    if op == "==" and n >= 0 and n.is_integer():
        return int(n)
    raise bad


def _parse_items(operand, path):
    """Parse the script operand into a statement tree: strings parse
    to expression statements (ParseFromJSONObj string case); `#`-led
    strings are comments (noneExpr, expr/script.go:793-795); dicts are
    the object statement forms ({"if":cond,"then":..,"else":..} and
    {"switch":val,"case":{..},"default":..}, script.go:546-548)."""
    items = operand if isinstance(operand, list) else [operand]
    out = []
    for it in items:
        if isinstance(it, str):
            if it.strip().startswith("#"):
                continue
            out.extend(parse_statements(it))
        elif isinstance(it, dict):
            if "if" in it:
                cond = parse_statements(it["if"])
                if len(cond) != 1:
                    raise SchemaError(f"script if condition must be one expression, path:{path}")
                out.append({
                    "kind": "if",
                    "cond": cond[0],
                    "then": _parse_items(it.get("then", []), path),
                    "else": _parse_items(it.get("else", []), path),
                })
            elif "switch" in it:
                sval = parse_statements(it["switch"])
                if len(sval) != 1:
                    raise SchemaError(f"script switch value must be one expression, path:{path}")
                out.append({
                    "kind": "switch",
                    "value": sval[0],
                    "case": {
                        str(k): _parse_items(v, path)
                        for k, v in (it.get("case") or {}).items()
                    },
                    "default": _parse_items(it.get("default", []), path),
                })
            elif "for" in it:
                # {"for": "k,v in expr", "do": [...]} (script.go:422-484,
                # parse regex script.go:595-627): compiles to a columnar
                # fold (F.aggregate) when the body is accumulation-only
                import re as _re

                m = _re.match(r"^(\w+)\s*,\s*(\w+)\s*in\s*(.+)$", str(it["for"]))
                if not m:
                    raise SchemaError(f"invalid for exp {it['for']!r} at {path}")
                tgt = parse_statements(m.group(3))
                if len(tgt) != 1:
                    raise SchemaError(
                        f"script for target must be one expression, path:{path}"
                    )
                out.append({
                    "kind": "for",
                    "key": m.group(1),
                    "val": m.group(2),
                    "target": tgt[0],
                    "body": _parse_items(it.get("do", []), path),
                })
            else:
                raise SchemaError(f"unknown script statement object {sorted(it)} at {path}")
        else:
            raise SchemaError(f"script statements must be strings or objects, path:{path}")
    return out


@register_keyword("script")
def kw_script(operand, path, siblings, ctx) -> Rule:
    try:
        stmts = _parse_items(operand, path)
    except ExprError as e:
        raise SchemaError(f"script parse error at {path}: {e}") from e

    _reject_side_effects([st for st in stmts if not isinstance(st, dict)], path)
    guards = list(ctx.guards)

    def compile_script(root: ValueRef):
        """Walk the statement tree once, threading an active branch
        guard (object if/switch forms nest), building
        (violations, transforms)."""
        state = {
            "env_vars": {},
            "overrides": {},  # path -> CVal (sequential mutation view)
            "viols": [],
            "assigns": [],
        }

        def fresh_env():
            e = Env(_shadowed_root(root, state["overrides"]), state["env_vars"])
            return e

        def emit_assign(tgt_path: str, val: CVal, guard):
            if guard is not None:
                cur = compile_expr(Ref(tgt_path), fresh_env())
                val = CVal(F.when(guard, val.col).otherwise(cur.col), val.dtype)
            state["overrides"][tgt_path] = val
            state["assigns"].append((tgt_path, val))

        def emit_return(args, guard, env):
            msg = _return_message(env, args)
            if guard is None:
                state["viols"].append(
                    F.array(F.struct(F.lit(path).alias("path"), msg.alias("info")))
                )
            else:
                state["viols"].append(viol_when(guard, path, msg))

        def _exec_for(st, guard):
            """{"for": "k,v in expr", "do": [name = expr, ...]} as ONE
            F.aggregate fold (script.go:426-484 forRange; interpreted, as
            Spark runs every higher-order function, but a single pass):
            arrays bind k=index/v=element, maps k=key/v=value; body
            statements update accumulator variables sequentially (later
            statements see earlier updates, same as the reference's
            Context.Set).  Per-element writes through the loop value
            var (``v.field = expr``, the reference's mutation idiom —
            expr/script_test.go:440) compile to ONE F.transform /
            F.transform_values over the target, written back to the
            document path; write RHSes reading accumulators are
            rejected (cross-iteration order dependence).  `break` as
            the first body statement compiles to a prefix slice:
            constant for index bounds, first-hit search for
            element-value conditions (accumulator-reading conditions
            are rejected — order-dependent exits are not columnar).
            Accumulators are typed numeric-or-string from a nil-typed
            compile probe (the reference folds dynamic values).  Known
            narrowing: the accumulator keeps its coerced string/double
            type even when an enclosing guard is false or the target is
            nil — its VALUE is preserved via coercion, but e.g. a
            boolean pre-binding reads back as 'true' (one Column must
            carry one type)."""
            from pyspark.sql import types as T

            env = fresh_env()
            tgt = compile_expr(st["target"], env)
            body = st["body"]
            # break (script.go:436-446 errBreak): a leading
            # {"if": cond, "then": ["break"]} slices the iterated
            # prefix before the fold — a literal index bound slices a
            # constant prefix; any other cond that is a pure function
            # of (index, element) compiles to a columnar first-hit
            # search (the break-triggering element and everything after
            # never run the body, exactly the reference's exit)
            break_cond = None
            if (
                body
                and isinstance(body[0], dict)
                and body[0].get("kind") == "if"
                and len(body[0]["then"]) == 1
                and _is_break_stmt(body[0]["then"][0])
                and not body[0]["else"]
            ):
                break_cond = body[0]["cond"]
                body = body[1:]
            # classify the body: accumulator assigns (name = expr) fold;
            # element writes THROUGH the loop value var (v.field = expr
            # — the reference mutates elements exactly this way,
            # expr/script_test.go:440 "v.status=v.data.status") compile
            # to ONE F.transform/F.transform_values over the target
            seq: list[tuple] = []  # ("acc", Assign) | ("write", fields, ast)
            for b in body:
                if _is_break_stmt(b) or (
                    isinstance(b, dict)
                    and b.get("kind") == "if"
                    and any(_is_break_stmt(x) for x in b["then"] + b["else"])
                ):
                    raise SchemaError(
                        "script 'for' supports break only as the FIRST body "
                        "statement {'if': cond, 'then': ['break']}"
                        f", path:{path}"
                    )
                if isinstance(b, Assign) and isinstance(b.target, Var):
                    seq.append(("acc", b))
                    continue
                fc = field_chain(b.target) if isinstance(b, Assign) else None
                if fc and fc[0] == st["val"]:
                    seq.append(("write", fc[1], b.value))
                    continue
                if fc:
                    raise SchemaError(
                        "script 'for' element writes must go through the "
                        f"loop value variable {st['val']!r} (got "
                        f"{fc[0]!r}.{'.'.join(fc[1])}), path:{path}"
                    )
                raise SchemaError(
                    "script 'for' compiles to a columnar fold: the body "
                    "may only accumulate variables (name = expr) or write "
                    f"element fields ({st['val']}.field = expr); use "
                    f"the foreach keyword beyond that, path:{path}"
                )
            if not body:
                return
            names: list[str] = []
            for b in body:
                if (
                    isinstance(b, Assign)
                    and isinstance(b.target, Var)
                    and b.target.name not in names
                ):
                    names.append(b.target.name)
            writes = [s for s in seq if s[0] == "write"]
            if writes:
                # cross-iteration order dependence: an accumulator
                # carries state between iterations, so a write RHS
                # reading one would make element i's new value depend
                # on elements 0..i-1 — not expressible in one transform
                for _, fields, val_ast in writes:
                    reads = _var_names(val_ast, set()) & set(names)
                    if reads:
                        raise SchemaError(
                            "script 'for' element write RHS reads loop "
                            f"accumulator(s) {sorted(reads)} — "
                            "order-dependent writes are not columnar; "
                            f"use the foreach keyword, path:{path}"
                        )
                if not isinstance(st["target"], Ref) or any(
                    c in st["target"].path for c in ".["
                ):
                    raise SchemaError(
                        "script 'for' element writes need the loop target "
                        "to be a top-level document path ($.name) so the "
                        f"rewritten value has a place to land, path:{path}"
                    )

            if isinstance(tgt.dtype, T.MapType):
                if break_cond is not None:
                    raise SchemaError(
                        "script 'for' break over a map is non-deterministic "
                        "(Go map iteration order is random, script.go:456-467)"
                        f", path:{path}"
                    )
                entries = F.map_entries(tgt.col)
                k_dt, v_dt = tgt.dtype.keyType, tgt.dtype.valueType

                def kv(acc, x):
                    return CVal(x["key"], k_dt), CVal(x["value"], v_dt)
            elif isinstance(tgt.dtype, T.ArrayType):
                arr = tgt.col
                v_dt = tgt.dtype.elementType
                n_keep = None  # Column: iterated-prefix length under break
                if break_cond is not None:
                    try:
                        # literal index bound: constant prefix
                        n_keep = F.lit(
                            _index_break_bound(break_cond, st["key"], path)
                        )
                    except SchemaError:
                        # value-dependent break: the prefix ends at the
                        # FIRST element whose cond holds.  Only legal
                        # when cond is pure in (index, element) —
                        # reading a loop accumulator makes the exit
                        # order-dependent, which no columnar prefix
                        # search can express
                        acc_reads = _var_names(break_cond, set()) & set(names)
                        if acc_reads:
                            raise SchemaError(
                                "script 'for' break condition reads loop "
                                f"accumulator(s) {sorted(acc_reads)} — "
                                "order-dependent exits are not columnar; "
                                "bound the loop by index or element value "
                                f"instead, path:{path}"
                            )

                        def hit(x, i):
                            benv = Env(
                                env.root,
                                {**state["env_vars"],
                                 st["key"]: CVal(
                                     (i - 1).cast("double"), T.DoubleType()
                                 ),
                                 st["val"]: CVal(x, v_dt)},
                            )
                            c = compile_expr(break_cond, benv).cond_()
                            return F.coalesce(c, F.lit(False))

                        pairs = F.zip_with(
                            arr,
                            F.sequence(F.lit(1), F.size(arr)),
                            lambda x, i: F.struct(
                                hit(x, i).alias("hit"), i.alias("i")
                            ),
                        )
                        first = F.try_element_at(
                            F.filter(pairs, lambda s: s["hit"]), F.lit(1)
                        )["i"]
                        # no hit -> whole array (size()>=1 here: the
                        # size-0 case pads zip_with with null elements
                        # whose slice is empty either way)
                        n_keep = F.coalesce(first - 1, F.size(arr))
                entries = arr if n_keep is None else F.slice(arr, 1, n_keep)

                def kv(acc, x):
                    return CVal(acc["__i"].cast("double"), T.DoubleType()), CVal(x, v_dt)
            else:
                raise SchemaError(
                    f"script 'for' target must be an array or map value, path:{path}"
                )

            def apply_write(vcv: CVal, fields, val_cv: CVal) -> CVal:
                new_dt = _with_field_dtype(
                    vcv.dtype, fields, val_cv.dtype or T.NullType(), path
                )
                return CVal(
                    vcv.col.withField(".".join(fields), val_cv.col), new_dt
                )

            # driver-side TYPE PROBE: compile each body template once
            # against nil-typed loop vars and the accumulator's INITIAL
            # dtype (the pre-loop binding's type, or nil when unbound —
            # the reference's first iteration sees exactly that), so
            # type-dispatching expressions (`+`: numeric add unless a
            # side is a string) pick the reference's branch even for
            # unseeded accumulators.  Element writes evolve the element
            # DTYPE through the walk (sequential mutation view).
            if isinstance(tgt.dtype, T.MapType):
                kcv0 = CVal(F.lit(None), tgt.dtype.keyType)
            else:
                kcv0 = CVal(F.lit(None), T.DoubleType())
            probe_cur: dict[str, CVal] = {}
            for n in names:
                cur0 = state["env_vars"].get(n)
                probe_cur[n] = CVal(F.lit(None), cur0.dtype if cur0 else None)
            probe_elem_dt = v_dt
            for item in seq:
                benv = Env(
                    env.root,
                    {**state["env_vars"], **probe_cur,
                     st["key"]: kcv0,
                     st["val"]: CVal(F.lit(None), probe_elem_dt)},
                )
                if item[0] == "acc":
                    b = item[1]
                    probe_cur[b.target.name] = compile_expr(b.value, benv)
                else:
                    _, wfields, wast = item
                    wv = compile_expr(wast, benv)
                    probe_elem_dt = _with_field_dtype(
                        probe_elem_dt, wfields, wv.dtype or T.NullType(), path
                    )
            elem_final_dt = probe_elem_dt

            if names:
                inits: dict[str, CVal] = {}
                for n in names:
                    cur = state["env_vars"].get(n) or CVal(F.lit(None), None)
                    if isinstance(probe_cur[n].dtype, T.NumericType):
                        inits[n] = CVal(cur.num(), T.DoubleType())
                    else:
                        inits[n] = CVal(cur.str_(), T.StringType())
                init_struct = F.struct(
                    *[inits[n].col.alias(n) for n in names],
                    F.lit(0).cast("long").alias("__i"),
                )

                def step(acc, x):
                    kcv, vcv = kv(acc, x)
                    cur = {n: CVal(acc[n], inits[n].dtype) for n in names}
                    for item in seq:
                        benv = Env(
                            env.root,
                            {**state["env_vars"], **cur,
                             st["key"]: kcv, st["val"]: vcv},
                        )
                        if item[0] == "acc":
                            b = item[1]
                            cur[b.target.name] = compile_expr(b.value, benv)
                        else:
                            # element write: later statements in THIS
                            # iteration read the written value (the
                            # reference's sequential Context semantics)
                            _, wfields, wast = item
                            vcv = apply_write(
                                vcv, wfields, compile_expr(wast, benv)
                            )
                    fields = []
                    for n in names:
                        if isinstance(inits[n].dtype, T.NumericType):
                            fields.append(cur[n].num().alias(n))
                        else:
                            fields.append(cur[n].str_().alias(n))
                    fields.append((acc["__i"] + 1).alias("__i"))
                    return F.struct(*fields)

                folded = F.aggregate(entries, init_struct, step)

                for n in names:
                    # nil target -> loop body never ran (forRange returns
                    # nil): keep the pre-loop value
                    final = F.when(entries.isNotNull(), folded[n]).otherwise(inits[n].col)
                    if guard is not None:
                        final = F.when(guard, final).otherwise(inits[n].col)
                    state["env_vars"][n] = CVal(final, inits[n].dtype)

            if writes:
                # ONE JVM-side rewrite of the whole target — the loop's
                # element writes ARE a projection per element, exactly
                # F.transform / F.transform_values (VERDICT r2 item 6;
                # reference semantics expr/script.go:436-484 with
                # c.Set-bound loop vars)
                def new_elem(kcv: CVal, vcv: CVal) -> CVal:
                    for item in seq:
                        if item[0] != "write":
                            continue
                        _, wfields, wast = item
                        benv = Env(
                            env.root,
                            {**state["env_vars"],
                             st["key"]: kcv, st["val"]: vcv},
                        )
                        vcv = apply_write(
                            vcv, wfields, compile_expr(wast, benv)
                        )
                    return vcv

                if isinstance(tgt.dtype, T.ArrayType):
                    def tx(x, i):
                        return new_elem(
                            CVal(i.cast("double"), T.DoubleType()),
                            CVal(x, v_dt),
                        ).col

                    if n_keep is None:
                        new_col = F.transform(arr, tx)
                        new_dt = T.ArrayType(elem_final_dt)
                    elif elem_final_dt.simpleString() == v_dt.simpleString():
                        nk = n_keep
                        new_col = F.transform(
                            arr,
                            lambda x, i: F.when(i < nk, tx(x, i)).otherwise(x),
                        )
                        new_dt = tgt.dtype
                    else:
                        raise SchemaError(
                            "script 'for' break + a type-changing element "
                            "write would mix element types in one array "
                            f"(rewritten prefix vs original suffix), path:{path}"
                        )
                else:
                    new_col = F.transform_values(
                        tgt.col,
                        lambda k, v: new_elem(
                            CVal(k, k_dt), CVal(v, tgt.dtype.valueType)
                        ).col,
                    )
                    new_dt = T.MapType(k_dt, elem_final_dt)
                emit_assign(st["target"].path, CVal(new_col, new_dt), guard)

        def bind_var(name: str, new: CVal, guard):
            """(Re)bind a script variable, respecting the active branch
            guard (false branch keeps the old binding, like the
            reference's Context scoping under a false `if`)."""
            if guard is not None:
                old = state["env_vars"].get(name)
                oldc = old.col if old is not None else F.lit(None)
                if new.dtype is not None and old is not None:
                    oldc = oldc.cast(new.dtype)
                new = CVal(F.when(guard, new.col).otherwise(oldc), new.dtype)
            state["env_vars"][name] = new

        def _mutable_var(st, env) -> CVal:
            tgt = st.args[0]
            if not (isinstance(tgt, Var) and tgt.name in state["env_vars"]):
                raise SchemaError(
                    f"script {st.fn}() target must be a script variable "
                    f"(e.g. m = new(); {st.fn}(m, ...)) — document paths "
                    f"use '$.path = expr', path:{path}"
                )
            return state["env_vars"][tgt.name]

        def _exec_mutation_call(st, guard, env):
            """set_to/seto (funcs.go:1510-1525), set (funcs.go:696),
            set_index (funcs.go:704), delete (funcs.go:713), write and
            counter add (funcs_obj.go:322-324, 869-871): in-place
            context/collection mutation.  Columns are immutable, so the
            columnar form REBINDS the named script variable to the
            rewritten value — sequential visibility is the compile-time
            binding order, exactly like '=' assignments."""
            from pyspark.sql import types as T

            if st.fn in ("set_to", "seto"):
                if len(st.args) != 2:
                    raise SchemaError(f"{st.fn}(value, name) takes 2 args, path:{path}")
                val = compile_expr(st.args[0], env)
                nm = st.args[1]
                if isinstance(nm, Var):
                    name = nm.name
                elif isinstance(nm, Lit) and isinstance(nm.value, str):
                    name = nm.value
                else:
                    raise SchemaError(
                        f"{st.fn}() variable name must be an identifier or "
                        f"string literal, path:{path}"
                    )
                bind_var(name, val, guard)
                return
            cur = _mutable_var(st, env)
            name = st.args[0].name
            if st.fn == "write":
                # statement-position builder write (funcs_obj.go
                # SelfDefine write; script_test.go:469 'sbb::write(k,v)'
                # inside for): rebind the variable to the accumulated
                # string
                out = string_of(cur.col, cur.dtype)
                for a in st.args[1:]:
                    v = compile_expr(a, env)
                    out = F.concat(out, v.str_())
                bind_var(name, CVal(out, T.StringType()), guard)
                return
            if st.fn == "set" and len(st.args) == 2:
                # counter.set(n) statement (funcs_obj.go:864-867):
                # rebind to the stored numeric value
                if isinstance(cur.dtype, (T.MapType, T.ArrayType)):
                    raise SchemaError(
                        f"set({name}, k) on a collection: set a map entry "
                        f"with the 3-arg form set({name}, k, v), path:{path}"
                    )
                v = compile_expr(st.args[1], env)
                bind_var(name, CVal(v.num(), T.DoubleType()), guard)
                return
            if st.fn == "add":
                # counter.add(n) statement (atomic.Int64 Add,
                # funcs_obj.go:869-871): rebind to the new count
                if len(st.args) != 2 or not isinstance(cur.dtype, T.NumericType):
                    raise SchemaError(
                        f"a bare add() statement must be counter.add(n) on an "
                        f"atomic_int variable, path:{path}"
                    )
                v = compile_expr(st.args[1], env)
                bind_var(name, CVal(cur.num() + v.num(), T.DoubleType()), guard)
                return
            if st.fn == "set":
                if not isinstance(cur.dtype, T.MapType):
                    raise SchemaError(
                        f"set(m,k,v) needs a map-typed variable (the "
                        f"reference's setFunc is map[string]any), path:{path}"
                    )
                k = compile_expr(st.args[1], env).str_()
                v = compile_expr(st.args[2], env)
                vt = cur.dtype.valueType
                vcol = (
                    string_of(v.col, v.dtype)
                    if isinstance(vt, T.StringType)
                    else v.col.cast(vt)
                )
                new = CVal(
                    F.map_concat(
                        F.map_filter(cur.col, lambda kk, _vv: kk != k),
                        F.create_map(k, vcol),
                    ),
                    cur.dtype,
                )
            elif st.fn == "set_index":
                if not isinstance(cur.dtype, T.ArrayType):
                    raise SchemaError(
                        f"set_index(a,i,v) needs an array-typed variable, path:{path}"
                    )
                idx = compile_expr(st.args[1], env).num().cast("int")
                v = compile_expr(st.args[2], env)
                et = cur.dtype.elementType
                vcol = (
                    string_of(v.col, v.dtype)
                    if isinstance(et, T.StringType)
                    else v.col.cast(et)
                )
                # out-of-range: the reference errors the script run;
                # here the write is a no-op (documented divergence —
                # a columnar row error would poison the whole batch)
                new = CVal(
                    F.transform(
                        cur.col, lambda x, i: F.when(i == idx, vcol).otherwise(x)
                    ),
                    cur.dtype,
                )
            elif st.fn == "delete":
                if not isinstance(cur.dtype, T.MapType):
                    raise SchemaError(
                        f"delete(m,k) needs a map-typed variable, path:{path}"
                    )
                k = compile_expr(st.args[1], env).str_()
                new = CVal(
                    F.map_filter(cur.col, lambda kk, _vv: kk != k), cur.dtype
                )
            else:  # pragma: no cover
                raise SchemaError(f"unhandled mutation fn {st.fn}, path:{path}")
            bind_var(name, new, guard)

        def _asbind_names(node, out: list) -> list:
            """Names bound by 'as' anywhere inside a statement's
            expressions (NOT descending into lambda bodies — their
            params are scoped).  Used to persist nested binds to the
            statement sequence, matching the reference's shared
            context (asVal sets the context var wherever it runs)."""
            if isinstance(node, AsBind):
                out.append(node.name)
                _asbind_names(node.value, out)
            elif isinstance(node, Assign):
                _asbind_names(node.value, out)
            elif isinstance(node, Bin):
                _asbind_names(node.left, out)
                _asbind_names(node.right, out)
            elif isinstance(node, Return):
                for a in node.args:
                    _asbind_names(a, out)
            elif isinstance(node, Call):
                for a in node.args:
                    _asbind_names(a, out)
            elif hasattr(node, "cond"):  # Tern
                for attr in ("cond", "then", "other"):
                    _asbind_names(getattr(node, attr), out)
            elif hasattr(node, "operand"):  # Un
                _asbind_names(node.operand, out)
            elif hasattr(node, "parts"):  # Interp
                for p in node.parts:
                    if not isinstance(p, str):
                        _asbind_names(p, out)
            return out

        def walk(nodes, guard):
            for st in nodes:
                env = fresh_env()
                if isinstance(st, dict) and st.get("kind") == "if":
                    cond = compile_expr(st["cond"], env).cond_()
                    walk(st["then"], cond if guard is None else (guard & cond))
                    walk(st["else"], ~cond if guard is None else (guard & ~cond))
                elif isinstance(st, dict) and st.get("kind") == "for":
                    _exec_for(st, guard)
                elif isinstance(st, dict) and st.get("kind") == "switch":
                    sval = compile_expr(st["value"], env).str_()
                    matched = None
                    for cv, sub in st["case"].items():
                        c = sval.eqNullSafe(F.lit(cv))
                        walk(sub, c if guard is None else (guard & c))
                        matched = c if matched is None else (matched | c)
                    if st["default"]:
                        none = F.lit(True) if matched is None else ~matched
                        walk(st["default"], none if guard is None else (guard & none))
                elif isinstance(st, Assign):
                    val = compile_expr(st.value, env)
                    if isinstance(st.target, Var):
                        # let-bindings are pure: no guard needed
                        state["env_vars"][st.target.name] = val
                    elif isinstance(st.target, Ref):
                        emit_assign(st.target.path, val, guard)
                    elif (
                        isinstance(st.target, Call)
                        and st.target.fn == "get"
                        and len(st.target.args) == 2
                    ):
                        # v[i] = x (expr/script_test.go:146 'ss[0]=1'):
                        # index assignment through a script variable is
                        # sugar for set_index/set on it
                        base = st.target.args[0]
                        idx = st.target.args[1]
                        kind = "set"
                        if isinstance(base, Var) and base.name in state["env_vars"]:
                            from pyspark.sql import types as T

                            if isinstance(
                                state["env_vars"][base.name].dtype, T.ArrayType
                            ):
                                kind = "set_index"
                        _exec_mutation_call(
                            Call(kind, [base, idx, st.value]), guard, env
                        )
                    else:
                        raise SchemaError(
                            "field writes through a variable (v.field = "
                            "expr) are only supported inside a 'for' body "
                            f"(per-element mutation), path:{path}"
                        )
                elif isinstance(st, AsBind):
                    # 'expr as a as b' at statement level (reference
                    # asVal): evaluate once, bind every chained name
                    # for the remaining statements.  Persist through
                    # bind_var so a false branch guard keeps the old
                    # binding (asVal only runs when its branch does).
                    compile_expr(st, env)  # binds into env.vars
                    n = st
                    while isinstance(n, AsBind):
                        bind_var(n.name, env.vars[n.name], guard)
                        n = n.value
                elif isinstance(st, Return):
                    emit_return(st.args, guard, env)
                elif isinstance(st, Call) and st.fn == "if":
                    if len(st.args) != 2:
                        raise SchemaError(f"script if() needs (cond, effect) at {path}")
                    cond = compile_expr(st.args[0], env).cond_()
                    g = cond if guard is None else (guard & cond)
                    eff = st.args[1]
                    if isinstance(eff, Return):
                        emit_return(eff.args, g, env)
                    elif isinstance(eff, Assign) and isinstance(eff.target, Ref):
                        emit_assign(eff.target.path, compile_expr(eff.value, env), g)
                    else:
                        raise SchemaError(
                            f"script if() effect must be return(...) or $.path = ... at {path}"
                        )
                elif isinstance(st, Call) and st.fn in (
                    "set_to", "seto", "set", "set_index", "delete", "write", "add"
                ):
                    _exec_mutation_call(st, guard, env)
                elif _is_break_stmt(st):
                    raise SchemaError(
                        "'break' is only meaningful as the first statement "
                        "of a for body ({'if': '<index bound>', 'then': "
                        f"['break']}}), path:{path}"
                    )
                # bare pure expressions: no effect (side-effectful calls
                # were rejected at compile time)
                if not isinstance(st, dict):
                    # persist 'as' binds nested inside this statement's
                    # expressions (compile_expr bound them into this
                    # statement's env.vars; sub-walks of if/for/switch
                    # dict statements handle their own)
                    for nm in _asbind_names(st, []):
                        if nm in env.vars:
                            bind_var(nm, env.vars[nm], guard)

        walk(stmts, None)
        return state["viols"], state["assigns"]

    # transforms: registered once at compile time; they re-walk the
    # statements against the *current* DataFrame when applied
    def apply_transforms(df, root: ValueRef):
        _, assigns = compile_script(root)
        cond = None
        if guards:
            from functools import reduce

            cond = reduce(lambda a, b: a & b, [g(root) for g in guards])
        # apply ALL assigns in one withColumns: sequential-read semantics
        # are already inlined at compile time (every later statement read
        # the assigned value through the override shadow, embedding the
        # earlier EXPRESSION, not the column name).  Sequential
        # withColumn calls would instead let a later expression's by-name
        # F.col(p) resolve against an earlier assign's output — e.g. a
        # for-loop fold over $.xs re-reading the loop's own element
        # rewrite (double application).  Last assign per path wins; it
        # embeds the prior ones.
        out: dict[str, Column] = {}
        for p, cv in assigns:
            col = cv.col
            if "." in p or "[" in p:
                raise SchemaError(f"script assignment to nested path '{p}' "
                                  f"needs the column to be a struct field")
            if cond is not None:
                old = F.col(p) if p in df.columns else F.lit(None)
                col = F.when(cond, col).otherwise(old)
            if p in df.columns:
                col = col.cast(df.schema[p].dataType) if cv.dtype is None else col
            out[p] = col
        return df.withColumns(out) if out else df

    ctx.transforms.append(TransformOp(apply_transforms, "script"))

    def fn(ref: ValueRef) -> Column:
        viols, _ = compile_script(ref)
        if not viols:
            return empty_violations()
        return concat_violations(*viols)

    return FnRule(fn)
