"""Expression-language subset compiler: the Spark-native answer to the
reference's ``expr/`` rule engine (SURVEY.md §2.6; ~9k LoC Go:
tokenizer script.go:911-1351, goyacc grammar ast/expr.y, interpreter
lexer.go).  The reference interprets per document; here an expression
string compiles ONCE to a ``pyspark.sql.Column`` tree, so scripts run
columnar inside whole-stage codegen — no interpreter in the hot path.

Supported subset (the constructs the reference's own tests/readme use
in schemas — schema_expr_test.go:38-42, expr/readme.md):

  * literals: numbers (float64 semantics), 'strings' with ``${path}``
    interpolation, true/false/nil
  * ``$`` document refs: ``$.a.b``, ``$.arr[0]``; bare identifiers are
    script-local variables
  * operators: ``+ - * / %`` ; ``== != < <= > >=`` ; ``&& || !`` ;
    ``a ? b : c`` ; ``a in b`` ; ``a or b`` (first non-empty,
    funcs.go:188-196); unary ``-``
  * calls: function registry below (len/number/int/bool/string/
    sprintf/str_* /md5_sum/... ) and method sugar ``x.to_upper()``
  * statements (';'-separated or list items): expression,
    ``lvalue = expr`` assignment ($.path targets become document
    transforms; identifiers become let-bindings), ``return(args...)``
    (validation error, schema_expr.go:34-38), ``if(cond, expr)``
    conditional execution

Excluded by design (documented, SURVEY.md §2.6): goroutines/http/exec
side effects, data-dependent loops, lambdas — route those to a pandas
UDF batch instead.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.coerce import bool_of, number_of, string_of
from ..core.refs import ValueRef, resolve


class ExprError(ValueError):
    pass


# ------------------------------------------------------------ tokens

TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<num>\d+\.\d+|\d+)
    | (?P<str>'(?:[^'\\]|\\.)*')
    | (?P<id>[A-Za-z_$][A-Za-z0-9_]*)
    | (?P<op>&&|\|\||\+\+|--|\.\.\.|==|!=|<=|>=|\?\?|!!|\+=|=>|[-+*/%^&|<>=!?:;,.()\[\]{}])
    )""",
    re.VERBOSE,
)

KEYWORDS = {"in", "or", "orr", "true", "false", "nil", "null", "return", "as"}


@dataclass
class Tok:
    kind: str  # num str id op kw eof
    text: str


def tokenize(src: str) -> list[Tok]:
    out, i = [], 0
    while i < len(src):
        m = TOKEN_RE.match(src, i)
        if not m or m.end() == m.start():
            if src[i:].strip() == "":
                break
            raise ExprError(f"bad token at: {src[i:i+20]!r}")
        i = m.end()
        if m.lastgroup == "num":
            out.append(Tok("num", m.group("num")))
        elif m.lastgroup == "str":
            out.append(Tok("str", m.group("str")[1:-1]))
        elif m.lastgroup == "id":
            t = m.group("id")
            out.append(Tok("kw" if t in KEYWORDS else "id", t))
        else:
            out.append(Tok("op", m.group("op")))
    out.append(Tok("eof", ""))
    return out


# --------------------------------------------------------------- AST

@dataclass
class Lit:
    value: object


@dataclass
class Ref:  # $-rooted document path, e.g. $.a.b[0]
    path: str  # jsonpath-lite without leading '$.'


@dataclass
class Var:
    name: str


@dataclass
class Bin:
    op: str
    left: object
    right: object


@dataclass
class Un:
    op: str
    operand: object


@dataclass
class Tern:
    cond: object
    then: object
    other: object


@dataclass
class Call:
    fn: str
    args: list


@dataclass
class Interp:  # 'a ${x} b'
    parts: list  # str | AST


@dataclass
class Assign:
    target: object  # Ref or Var
    value: object


@dataclass
class Return:
    args: list


@dataclass
class Lambda:  # {x} => body   (reference lambda.go:10-56)
    params: list
    body: object


@dataclass
class AsBind:  # expr as name  (reference lexer.go:526-541, asVal 1664-1678)
    name: str
    value: object


@dataclass
class Spread:  # expr...  (reference lexer.go:412-413, VariadicVal 1609-1632)
    value: object


def _assignable(e) -> bool:
    """Legal '='/'+=' target: $.path, identifier, or a field chain
    through a variable (``v.status = ...`` — the reference mutates map
    elements bound to loop vars this way, expr/script_test.go:440)."""
    while isinstance(e, Call) and len(e.args) == 2 and (
        (e.fn == "__field__" and isinstance(e.args[1], Lit))
        or e.fn == "get"  # v[i] = x index assignment (script_test.go:146)
    ):
        e = e.args[0]
    return isinstance(e, (Ref, Var))


def field_chain(e):
    """Decompose ``v.a.b`` into ('v', ['a', 'b']); None if `e` is not a
    Var-rooted field chain."""
    fields: list[str] = []
    while (
        isinstance(e, Call)
        and e.fn == "__field__"
        and len(e.args) == 2
        and isinstance(e.args[1], Lit)
    ):
        fields.append(str(e.args[1].value))
        e = e.args[0]
    if isinstance(e, Var) and fields:
        return e.name, fields[::-1]
    return None


class Parser:
    """Pratt parser over the token stream."""

    BIN_PREC = {
        "||": 2, "or": 2, "orr": 2, "??": 2,
        "&&": 3,
        "in": 4,
        "==": 5, "!=": 5,
        "<": 6, "<=": 6, ">": 6, ">=": 6,
        "+": 7, "-": 7, "|": 7, "^": 7,
        "*": 8, "/": 8, "%": 8, "&": 8,
    }

    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> None:
        t = self.next()
        if t.text != text:
            raise ExprError(f"expected {text!r}, got {t.text!r}")

    def parse_statement(self):
        if self.peek().kind == "kw" and self.peek().text == "return":
            self.next()
            args = []
            if self.peek().text == "(":
                self.next()
                while self.peek().text != ")":
                    args.append(self.parse_expr(0))
                    if self.peek().text == ",":
                        self.next()
                self.expect(")")
            else:
                args.append(self.parse_expr(0))
            return Return(args)
        e = self.parse_expr(0)
        if self.peek().text in ("++", "--"):
            # a++ / a-- (reference lexer.go:1634-1662): NumberOf(nil)
            # coalesces a missing target to 0, so 'c.b++' creates 1
            op = self.next().text
            if not _assignable(e):
                raise ExprError(
                    "'++'/'--' target must be $.path, identifier, "
                    "var.field, or v[i]"
                )
            return Assign(e, Bin("+" if op == "++" else "-", e, Lit(1.0)))
        if self.peek().text == "=":
            self.next()
            if not _assignable(e):
                raise ExprError(
                    "left side of '=' must be $.path, identifier, or var.field"
                )
            return Assign(e, self.parse_expr(0))
        if self.peek().text == "+=":
            # a += x  ==  a = a + x  (reference lexer.go:526-541)
            self.next()
            if not _assignable(e):
                raise ExprError(
                    "left side of '+=' must be $.path, identifier, or var.field"
                )
            return Assign(e, Bin("+", e, self.parse_expr(0)))
        return e

    def parse_expr(self, min_prec: int):
        left = self.parse_unary()
        while True:
            t = self.peek()
            if t.text == "?" and min_prec <= 1:
                self.next()
                then = self.parse_expr(0)
                self.expect(":")
                other = self.parse_expr(1)
                left = Tern(left, then, other)
                continue
            if t.kind == "kw" and t.text == "as" and min_prec <= 1:
                # expr as name (reference lexer.go:526-541): evaluate,
                # bind to the variable, yield the value; chains left-
                # to-right ('x as a as b' binds both)
                self.next()
                n = self.next()
                if n.kind != "id":
                    raise ExprError(f"as right is not variable: {n.text!r}")
                left = AsBind(n.text, left)
                continue
            # kind check: a STRING token whose text is an operator
            # ('!', '-', '+', ...) must stay a literal, not an operator
            prec = self.BIN_PREC.get(t.text) if t.kind in ("op", "kw") else None
            if prec is None or prec < min_prec:
                return left
            self.next()
            right = self.parse_expr(prec + 1)
            left = Bin(t.text, left, right)

    def parse_unary(self):
        t = self.peek()
        if t.kind == "op" and t.text in ("!", "-"):
            self.next()
            return Un(t.text, self.parse_unary())
        return self.parse_postfix(self.parse_primary())

    def parse_primary(self):
        t = self.next()
        if t.kind == "num":
            return Lit(float(t.text) if "." in t.text else float(int(t.text)))
        if t.kind == "str":
            return parse_interp(t.text)
        if t.kind == "kw":
            if t.text in ("true", "false"):
                return Lit(t.text == "true")
            if t.text in ("nil", "null"):
                return Lit(None)
            if t.text == "return":
                self.i -= 1
                return self.parse_statement()
            raise ExprError(f"unexpected keyword {t.text!r}")
        if t.text == "(":
            e = self.parse_expr(0)
            self.expect(")")
            return e
        if t.text == "{":
            # lambda literal {x} => body / {k, v} => body
            params = []
            while self.peek().text != "}":
                pt = self.next()
                if pt.kind != "id":
                    raise ExprError(f"lambda params must be identifiers, got {pt.text!r}")
                params.append(pt.text)
                if self.peek().text == ",":
                    self.next()
            self.expect("}")
            self.expect("=>")
            return Lambda(params, self.parse_expr(0))
        if t.text == "[":
            items = []
            while self.peek().text != "]":
                items.append(self.parse_expr(0))
                if self.peek().text == ",":
                    self.next()
            self.expect("]")
            return Call("__array__", items)
        if t.kind == "id":
            if t.text == "$":
                return Ref("")
            if self.peek().text == "(":
                return self._call(t.text)
            return Var(t.text)
        raise ExprError(f"unexpected token {t.text!r}")

    def _call(self, name: str) -> Call:
        self.expect("(")
        args = []
        while self.peek().text != ")":
            if self.peek().kind == "kw" and self.peek().text == "return":
                args.append(self.parse_statement())
            else:
                args.append(self.parse_expr(0))
            if self.peek().text == ",":
                self.next()
        self.expect(")")
        return Call(name, args)

    def parse_postfix(self, e):
        while True:
            t = self.peek()
            if t.text == ".":
                self.next()
                name = self.next()
                if name.kind not in ("id", "kw"):
                    raise ExprError(f"expected name after '.', got {name.text!r}")
                if self.peek().text == "(":
                    # method sugar: x.f(a) == f(x, a)
                    call = self._call(name.text)
                    e = Call(name.text, [e] + call.args)
                elif isinstance(e, Ref):
                    e = Ref(f"{e.path}.{name.text}" if e.path else name.text)
                else:
                    # struct-field access on a non-$ value (lambda vars)
                    e = Call("__field__", [e, Lit(name.text)])
                continue
            if t.text == "[":
                self.next()
                idx = self.parse_expr(0)
                self.expect("]")
                if isinstance(e, Ref) and isinstance(idx, Lit) and isinstance(idx.value, float):
                    e = Ref(f"{e.path}[{int(idx.value)}]")
                else:
                    e = Call("get", [e, idx])
                continue
            if t.text == "...":
                # spread (reference lexer.go:412-413): only legal as a
                # variadic call argument — enforced at compile time
                self.next()
                return Spread(e)
            return e


def parse_interp(s: str) -> object:
    """'a ${x.y} b' -> Interp([...]); plain strings stay Lit."""
    parts: list = []
    i = 0
    buf = ""
    while i < len(s):
        if s.startswith("${", i):
            j = s.index("}", i)
            if buf:
                parts.append(buf)
                buf = ""
            # the reference parses ${...} content as a FULL expr-language
            # expression (lexer.go:860-875 parseValueV): bare identifiers
            # are variable lookups, which fall back to top-level document
            # keys (schema_expr seeds the context from the document)
            inner = s[i + 2 : j].strip()
            parts.append(Parser(tokenize(inner)).parse_expr(0))
            i = j + 1
            continue
        if s[i] == "\\" and i + 1 < len(s):
            buf += s[i + 1]
            i += 2
            continue
        buf += s[i]
        i += 1
    if buf:
        parts.append(buf)
    if len(parts) == 1 and isinstance(parts[0], str):
        return Lit(parts[0])
    if not parts:
        return Lit("")
    return Interp(parts)


def parse_statements(src) -> list:
    """Parse a script: string (';'-separated) or list of strings."""
    stmts: list = []
    sources = src if isinstance(src, list) else [src]
    for chunk in sources:
        if not isinstance(chunk, str):
            raise ExprError(f"script statements must be strings, got {type(chunk)}")
        toks = tokenize(chunk)
        p = Parser(toks)
        while p.peek().kind != "eof":
            stmts.append(p.parse_statement())
            while p.peek().text == ";":
                p.next()
    return stmts


# -------------------------------------------------------- compilation

@dataclass
class CVal:
    """Compiled value: Column + loose static type."""

    col: Column
    dtype: T.DataType | None = None
    # statically absent (e.g. a missing doc key resolved to a NullType
    # lit): field access on it must yield nil, not an AnalysisException
    exists: bool = True

    def num(self) -> Column:
        return number_of(self.col, self.dtype)

    def str_(self) -> Column:
        return string_of(self.col, self.dtype)

    def bool_(self) -> Column:
        return bool_of(self.col, self.dtype)

    def cond_(self) -> Column:
        """Expr-engine truthiness (BoolCond, expr/utils.go:43-52):
        bool -> itself, nil -> false, ANY other value -> true (even ''
        and 0).  Dynamic non-boolean values approximate as non-null."""
        if isinstance(self.dtype, T.BooleanType):
            return F.coalesce(self.col.cast("boolean"), F.lit(False))
        if isinstance(self.dtype, T.VariantType):
            # runtime BoolCond: bool -> its value, JSON null/missing ->
            # false, any other value -> true
            from ..core.variant import variant_bool

            return (
                F.when(self.col.isNull(), F.lit(False))
                .when(F.is_variant_null(self.col), F.lit(False))
                .otherwise(F.coalesce(variant_bool(self.col), F.lit(True)))
            )
        return self.col.isNotNull()


class Env:
    """Compile-time environment: root document ref + let-bound vars."""

    def __init__(self, root: ValueRef, variables: dict[str, CVal] | None = None):
        self.root = root
        self.vars = dict(variables or {})


def _ref_cval(root: ValueRef, path: str) -> CVal:
    if path == "":
        return CVal(F.lit(None), None)  # whole-doc ref: not materializable
    r = resolve(root, path)
    return CVal(r.col, r.dtype, exists=r.exists)


def _is_empty(v: CVal) -> Column:
    """Reference notNil: nil, '', 0, false are 'empty' (common.go:131-140)."""
    s = v.str_()
    return v.col.isNull() | (s == "") | (s == "0") | (s == "false")


def compile_expr(node, env: Env) -> CVal:
    if isinstance(node, Lit):
        v = node.value
        if isinstance(v, bool):
            dt = T.BooleanType()
        elif isinstance(v, float):
            dt = T.DoubleType()
        elif isinstance(v, str):
            dt = T.StringType()
        else:
            dt = None
        return CVal(F.lit(v), dt)
    if isinstance(node, Ref):
        return _ref_cval(env.root, node.path)
    if isinstance(node, Var):
        if node.name in env.vars:
            return env.vars[node.name]
        # unbound identifier -> top-level document key: the reference
        # seeds the script context from the document object
        # (schema_expr.go), so variables and doc keys share a namespace
        return _ref_cval(env.root, node.name)
    if isinstance(node, Interp):
        cols = [
            F.lit(p) if isinstance(p, str) else compile_expr(p, env).str_()
            for p in node.parts
        ]
        return CVal(F.concat_ws("", *[F.coalesce(c, F.lit("")) for c in cols]), T.StringType())
    if isinstance(node, Un):
        v = compile_expr(node.operand, env)
        if node.op == "!":
            return CVal(~v.cond_(), T.BooleanType())
        return CVal(-v.num(), T.DoubleType())
    if isinstance(node, Tern):
        c = compile_expr(node.cond, env).cond_()
        a = compile_expr(node.then, env)
        b = compile_expr(node.other, env)
        dt = a.dtype if type(a.dtype) == type(b.dtype) else None
        if dt is None or isinstance(dt, T.StringType):
            return CVal(F.when(c, a.str_()).otherwise(b.str_()), T.StringType())
        if isinstance(dt, T.NumericType):
            return CVal(F.when(c, a.num()).otherwise(b.num()), T.DoubleType())
        return CVal(F.when(c, a.col).otherwise(b.col), dt)
    if isinstance(node, Bin):
        return _compile_bin(node, env)
    if isinstance(node, Call):
        return _compile_call(node, env)
    if isinstance(node, AsBind):
        # evaluate once, bind, yield the value (reference asVal): the
        # binding is visible to the REST of the current expression /
        # statement list (the script walker persists top-level chains
        # across statements)
        v = compile_expr(node.value, env)
        env.vars[node.name] = v
        return v
    if isinstance(node, Spread):
        raise ExprError(
            "'...' spread is only valid as a variadic call argument "
            "(e.g. append(xs, more...))"
        )
    if isinstance(node, Return):
        raise ExprError("'return' is a statement, not a value expression")
    if isinstance(node, Lambda):
        raise ExprError("lambdas are only valid as arguments of "
                        "filter/map/all/any/sort")
    raise ExprError(f"cannot compile {node!r}")


def _both_numeric(a: CVal, b: CVal) -> bool:
    return isinstance(a.dtype, T.NumericType) and isinstance(b.dtype, T.NumericType)


def _compile_bin(node: Bin, env: Env) -> CVal:
    op = node.op
    a = compile_expr(node.left, env)
    b = compile_expr(node.right, env)
    if op == "&&":
        return CVal(a.cond_() & b.cond_(), T.BooleanType())
    if op == "||":
        return CVal(a.cond_() | b.cond_(), T.BooleanType())
    if op == "??":
        # strict null-coalesce (reference ?? operator)
        return CVal(F.coalesce(a.col, b.col), a.dtype or b.dtype)
    if op in ("or", "orr"):
        # first non-empty (funcs.go:188-196)
        return CVal(F.when(~_is_empty(a), a.col).otherwise(b.col), a.dtype)
    if op == "in":
        if isinstance(node.right, Call) and node.right.fn == "__array__":
            items = [compile_expr(x, env).str_() for x in node.right.args]
            return CVal(a.str_().isin(*items) if items else F.lit(False), T.BooleanType())
        if isinstance(b.dtype, T.ArrayType):
            return CVal(F.array_contains(b.col, a.col.cast(b.dtype.elementType)), T.BooleanType())
        if isinstance(b.dtype, T.MapType):
            return CVal(F.map_contains_key(b.col, a.col), T.BooleanType())
        return CVal(b.str_().contains(a.str_()), T.BooleanType())
    if op in ("==", "!="):
        if isinstance(a.dtype, T.VariantType) or isinstance(b.dtype, T.VariantType):
            # runtime-kind coercing Equal (common.go:142-154) — a raw
            # Column == on VARIANT has no ordering and fails analysis
            from ..core.coerce import coercing_equal

            eq = F.coalesce(
                coercing_equal(a.col, a.dtype, b.col, b.dtype), F.lit(False)
            )
        elif _both_numeric(a, b):
            eq = a.num() == b.num()
        elif isinstance(a.dtype, T.BooleanType) or isinstance(b.dtype, T.BooleanType):
            eq = a.bool_().eqNullSafe(b.bool_())
        else:
            eq = a.str_().eqNullSafe(b.str_()) if (a.dtype is None or b.dtype is None) else (a.col == b.col)
        return CVal(eq if op == "==" else ~eq, T.BooleanType())
    if op in ("<", "<=", ">", ">="):
        x, y = a.num(), b.num()
        col = {"<": x < y, "<=": x <= y, ">": x > y, ">=": x >= y}[op]
        return CVal(col, T.BooleanType())
    if op in ("+", "-", "*", "/", "%", "&", "|", "^"):
        if op == "+" and (
            isinstance(a.dtype, T.StringType) or isinstance(b.dtype, T.StringType)
        ):
            return CVal(F.concat(a.str_(), b.str_()), T.StringType())
        x, y = a.num(), b.num()
        if op == "+":
            return CVal(x + y, T.DoubleType())
        if op == "-":
            return CVal(x - y, T.DoubleType())
        if op == "*":
            return CVal(x * y, T.DoubleType())
        if op == "/":
            return CVal(x / F.when(y == 0, F.lit(None)).otherwise(y), T.DoubleType())
        if op == "%":
            return CVal(F.pmod(x, y), T.DoubleType())
        xi, yi = x.cast("long"), y.cast("long")
        if op == "&":
            return CVal(xi.bitwiseAND(yi), T.LongType())
        if op == "|":
            return CVal(xi.bitwiseOR(yi), T.LongType())
        return CVal(xi.bitwiseXOR(yi), T.LongType())
    raise ExprError(f"unsupported operator {op!r}")


# function registry (expr funtables, expr/funcs.go:40-134) ------------

_FN: dict[str, object] = {}


def expr_fn(name):
    def deco(f):
        _FN[name] = f
        return f

    return deco


def _compile_call(node: Call, env: Env) -> CVal:
    if node.fn == "__array__":
        elems = [compile_expr(a, env) for a in node.args]
        dt = None
        if elems and all(
            e.dtype is not None
            and e.dtype.simpleString() == elems[0].dtype.simpleString()
            for e in elems
        ):
            # homogeneous literal array: keep the element type so
            # downstream indexing/HOFs stay typed ([]any in the
            # reference, but a Column array is monomorphic anyway)
            dt = T.ArrayType(elems[0].dtype)
        return CVal(F.array(*[e.col for e in elems]), dt)
    if node.fn == "__field__":
        base = compile_expr(node.args[0], env)
        name = node.args[1].value
        if not base.exists:
            # absent doc key: resolve() yields nil for missing keys
            # (reference Ref path); getField on the NullType lit would
            # raise AnalysisException at plan time instead
            return CVal(F.lit(None), None, exists=False)
        if isinstance(base.dtype, T.StructType):
            for f_ in base.dtype.fields:
                if f_.name == name:
                    return CVal(base.col.getField(name), f_.dataType)
            # struct known but field absent: the reference's resolve()
            # yields nil for a missing key, not an error — mirror that
            # instead of letting getField raise at plan time.
            return CVal(F.lit(None), None, exists=False)
        if isinstance(base.dtype, T.MapType):
            return CVal(
                F.try_element_at(base.col, F.lit(name)), base.dtype.valueType
            )
        if isinstance(base.dtype, T.VariantType):
            # variant base (json_types="variant" documents bound to
            # vars): same key walk as ValueRef.child — non-objects and
            # absent keys yield SQL NULL, matching resolve()'s nil
            from ..core.variant import variant_child

            return CVal(variant_child(base.col, name), T.VariantType())
        if base.dtype is not None and not isinstance(
            base.dtype, (T.StructType, T.MapType)
        ):
            # scalar/array base: field access on it is nil in the
            # reference (resolve() on a non-object yields nil)
            return CVal(F.lit(None), None, exists=False)
        return CVal(base.col.getField(name), None)
    fn = _FN.get(node.fn)
    if fn is None:
        raise ExprError(f"unknown function '{node.fn}' (supported: {sorted(_FN)})")
    return fn(env, *node.args)


def _v(env, a) -> CVal:
    return compile_expr(a, env)


@expr_fn("len")
def _fn_len(env, a):
    v = _v(env, a)
    if isinstance(v.dtype, (T.ArrayType, T.MapType)):
        return CVal(F.size(v.col).cast("double"), T.DoubleType())
    # Go len(string) is bytes (expr funcs.go:1061-1078)
    return CVal(F.octet_length(v.str_()).cast("double"), T.DoubleType())


@expr_fn("number")
def _fn_number(env, a):
    return CVal(_v(env, a).num(), T.DoubleType())


@expr_fn("int")
def _fn_int(env, a):
    return CVal(_v(env, a).num().cast("long").cast("double"), T.DoubleType())


@expr_fn("bool")
def _fn_bool(env, a):
    return CVal(_v(env, a).bool_(), T.BooleanType())


@expr_fn("string")
def _fn_string(env, a):
    return CVal(_v(env, a).str_(), T.StringType())


@expr_fn("is_empty")
def _fn_is_empty(env, a):
    return CVal(_is_empty(_v(env, a)), T.BooleanType())


@expr_fn("not")
def _fn_not(env, a):
    return CVal(~_v(env, a).bool_(), T.BooleanType())


@expr_fn("ternary")
def _fn_ternary(env, c, a, b):
    return compile_expr(Tern(c, a, b), env)


@expr_fn("sprintf")
def _fn_sprintf(env, fmt, *args):
    f_ = _v(env, fmt)
    cols = [_v(env, a).col for a in args]
    fmt_s = fmt.value if isinstance(fmt, Lit) else None
    if fmt_s is None:
        raise ExprError("sprintf format must be a literal string")
    # Go verbs -> java format: %v ~ %s
    return CVal(F.format_string(fmt_s.replace("%v", "%s"), *cols), T.StringType())


def _str2(g):
    def fn(env, a, b):
        return CVal(g(_v(env, a).str_(), _v(env, b).str_()), None)

    return fn


_FN["str_has_prefix"] = lambda env, a, b: CVal(
    _v(env, a).str_().startswith(_v(env, b).str_()), T.BooleanType()
)
_FN["str_has_suffix"] = lambda env, a, b: CVal(
    _v(env, a).str_().endswith(_v(env, b).str_()), T.BooleanType()
)
_FN["has_prefix"] = _FN["str_has_prefix"]
_FN["has_suffix"] = _FN["str_has_suffix"]
_FN["contains"] = lambda env, a, b: CVal(
    _v(env, a).str_().contains(_v(env, b).str_()), T.BooleanType()
)
_FN["str_split"] = lambda env, a, b: CVal(
    F.split(_v(env, a).str_(), _v(env, b).str_(), -1),
    T.ArrayType(T.StringType()),
)
_FN["split"] = _FN["str_split"]


@expr_fn("str_join")
def _fn_str_join(env, arr, sep):
    return CVal(
        F.array_join(_v(env, arr).col, sep.value if isinstance(sep, Lit) else ""),
        T.StringType(),
    )


_FN["join"] = _FN["str_join"]
_FN["str_trim"] = lambda env, a, *r: CVal(F.trim(_v(env, a).str_()), T.StringType())
_FN["trim"] = _FN["str_trim"]
_FN["str_to_upper"] = lambda env, a: CVal(F.upper(_v(env, a).str_()), T.StringType())
_FN["to_upper"] = _FN["str_to_upper"]
_FN["str_to_lower"] = lambda env, a: CVal(F.lower(_v(env, a).str_()), T.StringType())
_FN["to_lower"] = _FN["str_to_lower"]
_FN["replace"] = lambda env, a, b, c: CVal(
    F.replace(_v(env, a).str_(), _v(env, b).str_(), _v(env, c).str_()), T.StringType()
)
def _bytes_in(v: CVal) -> Column:
    """BytesOf (expr/utils.go:127-140): []byte passes through, string
    is its UTF-8 bytes, anything else is nil."""
    if isinstance(v.dtype, T.BinaryType):
        return v.col
    if v.dtype is None or isinstance(v.dtype, T.StringType):
        return v.col.cast("binary")
    return F.lit(None).cast("binary")


# digest functions return RAW BYTES like the reference (md5SumFunc/
# sha256Func, funcs.go:1025-1042) so hex_encode(md5_sum(x)) — the
# reference's own signing idiom, expr/script_test.go:154-155 — yields
# the 32-char digest, not a hex-of-hex double encode.  Spark's
# md5()/sha2() emit lowercase hex, so the raw form is one unhex away
# and the whole chain stays codegen.
_FN["md5_sum"] = lambda env, a: CVal(
    F.unhex(F.md5(_bytes_in(_v(env, a)))), T.BinaryType()
)
_FN["md5"] = _FN["md5_sum"]
_FN["sha256_sum"] = lambda env, a: CVal(
    F.unhex(F.sha2(_bytes_in(_v(env, a)), 256)), T.BinaryType()
)
_FN["sha256"] = _FN["sha256_sum"]
_FN["bytes"] = lambda env, a: CVal(_bytes_in(_v(env, a)), T.BinaryType())
_FN["str_fields"] = lambda env, a: _FN["fields"](env, a)


@expr_fn("hmac_sha256")
def _fn_hmac_sha256(env, data, secret):
    """hmac_sha256(data, secret) -> raw 32-byte MAC (funcs.go:1056-1060).
    No JVM builtin exists for HMAC, so this is the one expr function
    that runs as an Arrow-batched pandas UDF — vectorized per batch,
    never per-row Python, and only paid by rules that actually sign."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _hmac_impl(d, k):
        import hashlib
        import hmac as _hm

        def one(dv, kv):
            if dv is None or kv is None:
                return None
            db = dv if isinstance(dv, (bytes, bytearray)) else str(dv).encode()
            kb = kv if isinstance(kv, (bytes, bytearray)) else str(kv).encode()
            return _hm.new(kb, db, hashlib.sha256).digest()

        return pd.Series([one(dv, kv) for dv, kv in zip(d, k)])

    # real type objects, not strings: `from __future__ import
    # annotations` would leave hints unresolvable for the UDF builder
    _hmac_impl.__annotations__ = {
        "d": pd.Series, "k": pd.Series, "return": pd.Series
    }
    _hmac = pandas_udf(_hmac_impl, "binary")

    dv, kv = _v(env, data), _v(env, secret)
    return CVal(_hmac(_bytes_in(dv), _bytes_in(kv)), T.BinaryType())
_FN["hex_encode_str"] = lambda env, a: CVal(F.hex(_v(env, a).str_()), T.StringType())
_FN["base64_encode"] = lambda env, a: CVal(
    F.base64(_bytes_in(_v(env, a))), T.StringType()
)
_FN["base64_decode"] = lambda env, a: CVal(
    F.unbase64(_v(env, a).str_()).cast("string"), T.StringType()
)
_FN["sqrt"] = lambda env, a: CVal(F.sqrt(_v(env, a).num()), T.DoubleType())
_FN["pow"] = lambda env, a, b: CVal(F.pow(_v(env, a).num(), _v(env, b).num()), T.DoubleType())
_FN["log10"] = lambda env, a: CVal(F.log10(_v(env, a).num()), T.DoubleType())
_FN["add"] = lambda env, a, b: CVal(_v(env, a).num() + _v(env, b).num(), T.DoubleType())
# "sub" is registered below with dtype dispatch (numeric vs time-method)
_FN["mul"] = lambda env, a, b: CVal(_v(env, a).num() * _v(env, b).num(), T.DoubleType())
_FN["div"] = lambda env, a, b: CVal(_v(env, a).num() / _v(env, b).num(), T.DoubleType())
_FN["mod"] = lambda env, a, b: CVal(F.pmod(_v(env, a).num(), _v(env, b).num()), T.DoubleType())
_FN["json_to"] = lambda env, a: CVal(F.to_json(_v(env, a).col), T.StringType())
_FN["to_json_str"] = _FN["json_to"]
def _fn_get(env, a, b):
    """get(m, k) map lookup (funcs.go:718) — also the compiled form of
    ``x[i]`` postfix indexing on non-$ values, which on arrays is
    0-based in the reference (Go slice indexing), vs Spark's 1-based
    element_at."""
    v, k = _v(env, a), _v(env, b)
    if isinstance(v.dtype, T.ArrayType):
        return CVal(
            F.try_element_at(v.col, k.num().cast("int") + F.lit(1)),
            v.dtype.elementType,
        )
    if isinstance(v.dtype, T.MapType):
        return CVal(F.try_element_at(v.col, k.str_()), v.dtype.valueType)
    if isinstance(k.dtype, T.NumericType):
        # untyped base with a numeric key: treat as 0-based array index
        # (map keys are strings throughout this engine)
        return CVal(
            F.try_element_at(v.col, k.num().cast("int") + F.lit(1)), None
        )
    return CVal(F.try_element_at(v.col, k.col), None)


def _fn_get_dispatch(env, a, b=None):
    if b is None:
        # 0-arg method form: counter.get() (funcs_obj.go:871-874) —
        # the per-row counter value
        return CVal(_v(env, a).num(), T.DoubleType())
    return _fn_get(env, a, b)


_FN["get"] = _fn_get_dispatch


# --- stateful-helper analogs (funcs_obj.go:322-324 str_builder,
# 859-880 atomic_int): the reference's builder/counter are mutable
# driver-side OBJECTS; the columnar analog treats them as per-row
# VALUES threaded through bindings — `b = b.write(x)` / statement
# `b.write(x)` rebinds (keywords_script mutation calls), `c.add(n)`
# yields the new value like atomic.Add.  Cross-ROW accumulation is
# deliberately NOT this surface (that is what aggregations are for);
# per-document accumulation in for-bodies is, matching how the
# reference's own script tests use them (script_test.go:428-469).
_FN["str_builder"] = lambda env, *a: CVal(F.lit(""), T.StringType())


def _fn_write(env, self_, *args):
    out = _v(env, self_).str_()
    for r in args:
        out = F.concat(out, _v(env, r).str_())
    return CVal(out, T.StringType())


_FN["write"] = _fn_write
_FN["atomic_int"] = lambda env, *a: CVal(
    _v(env, a[0]).num() if a else F.lit(0.0), T.DoubleType()
)
# expression set: 2-arg counter.set(n) stores and yields the stored
# value (reference returns self; its value IS n); 3-arg chained map
# form m.set(k, v) yields the UPDATED map (url.Values.Set /
# funcs_obj.go:664-667 returns self for chaining).  Mutating a bound
# variable stays statement-only (keywords_script._exec_mutation_call).
def _fn_set_expr(env, a, b=None, *rest):
    if b is None or len(rest) > 1:
        raise ExprError("set takes (counter, n) or (map, k, v)")
    if rest:
        v = _v(env, a)
        if not isinstance(v.dtype, T.MapType):
            raise ExprError(
                "3-arg set(m, k, v) needs a map-typed value; to mutate a "
                "bound variable use the statement form"
            )
        k = _v(env, b).str_()
        val = _v(env, rest[0])
        vt = v.dtype.valueType
        vcol = (
            string_of(val.col, val.dtype)
            if isinstance(vt, T.StringType)
            else val.col.cast(vt)
        )
        return CVal(
            F.map_concat(
                F.map_filter(v.col, lambda kk, _vv: kk != k),
                F.create_map(k, vcol),
            ),
            v.dtype,
        )
    if isinstance(_v(env, a).dtype, (T.MapType, T.ArrayType)):
        raise ExprError(
            "set(m, k) on a collection: set a map entry with the 3-arg form set(m, k, v)"
        )
    return CVal(_v(env, b).num(), T.DoubleType())


_FN["set"] = _fn_set_expr

# url.Values analog (funcs_obj.go:656-670): a map<string,string>
# value — url_new_values() = new(); .set(k,v) above chains; .get(k)
# is the map get; .encode() renders Go's url.Values.Encode: entries
# sorted by key, form-urlencoded (Spark's url_encode and Java's
# URLEncoder both emit '+' for space, matching Go's QueryEscape).
_FN["url_new_values"] = lambda env: CVal(
    F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<string>")
    ),
    T.MapType(T.StringType(), T.StringType()),
)


def _fn_encode(env, a):
    v = _v(env, a)
    if not isinstance(v.dtype, T.MapType):
        raise ExprError("encode() needs a map-typed value (url_new_values)")
    ents = F.array_sort(F.map_entries(v.col))
    parts = F.transform(
        ents,
        lambda e: F.concat(
            F.url_encode(e["key"].cast("string")),
            F.lit("="),
            F.url_encode(e["value"].cast("string")),
        ),
    )
    return CVal(F.array_join(parts, "&"), T.StringType())


_FN["encode"] = _fn_encode
_FN["time_format"] = lambda env, a, *r: CVal(
    F.date_format(_v(env, a).col.cast("timestamp"), "yyyy-MM-dd HH:mm:ss"),
    T.StringType(),
)


@expr_fn("eq")
def _fn_eq(env, a, b):
    return compile_expr(Bin("==", a, b), env)


@expr_fn("neq")
def _fn_neq(env, a, b):
    return compile_expr(Bin("!=", a, b), env)


for _name, _op in [("lt", "<"), ("lte", "<="), ("gt", ">"), ("gte", ">=")]:
    _FN[_name] = (lambda _o: lambda env, a, b: compile_expr(Bin(_o, a, b), env))(_op)

_FN["and"] = lambda env, *args: CVal(
    __import__("functools").reduce(
        lambda x, y: x & y, [_v(env, a).bool_() for a in args]
    ),
    T.BooleanType(),
)
_FN["or_fn"] = lambda env, *args: CVal(
    __import__("functools").reduce(
        lambda x, y: x | y, [_v(env, a).bool_() for a in args]
    ),
    T.BooleanType(),
)


def register_expr_fn(name: str, fn) -> None:
    """Extension surface mirroring expr.RegisterFunc
    (expr/funcs.go:188-204): fn(env, *ast_args) -> CVal."""
    _FN[name] = fn


# --- object-method set (reference funcs_obj.go:326-654, via the
# method-call sugar x.f(a) == f(x, a)) -------------------------------

def _trim_prefix(env, a, b):
    s, p = _v(env, a).str_(), _v(env, b).str_()
    return CVal(
        F.when(s.startswith(p), s.substr(F.length(p) + 1, F.length(s))).otherwise(s),
        T.StringType(),
    )


def _trim_suffix(env, a, b):
    s, p = _v(env, a).str_(), _v(env, b).str_()
    return CVal(
        F.when(s.endswith(p), s.substr(F.lit(1), F.length(s) - F.length(p))).otherwise(s),
        T.StringType(),
    )


_FN["trim_prefix"] = _trim_prefix
_FN["str_trim_prefix"] = _trim_prefix
_FN["trim_suffix"] = _trim_suffix
_FN["str_trim_suffix"] = _trim_suffix
_FN["has"] = _FN["contains"]
_FN["fields"] = lambda env, a: CVal(
    F.split(F.trim(F.regexp_replace(_v(env, a).str_(), r"\s+", " ")), " "),
    T.ArrayType(T.StringType()),
)
_FN["index"] = lambda env, a, b: CVal(
    (F.instr(_v(env, a).str_(), (_v(env, b).str_())) - 1).cast("double"),
    T.DoubleType(),
)


@expr_fn("slice")
def _fn_slice(env, a, st_, ed=None):
    """s.slice(st, ed): substring [st, ed) 0-based (funcs_obj slice)."""
    s = _v(env, a).str_()
    st_c = _v(env, st_).num().cast("int")
    if ed is None:
        return CVal(s.substr(st_c + 1, F.length(s)), T.StringType())
    ed_c = _v(env, ed).num().cast("int")
    return CVal(s.substr(st_c + 1, ed_c - st_c), T.StringType())


_FN["hex"] = lambda env, a: CVal(F.hex(_v(env, a).str_()), T.StringType())
_FN["json_str"] = lambda env, a: CVal(F.to_json(_v(env, a).col), T.StringType())
_FN["keys"] = lambda env, a: CVal(F.map_keys(_v(env, a).col), None)
_FN["merge"] = lambda env, a, b: CVal(
    F.map_zip_with(
        _v(env, a).col, _v(env, b).col, lambda k, v1, v2: F.coalesce(v2, v1)
    ),
    None,
)
@expr_fn("clone")
def _fn_clone(env, a):
    return _v(env, a)  # columns are immutable: clone == identity


# time methods (funcs_obj.go:602-643): operate on timestamp-typed refs
_FN["unix"] = lambda env, a: CVal(
    _v(env, a).col.cast("timestamp").cast("long").cast("double"), T.DoubleType()
)
_FN["unix_mill"] = lambda env, a: CVal(
    (F.unix_micros(_v(env, a).col.cast("timestamp")) / 1000).cast("double"),
    T.DoubleType(),
)
_FN["unix_micro"] = lambda env, a: CVal(
    F.unix_micros(_v(env, a).col.cast("timestamp")).cast("double"), T.DoubleType()
)
for _part, _f in [("day", F.dayofmonth), ("hour", F.hour), ("month", F.month),
                  ("year", F.year), ("minute", F.minute), ("second", F.second)]:
    _FN[_part] = (lambda _g: lambda env, a: CVal(
        _g(_v(env, a).col.cast("timestamp")).cast("double"), T.DoubleType()
    ))(_f)


_GO_LAYOUT = [  # Go reference-time layout -> JDK pattern (longest first)
    ("January", "MMMM"), ("Monday", "EEEE"), (".000000", ".SSSSSS"),
    (".000", ".SSS"), ("2006", "yyyy"), ("Jan", "MMM"), ("Mon", "EEE"),
    ("MST", "zzz"), ("Z07:00", "XXX"), ("-07:00", "xxx"), ("15", "HH"),
    ("06", "yy"), ("01", "MM"), ("02", "dd"), ("03", "hh"), ("04", "mm"),
    ("05", "ss"), ("PM", "a"),
]


def _go_layout(layout: str) -> str:
    for go, java in _GO_LAYOUT:
        layout = layout.replace(go, java)
    return layout


def _lit_str(node, what: str) -> str:
    if isinstance(node, Lit) and isinstance(node.value, str):
        return node.value
    raise ExprError(f"{what} must be a literal string")


# t.add_mill / t.sub / t.format / t.utc / time_parse (funcs_obj.go:
# 602-643, funcs.go:1250-1256) — the time methods real gateway rules
# use.  format/parse take Go reference-time layouts, converted to JDK
# patterns at compile time.
_FN["add_mill"] = lambda env, a, ms: CVal(
    F.timestamp_micros(
        F.unix_micros(_v(env, a).col.cast("timestamp"))
        + (_v(env, ms).num() * 1000).cast("long")
    ),
    T.TimestampType(),
)
def _fn_sub(env, a, b):
    """sub: numeric a-b (funcs.go:59) OR time.Time diff in ms
    (funcs_obj.go:602-643).  The reference keeps these in separate
    namespaces (global func vs t.sub method); here method sugar routes
    both to one name, so dispatch on the compiled operand dtype —
    timestamp diff only when an operand actually compiles to a
    TimestampType."""
    va, vb = _v(env, a), _v(env, b)
    if isinstance(va.dtype, T.TimestampType) or isinstance(vb.dtype, T.TimestampType):
        return CVal(
            (
                (
                    F.unix_micros(va.col.cast("timestamp"))
                    - F.unix_micros(vb.col.cast("timestamp"))
                )
                / 1000
            ).cast("double"),
            T.DoubleType(),
        )
    return CVal(va.num() - vb.num(), T.DoubleType())


_FN["sub"] = _fn_sub
_FN["format"] = lambda env, a, fmt: CVal(
    F.date_format(
        _v(env, a).col.cast("timestamp"), _go_layout(_lit_str(fmt, "format layout"))
    ),
    T.StringType(),
)
# session timezone is UTC; both conversions are identity there
_FN["utc"] = lambda env, a: CVal(_v(env, a).col.cast("timestamp"), T.TimestampType())
_FN["local"] = _FN["utc"]
_FN["time_parse"] = lambda env, layout, val: CVal(
    F.try_to_timestamp(
        _v(env, val).str_(), F.lit(_go_layout(_lit_str(layout, "time_parse layout")))
    ),
    T.TimestampType(),
)
# time.now() parses as now(time) via method sugar; the self arg is moot
_FN["now"] = lambda env, *a: CVal(F.current_timestamp(), T.TimestampType())

# regexp_new + r.match (funcs_obj.go:645-654): the compiled regex is
# represented by its pattern string; match = rlike
_FN["regexp_new"] = lambda env, a: _v(env, a)
_FN["match"] = lambda env, self_, src: CVal(
    F.rlike(_v(env, src).str_(), _v(env, self_).str_()), T.BooleanType()
)

# breadth set (funcs.go:41-134 table) ---------------------------------

def _fn_append(env, a, *rest):
    """append (funcs.go:331-368): string builder when the first arg is
    a string, slice append when it is an array.  A ``xs...`` spread
    argument (funcs.go:341-346) splices an array argument's ELEMENTS
    instead of appending the array itself; on the string form it
    concatenates the spread array's elements stringified."""
    v = _v(env, a)
    if isinstance(v.dtype, T.ArrayType):
        out = v.col
        run: list = []  # consecutive non-spread args batch into one array
        def flush(out, run):
            if run:
                out = F.concat(out, F.array(
                    *[c.col.cast(v.dtype.elementType) for c in run]
                ))
            return out
        for r in rest:
            if isinstance(r, Spread):
                sp = _v(env, r.value)
                if isinstance(sp.dtype, T.ArrayType):
                    out = flush(out, run)
                    run = []
                    out = F.concat(out, sp.col.cast(v.dtype))
                elif isinstance(sp.dtype, T.VariantType):
                    # runtime dispatch (VariadicVal, funcs.go:341-346):
                    # an actual JSON array splices; any other value is
                    # wrapped as a single element
                    from ..core.variant import variant_array

                    out = flush(out, run)
                    run = []
                    out = F.concat(out, F.coalesce(
                        variant_array(sp.col).cast(v.dtype),
                        F.array(sp.col.cast(v.dtype.elementType)),
                    ))
                else:
                    # non-array spread: the reference wraps it as one
                    # appended element rather than erroring
                    run.append(sp)
            else:
                run.append(_v(env, r))
        return CVal(flush(out, run), v.dtype)
    parts = []
    for r in rest:
        if isinstance(r, Spread):
            sp = _v(env, r.value)
            if isinstance(sp.dtype, T.ArrayType):
                parts.append(F.array_join(sp.col.cast("array<string>"), ""))
            elif isinstance(sp.dtype, T.VariantType):
                parts.append(F.coalesce(
                    F.array_join(
                        F.try_variant_get(sp.col, "$", "array<string>"), ""
                    ),
                    sp.str_(),
                ))
            else:
                parts.append(sp.str_())
        else:
            parts.append(_v(env, r).str_())
    return CVal(F.concat(v.str_(), *parts), T.StringType())


_FN["append"] = _fn_append
_FN["eqs"] = lambda env, a, b: CVal(
    _v(env, a).str_().eqNullSafe(_v(env, b).str_()), T.BooleanType()
)
_FN["neqs"] = lambda env, a, b: CVal(
    ~_v(env, a).str_().eqNullSafe(_v(env, b).str_()), T.BooleanType()
)
_FN["neg"] = lambda env, a: CVal(-_v(env, a).num(), T.DoubleType())
_FN["boolean"] = lambda env, a: CVal(_v(env, a).bool_(), T.BooleanType())
_FN["new"] = lambda env: CVal(
    F.map_from_arrays(F.array().cast("array<string>"), F.array().cast("array<string>")),
    T.MapType(T.StringType(), T.StringType()),
)
# nondeterministic by nature (funcs.go rand): per-row uniform [0, n)
_FN["rand"] = lambda env, a: CVal(
    F.floor(F.rand() * _v(env, a).num()).cast("double"), T.DoubleType()
)
_FN["range"] = lambda env, a: CVal(
    F.array_repeat(F.lit(None).cast("string"), _v(env, a).num().cast("int")),
    T.ArrayType(T.StringType()),
)
_FN["slice_new"] = lambda env, *a: CVal(
    F.array_repeat(
        F.lit(None).cast("string"),
        _v(env, a[0]).num().cast("int") if a else F.lit(0),
    ),
    T.ArrayType(T.StringType()),
)
_FN["slice_init"] = lambda env, *a: CVal(
    F.array(*[_v(env, x).col for x in a]), None
)
_FN["slice_cut"] = lambda env, a, st_, ed: CVal(
    F.slice(
        _v(env, a).col,
        _v(env, st_).num().cast("int") + 1,
        F.greatest(
            F.least(
                _v(env, ed).num().cast("int"),
                F.size(_v(env, a).col),
            )
            - _v(env, st_).num().cast("int"),
            F.lit(0),
        ),
    ),
    _v(env, a).dtype,
)


def _fn_inn(env, a, *targets):
    """inn (funcs.go:1079-1118): membership in arrays / map keys /
    scalar equality across the variadic targets."""
    av = _v(env, a)
    out = F.lit(False)
    for t in targets:
        tv = _v(env, t)
        if isinstance(tv.dtype, T.ArrayType):
            hit = F.array_contains(tv.col, av.col.cast(tv.dtype.elementType))
        elif isinstance(tv.dtype, T.MapType):
            hit = F.map_contains_key(tv.col, av.col.cast(tv.dtype.keyType))
        else:
            hit = av.str_().eqNullSafe(tv.str_())
        out = out | F.coalesce(hit, F.lit(False))
    return CVal(out, T.BooleanType())


_FN["inn"] = _fn_inn


def _fn_repeat(env, body, n):
    """repeat (funcs.go:1357-1382): n results as an array; a lambda
    body receives the index.  n <= 0 yields an empty array (a bare
    F.sequence(0, -1) would count DOWN and return [0, -1])."""
    count = F.greatest(_v(env, n).num().cast("int"), F.lit(0))
    idxs = F.when(
        count > 0, F.sequence(F.lit(0), count - 1)
    ).otherwise(F.array().cast("array<int>"))
    if isinstance(body, Lambda):
        fn = _hof_lambda(env, body, T.IntegerType())
        probe = fn(F.lit(0))
        return CVal(F.transform(idxs, lambda i: fn(i).col),
                    T.ArrayType(probe.dtype) if probe.dtype else None)
    v = _v(env, body)
    return CVal(F.array_repeat(v.col, count),
                T.ArrayType(v.dtype) if v.dtype else None)


_FN["repeat"] = _fn_repeat
# repeats discards the results (side-effect driver in the reference);
# a pure engine returns nil
_FN["repeats"] = lambda env, body, n: CVal(F.lit(None), None)
_FN["hex_encode"] = lambda env, a: CVal(
    F.lower(F.hex(_bytes_in(_v(env, a)))), T.StringType()
)
_FN["hex_decode"] = lambda env, a: CVal(
    F.unhex(_v(env, a).str_()).cast("string"), T.StringType()
)
_FN["time_from_unix"] = lambda env, a: CVal(
    F.timestamp_seconds(_v(env, a).num()), T.TimestampType()
)
_FN["time_now"] = lambda env, *a: CVal(F.current_timestamp(), T.TimestampType())
_FN["time_now_mill"] = lambda env, *a: CVal(
    (F.unix_micros(F.current_timestamp()) / 1000).cast("double"), T.DoubleType()
)
# schema-less JSON decode: flat objects as map<string,string>
# (documented static-engine divergence; nested docs use json_col mode)
_FN["json_from"] = lambda env, a: CVal(
    F.from_json(_v(env, a).str_(), "map<string,string>"),
    T.MapType(T.StringType(), T.StringType()),
)
_FN["to_json_obj"] = _FN["json_from"]


def _fn_type(env, a):
    """type (funcs.go:896-917): dynamic type name; statically known
    from the column dtype, 'nil' for runtime nulls."""
    v = _v(env, a)
    dt = v.dtype
    if dt is None:
        name = None
    elif isinstance(dt, T.StringType):
        name = "string"
    elif isinstance(dt, T.BooleanType):
        name = "boolean"
    elif isinstance(dt, T.NumericType):
        name = "number"
    elif isinstance(dt, T.ArrayType):
        name = "array"
    elif isinstance(dt, T.BinaryType):
        name = "bytes"
    elif isinstance(dt, (T.MapType, T.StructType)):
        name = "map[string]interface {}"
    else:
        name = dt.simpleString()
    if name is None:
        return CVal(F.lit("nil"), T.StringType())
    return CVal(
        F.when(v.col.isNull(), F.lit("nil")).otherwise(F.lit(name)),
        T.StringType(),
    )


_FN["type"] = _fn_type

# error-as-value composition (funcs.go:105-117, 1258-1347): the
# columnar engine is total — a fallible function's failure IS null
# (try_to_timestamp, try_element_at, junk-coercions), the analog of
# the reference's panic -> Result{Err} boundary.  recover(x) evaluates
# x with failures as nil instead of aborting; recoverd wraps non-nil
# into Result{Data}, which catch/unwrap immediately project back out.
# All five therefore collapse to null-transparent identity here, and
# recover-defaulting rules (`recover(parse(x)) orr default`) compile
# and agree with the reference.
for _nm in ("catch", "recover", "recovers", "recoverd", "unwrap"):
    _FN[_nm] = lambda env, a: _v(env, a)

# orr as a function (funcs.go:106): first non-empty operand
_FN["orr"] = lambda env, a, b: compile_expr(Bin("orr", a, b), env)


_GO_DUR_UNIT_NS = {
    "ns": 1.0, "us": 1e3, "µs": 1e3, "μs": 1e3, "ms": 1e6,
    "s": 1e9, "m": 6e10, "h": 3.6e12,
}


def parse_go_duration(s: str) -> float:
    """Go time.ParseDuration grammar ('1h2m3.5s', '300ms', '-1.5h')
    -> nanoseconds.  Compile-time only: duration() takes a literal in
    every reference usage (funcs_test.go:342)."""
    s = s.strip()
    if s in ("0", "+0", "-0"):
        return 0.0
    sign = 1.0
    if s and s[0] in "+-":
        sign = -1.0 if s[0] == "-" else 1.0
        s = s[1:]
    m = re.findall(r"(\d+(?:\.\d*)?|\.\d+)(ns|us|µs|μs|ms|s|m|h)", s)
    if not m or "".join(n + u for n, u in m) != s:
        raise ExprError(f"parse duration: invalid duration {s!r}")
    return sign * sum(float(n) * _GO_DUR_UNIT_NS[u] for n, u in m)


@expr_fn("duration")
def _fn_duration(env, a):
    """duration('3s') -> time.Duration as float64 nanoseconds
    (funcs.go:1773-1780; NumberOf(time.Duration) is its int64 ns)."""
    if not (isinstance(a, Lit) and isinstance(a.value, str)):
        raise ExprError("duration() takes a literal Go duration string")
    return CVal(F.lit(parse_go_duration(a.value)), T.DoubleType())


@expr_fn("Add")
def _fn_time_add(env, t, d):
    """t.Add(duration(..)): Go time.Time.Add reached by reflection in
    the reference (funcs_test.go:342) — timestamp + nanoseconds."""
    tv = _v(env, t)
    ns = _v(env, d).num()
    return CVal(
        F.timestamp_micros(
            F.unix_micros(tv.col.cast("timestamp")) + (ns / 1000).cast("long")
        ),
        T.TimestampType(),
    )


def _lit_pattern(a, what: str) -> str:
    if isinstance(a, Lit) and isinstance(a.value, str):
        return a.value
    raise ExprError(f"{what} pattern must be a literal string (the "
                    "reference compiles it once, WithCompiledArgs)")


@expr_fn("regmatch")
def _fn_regmatch(env, pat, s):
    """regmatch(pattern, s) (funcs.go:1843-1852).  Pattern is compiled
    at plan time like the reference's WithCompiledArgs; Java-regex
    dialect caveat as documented for the pattern keyword."""
    p = _lit_pattern(pat, "regmatch")
    re.compile(p)  # fail at compile time on a bad pattern, like the reference
    return CVal(_v(env, s).str_().rlike(p), T.BooleanType())


@expr_fn("regfind")
def _fn_regfind(env, pat, s):
    """regfind(pattern, s) -> [][]string of FindAllStringSubmatch
    (funcs.go:1854-1868): per match, [full, group1, ...].  The group
    count is known from the compiled pattern, so the result is an
    arrays_zip of regexp_extract_all per group — one codegen'd
    expression, no UDF."""
    p = _lit_pattern(pat, "regfind")
    ngroups = re.compile(p).groups
    sv = _v(env, s).str_()
    per_group = [
        F.regexp_extract_all(sv, F.lit(p), i) for i in range(ngroups + 1)
    ]
    if ngroups == 0:
        return CVal(
            F.transform(per_group[0], lambda x: F.array(x)),
            T.ArrayType(T.ArrayType(T.StringType())),
        )
    zipped = F.arrays_zip(*per_group)
    return CVal(
        F.transform(
            zipped,
            lambda st: F.array(*[st.getField(str(i)) for i in range(ngroups + 1)]),
        ),
        T.ArrayType(T.ArrayType(T.StringType())),
    )


# --- higher-order functions taking lambda literals -------------------
# filter/map/all/any over arrays; the lambda body compiles against a
# child Env binding the params to the HOF's element variables, so the
# whole thing stays one Spark higher-order expression — JVM-side and
# Python-free, though interpreted (CodegenFallback), not code-generated
# (reference `all`/`for` funcs.go:108-121, lambdas lambda.go:10-56).

def _hof_lambda(env: Env, lam, dtypes):
    """dtypes: per-parameter static types (list), or a single type
    applied to a one-parameter lambda."""
    if not isinstance(lam, Lambda):
        raise ExprError("expected a lambda literal, e.g. {x} => x > 3")
    if not isinstance(dtypes, (list, tuple)):
        dtypes = [dtypes]

    def spark_fn(*cols):
        inner = Env(env.root, env.vars)
        for i, (name, col) in enumerate(zip(lam.params, cols)):
            dt = dtypes[i] if i < len(dtypes) else None
            inner.vars[name] = CVal(col, dt)
        return compile_expr(lam.body, inner)

    return spark_fn


def _arr(env, a):
    v = _v(env, a)
    if not isinstance(v.dtype, T.ArrayType):
        raise ExprError("first argument must be an array value")
    return v


@expr_fn("filter")
def _fn_filter(env, a, lam):
    v = _arr(env, a)
    fn = _hof_lambda(env, lam, v.dtype.elementType)
    return CVal(F.filter(v.col, lambda x: fn(x).cond_()), v.dtype)


@expr_fn("map")
def _fn_map(env, a, lam):
    v = _arr(env, a)
    fn = _hof_lambda(env, lam, v.dtype.elementType)
    # static element type when the body's type is known (enables
    # chained member access / nested flatten)
    probe = fn(F.lit(None))
    out_dt = T.ArrayType(probe.dtype) if probe.dtype is not None else None
    return CVal(F.transform(v.col, lambda x: fn(x).col), out_dt)


@expr_fn("flatten")
def _fn_flatten(env, a):
    v = _v(env, a)
    inner = (
        v.dtype.elementType
        if isinstance(v.dtype, T.ArrayType)
        and isinstance(v.dtype.elementType, T.ArrayType)
        else None
    )
    return CVal(F.flatten(v.col), inner)


@expr_fn("all")
def _fn_all(env, a, lam):
    # reference `all` = filter-by-cond (funcs.go:1120-1152)
    return _fn_filter(env, a, lam)


@expr_fn("every")
def _fn_every(env, a, lam):
    v = _arr(env, a)
    fn = _hof_lambda(env, lam, v.dtype.elementType)
    return CVal(F.forall(v.col, lambda x: fn(x).cond_()), T.BooleanType())


@expr_fn("any")
def _fn_any(env, a, lam):
    v = _arr(env, a)
    fn = _hof_lambda(env, lam, v.dtype.elementType)
    return CVal(F.exists(v.col, lambda x: fn(x).cond_()), T.BooleanType())


@expr_fn("sort")
def _fn_sort(env, a, *lam):
    v = _arr(env, a)
    if not lam:
        return CVal(F.array_sort(v.col), v.dtype)
    fn = _hof_lambda(env, lam[0], [v.dtype.elementType, v.dtype.elementType])
    return CVal(
        F.array_sort(v.col, lambda x, y: fn(x, y).num().cast("int")), v.dtype
    )


@expr_fn("reduce")
def _fn_reduce(env, a, init, lam):
    """Fold; the init literal's type picks numeric vs string folding
    (the reference's dynamic values fold whatever the body returns)."""
    v = _arr(env, a)
    init_v = _v(env, init)
    is_str = isinstance(init_v.dtype, T.StringType) or (
        isinstance(init, Lit) and isinstance(init.value, str)
    )
    acc_dt = T.StringType() if is_str else T.DoubleType()
    fn = _hof_lambda(env, lam, [acc_dt, v.dtype.elementType])
    if isinstance(init_v.dtype, T.StringType) or (
        isinstance(init, Lit) and isinstance(init.value, str)
    ):
        return CVal(
            F.aggregate(
                v.col, init_v.str_(), lambda acc, x: fn(acc, x).str_()
            ),
            T.StringType(),
        )
    return CVal(
        F.aggregate(v.col, init_v.num(), lambda acc, x: fn(acc, x).num()),
        T.DoubleType(),
    )
