"""Schema-document -> Column-expression plan compiler.

The Spark-native analog of the reference's compile step
(``NewProp``, /root/reference/validator_core.go:304-363): a schema
document (a plain python dict, same JSON shape the reference accepts)
is compiled ONCE on the driver into a tree of ``Rule`` objects, each of
which knows how to emit a typed violations Column for a ``ValueRef``.
Catalyst then optimizes the resulting expression DAG (constant folding,
predicate reordering).  Whole-stage codegen is not free: Spark
interprets higher-order functions (``exists``, ``transform``,
``aggregate``, ...) as ``CodegenFallback`` expressions, and one of them
takes the whole operator that holds it out of the generated code.  So
``Rule.fails`` over typed arrays tests elements without a lambda where a
keyword has a whole-array form (``Rule.any_fails``).

Keyword factories are registered by name, mirroring
``RegisterValidator`` (validator_core.go:224-229), and are sorted by
the reference's priority table (validator_core.go:211-219) so sibling
cross-references (required->properties, maximum->exclusiveMaximum,
if->then/else, switch->case/defaults) resolve identically and error
accumulation order matches ``ArrProp.Validate``
(validator_core.go:278-285).
"""

from __future__ import annotations

import functools
import itertools

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.errors import concat_violations, empty_violations
from ..core.refs import ValueRef


class SchemaError(ValueError):
    """Raised at compile time for malformed schema documents
    (the reference returns build errors from NewValidatorFunc)."""


class Rule:
    """A compiled keyword with two outputs for a value: ``violations``,
    its array<struct<path,info>>, and ``fails``, the boolean
    ``size(violations) > 0`` (never NULL).  ``fails`` is the engine's
    only answer to "does this value fail" — verdict counting on every
    route and the if/anyOf/not conditions inside ``violations``.
    Keywords override it with a direct predicate where building the
    array only to test its size would be the cost.

    ``any_fails`` is the optional whole-array form that ``items`` uses
    over a typed (non-variant) array ref: whether ``fails`` holds for
    some element, as an expression without a lambda, or None when the
    keyword has none — ``items`` then tests that keyword per element
    with ``exists``, which is correct but interpreted
    (``CodegenFallback``)."""

    def violations(self, ref: ValueRef) -> Column:  # pragma: no cover
        raise NotImplementedError

    def fails(self, ref: ValueRef) -> Column:
        return F.coalesce(F.size(self.violations(ref)) > 0, _never())

    def any_fails(self, ref: ValueRef) -> Column | None:
        return None


def _never() -> Column:
    """``lit(False)`` as one shared Column per SparkContext: the verdict
    of a check that cannot fail on the value's static type.  ``or_all``
    and the combinators drop it by identity, so a statically dead check
    costs no further Column calls on the driver."""
    from pyspark import SparkContext

    return _false_of(SparkContext._active_spark_context)


@functools.lru_cache(maxsize=1)
def _false_of(sc) -> Column:
    return F.lit(False)


class FnRule(Rule):
    def __init__(
        self,
        fn: Callable[[ValueRef], Column],
        fails: Callable[[ValueRef], Column] | None = None,
    ):
        self.fn = fn
        self._fails = fails

    def violations(self, ref: ValueRef) -> Column:
        return self.fn(ref)

    def fails(self, ref: ValueRef) -> Column:
        if self._fails is None:
            return super().fails(ref)
        return self._fails(ref)


class CondRule(Rule):
    """A keyword that fails on one condition at the value's own path —
    one definition, both outputs.  ``build(ref)`` returns None when the
    keyword cannot fail on this ref's static type, else
    ``(fail, info)`` or ``(fail, info, unless)``: the failure condition
    (NULL counts as passing), a thunk for the message (built only for
    the violations output) and a condition under which the keyword
    passes outright.  With ``skip_null`` a missing value passes (the
    reference's null-skip fast paths, validator_base.go:180-183,
    461-463).  ``over_array(rule, array_ref)`` gives the rule's
    whole-array form (``Rule.any_fails``), built from ``rule.fails``
    itself so the keyword's meaning stays in ``build``."""

    def __init__(self, build, skip_null: bool = True, over_array=None):
        self.build = build
        self.skip_null = skip_null
        self.over_array = over_array

    def _built(self, ref: ValueRef):
        if self.skip_null and not ref.exists:
            return None
        return self.build(ref)

    def violations(self, ref: ValueRef) -> Column:
        from ..core.errors import viol_when

        built = self._built(ref)
        if built is None:
            return empty_violations()
        v = viol_when(built[0], ref.path, built[1]())
        if len(built) > 2:
            v = F.when(built[2], empty_violations()).otherwise(v)
        if self.skip_null:
            v = F.when(ref.null(), empty_violations()).otherwise(v)
        return v

    def fails(self, ref: ValueRef) -> Column:
        built = self._built(ref)
        if built is None:
            return _never()
        fail = F.coalesce(built[0], _never())
        if len(built) > 2:
            fail = ~F.coalesce(built[2], _never()) & fail
        return ~ref.null() & fail if self.skip_null else fail

    def any_fails(self, ref: ValueRef) -> Column | None:
        if self.over_array is None:
            return None
        return self.over_array(self, ref)


class TargetsRule(Rule):
    """A keyword that checks one condition per jsonpath target (the map
    forms: gt/lt/..., patterns, neq, in/notin, keyMatch, ipIn) — one
    definition, both outputs.  ``build(ref)`` yields ``(fail, path,
    info)`` per target: the failure condition (NULL counts as passing),
    the violation's path and its message."""

    def __init__(self, build):
        self.build = build

    def violations(self, ref: ValueRef) -> Column:
        from ..core.errors import viol_when

        return concat_violations(
            *[viol_when(fail, path, info) for fail, path, info in self.build(ref)]
        )

    def fails(self, ref: ValueRef) -> Column:
        never = _never()
        return or_all([F.coalesce(fail, never) for fail, _, _ in self.build(ref)])


def or_all(conds: list[Column]) -> Column:
    """OR of non-NULL booleans (False for none); terms that cannot fail
    statically (``_never``) are dropped."""
    never = _never()
    conds = [c for c in conds if c is not never]
    if not conds:
        return never
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


class TransformOp:
    """A compiled mutation keyword (constVal/defaultVal/set/...),
    applied as a withColumn pipeline step on the top-level DataFrame
    (reference mutates the document in place,
    validator_core.go:439-481)."""

    def __init__(self, fn: Callable[[DataFrame, ValueRef], DataFrame], keyword: str):
        self.fn = fn
        self.keyword = keyword

    def apply(self, df: DataFrame, root: ValueRef) -> DataFrame:
        return self.fn(df, root)


# keyword -> (factory, priority).  Factory signature mirrors
# NewValidatorFunc(i, path, parent): (operand, path, siblings, ctx).
KeywordFactory = Callable[[object, str, dict, "CompileCtx"], Optional[Rule]]
_KEYWORDS: dict[str, tuple[KeywordFactory, int]] = {}

# reference priority table (validator_core.go:211-219); default 0,
# ascending stable sort = execution & error order.
_PRIORITIES = {
    "switch": 1,
    "if": 1,
    "required": 2,
    "properties": 1,
    "props": 1,
    "maximum": 1,
    "minimum": 1,
    "defaultVals": 3,
}

# reference ignored keys (validator_core.go:201-209) + our annotations
IGNORE_KEYS = {
    "title",
    "comment",
    "$comment",
    "description",
    "$id",
    "$schema",
    "id",
    "examples",
    "$defs",
    "definitions",
}


def register_keyword(name: str, priority: int | None = None):
    """Extension surface mirroring RegisterValidator
    (validator_core.go:224-229)."""

    def deco(fn: KeywordFactory) -> KeywordFactory:
        _KEYWORDS[name] = (fn, _PRIORITIES.get(name, 0) if priority is None else priority)
        return fn

    return deco


def add_ignore_key(key: str) -> None:
    IGNORE_KEYS.add(key)


@dataclass
class CompileCtx:
    root_doc: dict | list
    options: dict = field(default_factory=dict)
    transforms: list[TransformOp] = field(default_factory=list)
    ref_depth: int = 0
    max_ref_depth: int = 4
    in_if: bool = False
    # active branch predicates (if/then, switch/case) guarding any
    # TransformOps compiled inside the branch
    guards: list = field(default_factory=list)

    def compile_node(self, doc, path: str) -> "Node":
        return compile_node(doc, path, self)

    def resolve_ref(self, ref: str):
        """'#', '#/$defs/x', '#/definitions/x' pointer resolution
        (reference ref.go:12-82, defs.go:5-44)."""
        if ref == "#" or ref == "#/":
            return self.root_doc
        if not ref.startswith("#/"):
            raise SchemaError(f"unsupported $ref: {ref}")
        node = self.root_doc
        for seg in ref[2:].split("/"):
            seg = seg.replace("~1", "/").replace("~0", "~")
            if isinstance(node, list):
                node = node[int(seg)]
            elif isinstance(node, dict) and seg in node:
                node = node[seg]
            else:
                raise SchemaError(f"$ref target not found: {ref}")
        return node


class Node(Rule):
    """ArrProp analog: ordered (keyword, Rule) pairs for one schema
    object (validator_core.go:253-294)."""

    def __init__(self, rules: list[tuple[str, Rule]], doc: dict):
        self.rules = rules
        self.doc = doc

    def violations(self, ref: ValueRef) -> Column:
        if not self.rules:
            return empty_violations()
        return concat_violations(*[r.violations(ref) for _, r in self.rules])

    def fails(self, ref: ValueRef) -> Column:
        return or_all([r.fails(ref) for _, r in self.rules])


def compile_node(doc, path: str, ctx: CompileCtx) -> Node:
    """NewProp (validator_core.go:304-363): top-level arrays are allOf;
    unknown keywords are compile errors; keywords sorted by priority."""
    if isinstance(doc, list):
        # array form == allOf (validator_core.go:316-318)
        doc = {"allOf": doc}
    if not isinstance(doc, dict):
        raise SchemaError(f"schema node at {path} must be an object, got {type(doc).__name__}")
    entries: list[tuple[int, int, str, Rule]] = []
    order = 0
    for kw, operand in doc.items():
        if kw in IGNORE_KEYS:
            continue
        if kw not in _KEYWORDS:
            raise SchemaError(f"unknown validator keyword '{kw}' at {path}")
        factory, prio = _KEYWORDS[kw]
        rule = factory(operand, path, doc, ctx)
        if rule is not None:
            entries.append((prio, order, kw, rule))
        order += 1
    entries.sort(key=lambda e: (e[0], e[1]))
    return Node([(kw, rule) for _, _, kw, rule in entries], doc)


def _ensure_registered():
    # import for registration side effects
    from . import keywords_base, keywords_logic, keywords_magic, keywords_script  # noqa: F401


class CompiledSchema:
    """A schema compiled against no particular DataFrame; binding
    happens per-DataFrame (the df schema supplies static dtypes)."""

    def __init__(self, node: Node, ctx: CompileCtx, doc):
        self.node = node
        self.ctx = ctx
        self.doc = doc

    def root_ref(self, df: DataFrame) -> ValueRef:
        return ValueRef(col=None, dtype=df.schema, path="$", is_root=True)

    def violations_col(self, df: DataFrame) -> Column:
        return self.node.violations(self.root_ref(df))

    def annotate(self, df: DataFrame, col: str = "violations") -> DataFrame:
        """df + violations column; a row is valid iff size(col)==0."""
        return df.withColumn(col, self.violations_col(df))

    # default parse mode for json_col validation:
    #   "variant"  — whole document as one VariantType value; every
    #                keyword dispatches on the RUNTIME JSON type, so
    #                wrong-typed and union-typed fields produce the
    #                reference's exact type errors (typeOf, type.go:3-20)
    #   "static"   — infer a fixed struct from the schema document
    #                (plans/json_input.py); fastest, but PERMISSIVE
    #                from_json nulls wrong-typed fields (they surface
    #                as missing, not type errors)
    JSON_TYPES_DEFAULT = "variant"

    def _json_mode(self, json_types: str | None) -> str:
        mode = json_types or self.ctx.options.get("json_types") or self.JSON_TYPES_DEFAULT
        if mode not in ("variant", "static"):
            raise SchemaError(f"json_types must be 'variant' or 'static', got {mode!r}")
        return mode

    def fail_predicate(
        self,
        df: DataFrame,
        json_col: str | None = None,
        json_types: str | None = None,
    ) -> Column:
        """Boolean ``row fails`` Column WITHOUT violation-array
        construction, for verdict counting (the 10^12-row hot path):
        the root node's ``fails`` over fixed columns, over the static
        JSON parse, or over the variant parse.  As one Column the
        variant route cannot carry the shred projections, so every
        keyword dispatches inline there — ``fail_verdicts`` is the fast
        form for variant JSON.

        With ``json_col`` a malformed document counts as a failing row,
        matching the array path's single '$' violation."""
        if json_col is None:
            return self.node.fails(self.root_ref(df))
        mode = self._json_mode(json_types)
        parsed, malformed_of = self._json_parse_expr(json_col, mode)
        dtype = T.VariantType() if mode == "variant" else self.json_root_type()
        return self.node.fails(ValueRef(col=parsed, dtype=dtype, path="$")) | malformed_of(parsed)

    def fail_verdicts(
        self,
        df: DataFrame,
        json_col: str | None = None,
        json_types: str | None = None,
        col: str = "__fails__",
    ) -> DataFrame:
        """``df`` + boolean ``col``: whether each row fails validation
        — the DataFrame form of ``fail_predicate`` for verdict
        counting; no violation array is built on any route.

        Fixed columns and static JSON take ``fail_predicate``'s
        Column.  Variant JSON parses the document once, shreds it once
        into per-path typed columns (core.variant.Shred) and evaluates
        the keywords' ``fails`` predicates over those columns."""
        if json_col is not None and self._json_mode(json_types) == "variant":
            out = self._over_shred(
                df, json_col, lambda root, malformed: [{col: self.node.fails(root) | malformed}]
            )
            # same optimizer fence as ValidationResult: a caller filter
            # on the verdict column must not push the (parse-bearing)
            # predicate into a scan-level Filter
            return out.observe(
                f"jsonschema_parse_gate_{next(_BARRIER_SEQ)}",
                F.count(F.lit(1)).alias("rows_validated"),
            )
        return df.withColumn(col, self.fail_predicate(df, json_col=json_col, json_types=json_types))

    def _over_shred(self, df: DataFrame, json_col: str, outputs, keep_parsed: str | None = None):
        """Variant JSON: parse ``json_col`` once, shred it once, then add
        the columns ``outputs(root, malformed)`` returns — built over a
        shred-wired root ref — and drop the scratch columns.

        ``outputs`` returns a list of column dicts, added in that order
        with a code-generation stage boundary between them; columns
        named ``__jsonschema_*`` are scratch."""
        from ..core.variant import Shred, end_stage

        parsed, malformed_of = self._json_parse_expr(json_col, "variant")
        tmp = keep_parsed or "__jsonschema_parsed__"
        shred = Shred(tmp)
        root = ValueRef(col=F.col(tmp), dtype=T.VariantType(), path="$", shred=shred, spath=())
        steps = outputs(root, malformed_of(F.col(tmp)))
        out = shred.apply(df.withColumn(tmp, parsed))
        for i, cols in enumerate(steps):
            out = (end_stage(out) if i else out).withColumns(cols)
        scratch = shred.names() + [c for cols in steps for c in cols if c.startswith("__jsonschema_")]
        return out.drop(*scratch, *([] if keep_parsed else [tmp]))

    def transform(self, df: DataFrame) -> DataFrame:
        """Apply mutation keywords (constVal/defaultVal/replaceKey/
        formatVal/set/delete...) as a sequenced column pipeline in the
        reference's application order (validator_core.go:436-481)."""
        for op in self.ctx.transforms:
            # rebuild the root ref each step: later ops must see
            # columns created by earlier ops (sequential mutation
            # semantics, validator_core.go:439-481)
            df = op.apply(df, self.root_ref(df))
        return df

    def json_root_type(self) -> T.DataType:
        """The from_json parse target inferred from the schema document
        (plans/json_input.py) — cached; the document is immutable."""
        if not hasattr(self, "_json_root_type"):
            from .json_input import infer_root_type

            self._json_root_type = infer_root_type(self.doc)
        return self._json_root_type

    def _json_parse_expr(self, json_col: str, mode: str = "static"):
        """(parsed Column, malformed_of) for a JSON string column."""
        if mode == "variant":
            # ONE binary-encoding parse of the whole document; every
            # keyword then walks the variant with try_variant_get (no
            # JSON re-parse).  try_parse_json NULL on non-null input is
            # exactly the reference's decode error (schema.go:127-131);
            # a JSON `null` document parses to variant-null and every
            # validator skips (Validate(nil) adds no errors).  A SQL
            # NULL *input* has no reference analog — it validates as an
            # empty document (required fires), matching the static
            # path's documented choice so both modes agree row-by-row.
            parsed = F.when(
                F.col(json_col).isNull(), F.parse_json(F.lit("{}"))
            ).otherwise(F.try_parse_json(F.col(json_col).cast("string")))

            def malformed_of(c):
                return F.col(json_col).isNotNull() & c.isNull()

            return parsed, malformed_of
        dt = self.json_root_type()
        if isinstance(dt, T.StructType):
            # PERMISSIVE from_json yields an all-null struct for corrupt
            # records (not NULL) — a corrupt-record slot makes the
            # decode failure observable without a second parse
            corrupt = "__jsonschema_corrupt__"
            parse_dt = T.StructType(
                list(dt.fields) + [T.StructField(corrupt, T.StringType(), True)]
            )
            parsed = F.from_json(
                F.col(json_col).cast("string"),
                parse_dt,
                {"columnNameOfCorruptRecord": corrupt},
            )

            def malformed_of(c):
                # corrupt is ALSO set for field-type mismatches, and a
                # VALID document whose typed fields all fail conversion
                # would look identical to garbage — so on corrupt rows
                # (only), re-check well-formedness with try_parse_json
                # (evaluated lazily per row inside the when branch).
                # Type mismatches then validate with the bad field
                # nulled (documented static-schema divergence).
                return F.when(
                    c.getField(corrupt).isNotNull(),
                    F.try_parse_json(F.col(json_col).cast("string")).isNull(),
                ).otherwise(F.lit(False))
        else:
            parsed = F.from_json(F.col(json_col).cast("string"), dt)

            def malformed_of(c):
                # from_json returns NULL both for garbage AND for a
                # well-formed document of a different top-level shape
                # (scalar vs the inferred map/array).  The reference
                # decodes any JSON value (schema.go:121-138) — only a
                # genuinely unparseable document is a decode error, so
                # re-check well-formedness lazily on the failed rows.
                return F.when(
                    F.col(json_col).isNotNull() & c.isNull(),
                    F.try_parse_json(F.col(json_col).cast("string")).isNull(),
                ).otherwise(F.lit(False))
        return parsed, malformed_of

    def annotate_json(
        self,
        df: DataFrame,
        json_col: str,
        col: str = "violations",
        keep_parsed: str | None = None,
        json_types: str | None = None,
    ) -> DataFrame:
        """Validate a dynamic JSON *string* column: parse ONCE (JVM-
        side), then run the compiled plan against the parsed value —
        in variant mode over one shred of it (core.variant.Shred), with
        the violation arrays built only for rows whose ``fails``
        predicate holds.  The
        reference's actual input domain — an arbitrary JSON document
        (schema.go:121-138) — lands here.

        ``json_types`` picks the parse target (JSON_TYPES_DEFAULT):
        "variant" validates the document as a VariantType value with
        per-row runtime type dispatch — wrong-typed and union-typed
        fields get the reference's exact type errors; "static" infers
        a fixed struct from the schema document (fastest; wrong-typed
        fields degrade to missing).

        Malformed documents (non-null input, failed parse) get a
        single ``$ / invalid json document`` violation, mirroring the
        decode error the reference returns before any rule runs
        (schema.go:127-131).  ``keep_parsed`` optionally names an
        output column holding the parsed value."""
        from ..core.errors import violation

        mode = self._json_mode(json_types)

        def with_decode_error(v: Column, malformed: Column) -> Column:
            return F.when(malformed, violation("$", "invalid json document")).otherwise(v)

        if mode == "variant":
            # the violations array only for the rows that fail: the
            # verdict first (the cheap predicate), then the array in a
            # stage of its own, evaluated on failing rows alone
            fails = "__jsonschema_fails__"
            return self._over_shred(
                df,
                json_col,
                lambda root, malformed: [
                    {fails: self.node.fails(root) | malformed},
                    {col: F.when(~F.col(fails), empty_violations()).otherwise(
                        with_decode_error(self.node.violations(root), malformed)
                    )},
                ],
                keep_parsed,
            )
        parsed, malformed_of = self._json_parse_expr(json_col, mode)
        tmp = keep_parsed or "__jsonschema_parsed__"
        root = ValueRef(col=F.col(tmp), dtype=self.json_root_type(), path="$")
        v = with_decode_error(self.node.violations(root), malformed_of(F.col(tmp)))
        out = df.withColumn(tmp, parsed).withColumn(col, v)
        return out if keep_parsed else out.drop(tmp)

    def validate(
        self,
        df: DataFrame,
        keys: list[str] | None = None,
        json_col: str | None = None,
        json_types: str | None = None,
    ) -> "ValidationResult":
        """Validate fixed columns (default) or, with ``json_col``, a
        dynamic JSON-string column against this schema document
        (``json_types``: "variant" = runtime type dispatch, "static" =
        inferred struct; see annotate_json)."""
        if json_col is not None:
            return ValidationResult(
                self.annotate_json(df, json_col, json_types=json_types),
                keys or [],
                parse_barrier=True,
            )
        ann = self.annotate(df)
        return ValidationResult(ann, keys or [])

    def referenced_columns(self) -> set[str]:
        """Top-level column names the schema document references —
        feed to a pruned scan (`read_table(columns=...)`) so the
        parquet ReadSchema only carries what the plan needs (the
        lazy-parse idea the reference abandoned, SURVEY §4, is free
        here via column pruning)."""
        cols: set[str] = set()

        def walk(doc):
            if isinstance(doc, list):
                for d in doc:
                    walk(d)
                return
            if not isinstance(doc, dict):
                return
            for kw, operand in doc.items():
                if kw in ("properties", "props") and isinstance(operand, dict):
                    cols.update(operand.keys())
                    for sub in operand.values():
                        walk(sub)
                elif kw == "required" and isinstance(operand, list):
                    cols.update(str(k) for k in operand)
                elif kw in ("keyMatch", "equals", "eq", "gt", "lt", "gte", "lte",
                            "neq", "startWiths", "endWiths", "containss",
                            "maxLengths", "minLengths", "patterns", "dependencies",
                            "children", "foreach", "defaultVals") and isinstance(operand, dict):
                    cols.update(str(k).split(".")[0].split("[")[0] for k in operand.keys())
                    for sub in operand.values():
                        walk(sub)
                elif kw == "case" and isinstance(operand, dict):
                    for sub in operand.values():  # {case_value: sub-schema}
                        walk(sub)
                elif kw in ("allOf", "anyOf", "oneOf", "and", "or", "not",
                            "if", "then", "else", "defaults", "items") and isinstance(
                    operand, (dict, list)
                ):
                    walk(operand)
                elif kw == "switch" and isinstance(operand, str):
                    cols.add(operand.split(".")[0])
                elif kw == "script":
                    import re as _re

                    for stmt in operand if isinstance(operand, list) else [operand]:
                        cols.update(
                            m.split(".")[0].split("[")[0]
                            for m in _re.findall(r"\$\.([A-Za-z_][A-Za-z0-9_.]*)", str(stmt))
                        )
        walk(self.doc)
        return cols


_BARRIER_SEQ = itertools.count()


@dataclass
class ValidationResult:
    annotated: DataFrame
    keys: list[str]
    # True when `annotated` contains an expensive parse (json_col
    # plans): predicate pushdown would substitute the violations alias
    # into a scan-level filter, re-evaluating from_json once per
    # keyword branch (measured 28 copies, ~10x wall time) — and
    # JsonToStructs is CodegenFallback, so codegen's subexpression
    # elimination never dedups it.  Fixed-column plans stay
    # barrier-free: their violations expression is codegen'd and CSE'd,
    # so the substitution costs nothing.
    parse_barrier: bool = False

    def _gate(self, df: DataFrame) -> DataFrame:
        """Optimizer fence: a CollectMetrics node must observe every
        row, so no predicate may legally cross it — the only stable
        pushdown barrier on Spark 4 (nondeterministic-conjunct fences
        get folded/pushed)."""
        if not self.parse_barrier:
            return df
        return df.observe(
            f"jsonschema_parse_gate_{next(_BARRIER_SEQ)}",
            F.count(F.lit(1)).alias("rows_validated"),
        )

    @property
    def valid(self) -> DataFrame:
        return (
            self._gate(self.annotated)
            .filter(F.size("violations") == 0)
            .drop("violations")
        )

    @property
    def invalid(self) -> DataFrame:
        return self._gate(self.annotated).filter(F.size("violations") > 0)

    @property
    def errors(self) -> DataFrame:
        """Invalid rows + an ``error`` string column in the reference's
        concatenated form ``'path' info; `` (errsToString,
        schema.go:161-172) — byte-compatible error text."""
        err = F.aggregate(
            F.col("violations"),
            F.lit(""),
            lambda acc, v: F.concat(
                acc, F.lit("'"), v["path"], F.lit("' "), v["info"], F.lit("; ")
            ),
        )
        return self.invalid.withColumn("error", err).drop("violations")

    @property
    def violations(self) -> DataFrame:
        """Exploded (keys..., path, info) rows — the golden-file shape
        (FIXTURES.md §3).

        Uses explode_outer + a post-filter on the GENERATED attribute
        instead of explode (which is semantically equivalent): a plain
        explode makes InferFiltersFromGenerate synthesize
        ``size(violations) > 0``, and predicate pushdown then inlines
        the whole violations expression — re-parsing the document once
        per keyword branch on json_col plans (measured 28 extra
        from_json per row, ~10x wall time).  A filter on the Generate's
        own output cannot be pushed below it."""
        cols = [F.col(k) for k in self.keys]
        return (
            self.annotated.select(
                *cols, F.explode_outer("violations").alias("v")
            )
            .filter(F.col("v").isNotNull())
            .select(*cols, F.col("v.path").alias("path"), F.col("v.info").alias("info"))
        )


def compile_schema(doc, options: dict | None = None) -> CompiledSchema:
    """Compile a schema document (dict / list / JSON string) into a
    reusable plan — the ``NewSchema`` analog (schema.go:18-27)."""
    _ensure_registered()
    if isinstance(doc, (str, bytes)):
        import json

        doc = json.loads(doc)
    ctx = CompileCtx(root_doc=doc, options=options or {})
    node = compile_node(doc, "$", ctx)
    return CompiledSchema(node, ctx, doc)
