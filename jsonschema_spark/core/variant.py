"""Runtime type dispatch over Spark VariantType columns.

The reference validates a dynamically-decoded ``interface{}`` tree and
dispatches every keyword on the value's RUNTIME type (typeOf,
/root/reference/type.go:3-20).  Fixed Spark columns resolve that
dispatch statically; a ``VariantType`` column (Spark 4 semi-structured
binary encoding) carries the runtime JSON type per row, so the same
dispatch compiles to per-row Column expressions here.

Kind universe mirrors the reference's ``_type``:
``string | number | bool | object | array | null`` — JSON numbers are
Go ``float64`` (encoding/json decodes every number to float64), so the
numeric view casts to double, replicating Go's 53-bit precision
behavior exactly.

All helpers are pure Column expressions (whole-stage codegen; no Python
in any row path).  ``schema_of_variant`` is only evaluated on scalars —
the container guards short-circuit first — so kind classification costs
O(1) per scalar leaf.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column
from pyspark.sql import functions as F

KIND_STRING = "string"
KIND_NUMBER = "number"
KIND_BOOL = "bool"
KIND_OBJECT = "object"
KIND_ARRAY = "array"
KIND_NULL = "null"

# reflect.TypeOf(value).String() for each JSON runtime type — byte-exact
# "given:" labels in type-keyword messages (validator_base.go:55,74,92)
GO_TYPE_LABELS = {
    KIND_STRING: "string",
    KIND_NUMBER: "float64",
    KIND_BOOL: "bool",
    KIND_OBJECT: "map[string]interface {}",
    KIND_ARRAY: "[]interface {}",
    KIND_NULL: "<nil>",
}


def variant_object(col: Column) -> Column:
    """map<string,variant> view; NULL when the value is not a JSON
    object (the reference's ``value.(map[string]interface{})`` guard)."""
    return F.try_variant_get(col, "$", "map<string,variant>")


def variant_array(col: Column) -> Column:
    """array<variant> view; NULL when not a JSON array."""
    return F.try_variant_get(col, "$", "array<variant>")


def _scalar_schema(col: Column) -> Column:
    return F.schema_of_variant(col)


def variant_kind(col: Column) -> Column:
    """Per-row kind ∈ {string,number,bool,object,array,null}; NULL for
    a SQL-null (missing) variant.  Container checks run first so
    ``schema_of_variant`` never walks a whole object/array."""
    sch = _scalar_schema(col)
    return (
        F.when(col.isNull(), F.lit(None).cast("string"))
        .when(F.is_variant_null(col), F.lit(KIND_NULL))
        .when(variant_object(col).isNotNull(), F.lit(KIND_OBJECT))
        .when(variant_array(col).isNotNull(), F.lit(KIND_ARRAY))
        .when(sch == "STRING", F.lit(KIND_STRING))
        .when(sch == "BOOLEAN", F.lit(KIND_BOOL))
        .otherwise(F.lit(KIND_NUMBER))  # BIGINT / DECIMAL(p,s) / DOUBLE
    )


def go_type_label(col: Column) -> Column:
    """reflect.TypeOf(...).String() as a Column, from the kind."""
    k = variant_kind(col)
    out = F.lit(None).cast("string")
    expr = None
    for kind, label in GO_TYPE_LABELS.items():
        expr = (F.when(k == kind, label) if expr is None else expr.when(k == kind, label))
    return expr.otherwise(out)


def variant_string(col: Column) -> Column:
    """Strict string view: the value iff it is a JSON string, else NULL
    (variant casts COERCE — numbers render to text — so every strict
    view guards on kind first)."""
    return F.when(
        _scalar_schema(col) == "STRING", F.try_variant_get(col, "$", "string")
    )


def variant_double(col: Column) -> Column:
    """Strict numeric view as double — the reference's valueOfFloat
    (validator_base.go:405-425): JSON numbers only, never coerced
    strings/bools."""
    sch = _scalar_schema(col)
    is_num = (
        col.isNotNull()
        & ~F.is_variant_null(col)
        & ~sch.isin("STRING", "BOOLEAN", "VOID", "BINARY")
        & ~sch.startswith("OBJECT")
        & ~sch.startswith("ARRAY")
    )
    return F.when(is_num, F.try_variant_get(col, "$", "double"))


def variant_bool(col: Column) -> Column:
    """Strict boolean view."""
    return F.when(
        _scalar_schema(col) == "BOOLEAN", F.try_variant_get(col, "$", "boolean")
    )


def nn_size(col: Column) -> Column:
    """NULL-propagating size: F.size(NULL) is NULL only under ANSI
    mode (-1 with spark.sql.ansi.enabled=false), and the variant
    branches use a NULL container VIEW as their "not this kind, skip"
    signal — an unguarded -1 would fire min-bound keywords on values
    the reference skips entirely."""
    return F.when(col.isNotNull(), F.size(col))


def variant_json(col: Column) -> Column:
    """JSON text of any variant value (container stringification — the
    static path renders containers with to_json; kept consistent)."""
    return F.to_json(col)


def variant_string_of(col: Column) -> Column:
    """StringOf (common.go:71-91) with runtime dispatch: string as-is,
    bool -> "true"/"false", number -> shortest fixed form, null -> ""."""
    k = variant_kind(col)
    d = F.try_variant_get(col, "$", "double")
    as_long = d.cast("long")
    num_s = F.when(d == as_long.cast("double"), as_long.cast("string")).otherwise(
        d.cast("string")
    )
    return (
        F.when(col.isNull() | F.is_variant_null(col), F.lit(""))
        .when(k == KIND_STRING, F.try_variant_get(col, "$", "string"))
        .when(k == KIND_BOOL, F.when(F.try_variant_get(col, "$", "boolean"), "true").otherwise("false"))
        .when(k == KIND_NUMBER, num_s)
        .otherwise(F.coalesce(F.to_json(col), F.lit("")))
    )


def variant_number_of(col: Column) -> Column:
    """NumberOf (common.go:93-112, string-parse bug fixed as in
    core/coerce.py): number -> value, bool -> 1/0, numeric string ->
    parsed, "true" -> 1, everything else -> 0."""
    k = variant_kind(col)
    s = F.try_variant_get(col, "$", "string")
    return F.coalesce(
        F.when(k == KIND_NUMBER, F.try_variant_get(col, "$", "double"))
        .when(k == KIND_BOOL, F.when(F.try_variant_get(col, "$", "boolean"), 1.0).otherwise(0.0))
        .when(
            k == KIND_STRING,
            F.coalesce(
                s.try_cast("double"),
                F.when(s == "true", F.lit(1.0)).otherwise(F.lit(0.0)),
            ),
        ),
        F.lit(0.0),
    )


def variant_bool_of(col: Column) -> Column:
    """BoolOf (common.go:114-129): number > 0, string == "true"."""
    k = variant_kind(col)
    return F.coalesce(
        F.when(k == KIND_BOOL, F.try_variant_get(col, "$", "boolean"))
        .when(k == KIND_NUMBER, F.try_variant_get(col, "$", "double") > 0)
        .when(k == KIND_STRING, F.try_variant_get(col, "$", "string") == "true"),
        F.lit(False),
    )


def variant_path_key(name: str) -> str | None:
    """Variant-get path for one object key, or None when the key
    cannot be expressed as a path.  Bare identifiers use dot form;
    anything else is bracket-quoted.  Spark's variant path parser has
    NO escape syntax — the bracket body is matched LITERALLY (a
    backslash in the key is a backslash in the path), so a key
    containing a single quote has no path form at all (probed on
    Spark 4.1.2: $['a\\'b'] is INVALID_VARIANT_GET_PATH)."""
    import re

    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return f"$.{name}"
    if "'" in name:
        return None
    return f"$['{name}']"


def variant_child(col: Column, name: str) -> Column:
    """One object-key descent: the path form when expressible (cheap
    binary walk), else a map-view lookup — same semantics (absent key
    -> SQL NULL, present JSON null -> variant-null) for ANY key."""
    path = variant_path_key(name)
    if path is not None:
        return F.try_variant_get(col, path, "variant")
    return F.try_element_at(variant_object(col), F.lit(name))


def variant_is_object(col: Column) -> Column:
    """Whether the value is a JSON object, in O(1): the cast to an
    empty struct checks the value's type and reads no field, where the
    ``map<string,variant>`` view copies every entry."""
    return F.try_variant_get(col, "$", "struct<>").isNotNull()


def variant_path(segs: tuple) -> str | None:
    """The variant-get path of a key/index path from the document root,
    or None when a key has no path form (see variant_path_key) or would
    need escaping inside a SQL string literal."""
    out = "$"
    for seg in segs:
        if isinstance(seg, int):
            out += f"[{seg}]"
            continue
        key = variant_path_key(seg)
        if key is None or "\\" in seg:
            return None
        out += key[1:]
    return out


class Shred:
    """One parsed variant document, shredded once into typed per-path
    columns.

    Keywords ask a shred-wired ``ValueRef`` for what they need at a path
    — the value itself, its kind, a strict typed view, a coercion — and
    each request registers that (path, view) pair here and returns a
    column reference.  ``apply`` then adds the registered columns below
    the rules, one projection per step:

    - *extract*: each referenced path straight from the root document,
      one ``try_variant_get`` whatever its depth;
    - *kind*: each value classified once.  Containers are recognised
      without being materialised (an empty-struct cast for objects, the
      first element for arrays), so ``schema_of_variant`` only ever
      sees scalars and empty arrays;
    - *views*: the strict typed views, each one typed get guarded by the
      kind;
    - *coercions*: StringOf/NumberOf/BoolOf over the strict views.

    The rules then read plain typed columns, as they do in static mode,
    and each primitive is evaluated once per row however many keywords
    read it.  Stage boundaries (``end_stage``) after the kinds and after
    the coercions keep each generated method small enough for the JIT.
    Each column is one SQL text: built from Column calls, every call is
    a round trip to the JVM."""

    def __init__(self, doc: str, prefix: str = "__jsonschema_shred_"):
        self.doc = doc  # name of the parsed-document column
        self._prefix = prefix
        self._paths: dict[tuple, tuple[int, set]] = {}
        self._cols: dict[str, Column] = {}

    @staticmethod
    def addressable(segs: tuple) -> bool:
        return variant_path(segs) is not None

    def _entry(self, segs: tuple) -> tuple[int, set]:
        if segs not in self._paths:
            self._paths[segs] = (len(self._paths), set())
        return self._paths[segs]

    def _name(self, view: str, segs: tuple) -> str:
        if view == "value" and not segs:
            return self.doc
        return f"{self._prefix}{view}_{self._entry(segs)[0]}"

    def _col(self, name: str, sql=None) -> Column:
        if name not in self._cols:
            self._cols[name] = F.col(name) if sql is None else F.expr(sql)
        return self._cols[name]

    def value(self, segs: tuple) -> Column:
        """The variant at ``segs`` (SQL NULL when absent)."""
        return self._col(self._name("value", segs))

    def view(self, segs: tuple, name: str) -> Column:
        """One view of the value at ``segs``: its ``kind`` (NULL when
        absent), a strict view (``str``, ``num`` — valueOfFloat,
        validator_base.go:405-425 —, ``bool``, ``obj``, ``arr``: NULL
        unless the value is of that kind) or a coercion (``str_of``,
        ``num_of``, ``bool_of``: StringOf/NumberOf/BoolOf,
        common.go:71-129, defined for every value, absent included)."""
        views = self._entry(segs)[1]
        views.update(("kind", name, *_NEEDS.get(name, ())))
        return self._col(self._name(name, segs))

    def test(self, segs: tuple, name: str, sql: str) -> Column:
        """A predicate over the kind ``{k}`` of the value at ``segs``,
        built once per path and name."""
        k = self._q(self._name("kind", segs))
        self.view(segs, "kind")
        return self._col(f"{name}:{k}", sql.format(k=k))

    @staticmethod
    def _q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    def names(self) -> list[str]:
        """The scratch columns ``apply`` adds (drop them after the rules)."""
        return [
            self._name(n, segs)
            for segs, (_, views) in self._paths.items()
            for n in (["value"] if segs else []) + sorted(views)
        ]

    def apply(self, df):
        """``df`` + the extract, kind, view and coercion projections,
        with a code-generation stage boundary after the kinds and after
        the coercions (see ``end_stage``)."""
        if not self._paths:
            return df
        doc = F.col(self.doc)
        extract = {
            self._name("value", segs): F.try_variant_get(doc, variant_path(segs), "variant")
            for segs in self._paths
            if segs
        }
        if extract:
            df = df.withColumns(extract)
        for step in (("kind",), _STRICT, _COERCIONS):
            cols = {
                self._name(n, segs): F.expr(self._sql(n, segs))
                for segs, (_, views) in self._paths.items()
                for n in step
                if n in views
            }
            if cols:
                df = df.withColumns(cols)
            if step != _STRICT:
                df = end_stage(df)
        return df

    def _sql(self, name: str, segs: tuple) -> str:
        v = self._q(self._name("value", segs))
        k = self._q(self._name("kind", segs))

        def view(n):
            return self._q(self._name(n, segs))

        if name == "kind":
            return (
                f"CASE WHEN {v} IS NULL THEN NULL"
                f" WHEN is_variant_null({v}) THEN '{KIND_NULL}'"
                f" WHEN try_variant_get({v}, '$', 'struct<>') IS NOT NULL THEN '{KIND_OBJECT}'"
                f" WHEN try_variant_get({v}, '$[0]', 'variant') IS NOT NULL THEN '{KIND_ARRAY}'"
                f" ELSE coalesce(element_at(map('STRING', '{KIND_STRING}',"
                f" 'BOOLEAN', '{KIND_BOOL}', 'ARRAY<VOID>', '{KIND_ARRAY}'),"
                f" schema_of_variant({v})), '{KIND_NUMBER}') END"
            )
        if name in _STRICT:
            kind, sql_type = _STRICT[name]
            return f"IF({k} = '{kind}', try_variant_get({v}, '$', '{sql_type}'), NULL)"
        json = f"coalesce(to_json({v}), '')"
        s, d, b = view("str"), view("num"), view("bool")
        if name == "str_of":
            return (
                f"CASE {k} WHEN '{KIND_STRING}' THEN {s}"
                f" WHEN '{KIND_BOOL}' THEN IF({b}, 'true', 'false')"
                # shortest fixed form: integral doubles without a fraction
                f" WHEN '{KIND_NUMBER}' THEN IF({d} = CAST(CAST({d} AS bigint) AS double),"
                f" CAST(CAST({d} AS bigint) AS string), CAST({d} AS string))"
                f" WHEN '{KIND_OBJECT}' THEN {json} WHEN '{KIND_ARRAY}' THEN {json}"
                f" ELSE '' END"
            )
        if name == "num_of":
            return (
                f"CASE {k} WHEN '{KIND_NUMBER}' THEN {d}"
                f" WHEN '{KIND_BOOL}' THEN IF({b}, 1.0D, 0.0D)"
                f" WHEN '{KIND_STRING}' THEN coalesce(try_cast({s} AS double),"
                f" IF({s} = 'true', 1.0D, 0.0D))"
                f" ELSE 0.0D END"
            )
        return (
            f"CASE {k} WHEN '{KIND_BOOL}' THEN {b} WHEN '{KIND_NUMBER}' THEN {d} > 0"
            f" WHEN '{KIND_STRING}' THEN {s} = 'true' ELSE false END"
        )


_STAGE_SEQ = itertools.count()


def end_stage(df):
    """End a whole-stage-codegen stage here.  Spark generates one
    method per stage, with every projection of the stage inlined into
    it; HotSpot never compiles a method over 8000 bytecodes, so a stage
    holding the parse, the shred and the rules would run in the
    bytecode interpreter (measured: about twice the CPU time of the
    same work in three stages).  A CollectMetrics node is not
    code-generated, so it closes the stage below it; its row count is a
    cheap side output."""
    return df.observe(f"jsonschema_stage_{next(_STAGE_SEQ)}", F.count(F.lit(1)).alias("rows"))


# strict view -> (the kind it holds, its SQL type)
_STRICT = {
    "str": (KIND_STRING, "string"),
    "num": (KIND_NUMBER, "double"),
    "bool": (KIND_BOOL, "boolean"),
    "obj": (KIND_OBJECT, "map<string,variant>"),
    "arr": (KIND_ARRAY, "array<variant>"),
}
_COERCIONS = ("str_of", "num_of", "bool_of")
# the strict views each coercion reads
_NEEDS = {n: ("str", "num", "bool") for n in _COERCIONS}
