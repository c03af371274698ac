"""Value references: where a compiled rule reads its input from.

The reference walks a dynamic ``map[string]interface{}`` tree one
document at a time; here a "document" is one DataFrame row with a fixed
StructType.  A ``ValueRef`` carries (column-expression, static dtype,
$-rooted error path) and knows how to descend into struct fields, map
entries and array elements — the Spark-native analog of the reference's
jsonpath addressing layer (/root/reference/jsonpath/jsonpath.go,
easy_jsonpath.go:86-212).

Because Spark schemas are static, field *absence* splits into two
cases the dynamic reference merged:
  - field not in the StructType  -> statically missing (exists=False)
  - field null in this row       -> runtime missing (isNull)
`required` fails on either; most other validators skip both (the
reference's null-skip fast paths, validator_base.go:180-183, 461-463).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .variant import KIND_NULL, Shred
from .variant import variant_child as _variant_child


@dataclass
class ValueRef:
    col: Column | None  # None => the root row (whole document)
    dtype: T.DataType | None  # None => unknown (dynamic map value / missing)
    path: str = "$"  # $-rooted dotted path for error messages
    exists: bool = True  # statically present in the schema?
    is_root: bool = False
    # lambda-scope bindings (foreach's __key/__val, foreach.go:22-32):
    # consulted by child() before the static schema lookup
    bindings: dict | None = None
    # the shredded variant document this ref reads from, and its
    # key/index path from the document root (annotate_json and
    # fail_verdicts wire these on the root; children inherit; refs whose
    # column is not the document's own value — lambda elements,
    # defaulted children — carry none)
    shred: Shred | None = None
    spath: tuple | None = None

    def null(self) -> Column:
        """Runtime 'value missing' predicate (never true for the root)."""
        if self.is_root and self.col is None:
            return F.lit(False)
        if not self.exists:
            return F.lit(True)
        if isinstance(self.dtype, T.VariantType):
            # a Variant encoding JSON null is runtime-missing for every
            # validator except `required`/`dependencies` (which read
            # map-key presence — the reference's m[key] lookup finds a
            # nil entry; use missing() there)
            if self._shredded():
                return self.shred.test(self.spath, "null", f"{{k}} IS NULL OR {{k}} = '{KIND_NULL}'")
            return self.col.isNull() | F.is_variant_null(self.col)
        return self.col.isNull()

    def missing(self) -> Column:
        """Key-ABSENCE predicate (`m[key]` lookup, required/
        dependencies, validator_base.go:500-512): unlike null(), a
        present key holding JSON null is NOT missing.  Distinguishable
        only on Variant columns (try_variant_get: absent key -> SQL
        NULL, present null -> variant-null); fixed struct columns merge
        the two (documented static divergence, refs.py module doc)."""
        if self.is_root and self.col is None:
            return F.lit(False)
        if not self.exists:
            return F.lit(True)
        if self._shredded():
            return self.shred.test(self.spath, "missing", "{k} IS NULL")
        return self.col.isNull()

    def present(self) -> Column:
        if self.is_root:
            return F.lit(True)
        if not self.exists:
            return F.lit(False)
        return self.col.isNotNull()

    def child(self, name: str) -> "ValueRef":
        """Descend one object key (reference Properties walk,
        validator_core.go:407-487)."""
        child_path = f"{self.path}.{name}"
        if self.bindings and name in self.bindings:
            return replace(self.bindings[name], path=child_path)
        if isinstance(self.dtype, T.VariantType):
            # variant parent (incl. a variant ROOT document): binary
            # path walk; absent key -> SQL NULL, present JSON null ->
            # variant-null (required semantics preserved)
            if self._shredded() and Shred.addressable(self.spath + (name,)):
                return self._shred_ref(self.spath + (name,), child_path)
            return ValueRef(
                _variant_child(self.col, name), T.VariantType(), child_path
            )
        if self.is_root:
            dt = None
            found = False
            if isinstance(self.dtype, T.StructType):
                for f_ in self.dtype.fields:
                    if f_.name == name:
                        dt, found = f_.dataType, True
                        break
            if not found:
                return ValueRef(F.lit(None), None, child_path, exists=False)
            return ValueRef(F.col(name), dt, child_path)
        if isinstance(self.dtype, T.StructType):
            for f_ in self.dtype.fields:
                if f_.name == name:
                    return ValueRef(self.col.getField(name), f_.dataType, child_path)
            return ValueRef(F.lit(None), None, child_path, exists=False)
        if isinstance(self.dtype, T.MapType):
            return ValueRef(
                F.try_element_at(self.col, F.lit(name)), self.dtype.valueType, child_path
            )
        # scalar parent: child can't exist
        return ValueRef(F.lit(None), None, child_path, exists=False)

    def index(self, i: int) -> "ValueRef":
        child_path = f"{self.path}[{i}]"
        if isinstance(self.dtype, T.ArrayType):
            return ValueRef(
                F.try_element_at(self.col, F.lit(i + 1)), self.dtype.elementType, child_path
            )
        if isinstance(self.dtype, T.VariantType):
            if self._shredded():
                return self._shred_ref(self.spath + (i,), child_path)
            return ValueRef(
                F.try_variant_get(self.col, f"$[{i}]", "variant"),
                T.VariantType(),
                child_path,
            )
        return ValueRef(F.lit(None), None, child_path, exists=False)

    def element(self, lam_var: Column) -> "ValueRef":
        """The per-element ref inside a higher-order-function lambda
        (reference Items path suffix '[*]', validator_base.go:646-650).
        Never shredded: the column is a lambda variable that cannot
        leave the enclosing higher-order function."""
        elem_dt = (
            self.dtype.elementType if isinstance(self.dtype, T.ArrayType) else None
        )
        return ValueRef(lam_var, elem_dt, f"{self.path}[*]")

    def with_path(self, path: str) -> "ValueRef":
        return replace(self, path=path)

    def with_col(self, col: Column) -> "ValueRef":
        """The same ref over a different value column (e.g. a default
        filled in): no longer the shredded document's own value."""
        return replace(self, col=col, shred=None, spath=None)

    def _shred_ref(self, segs: tuple, path: str) -> "ValueRef":
        return ValueRef(
            self.shred.value(segs), T.VariantType(), path, shred=self.shred, spath=segs
        )

    # ----- variant runtime views (shredded, inline fallback)
    #
    # Each keyword touching a variant value needs some of: its kind,
    # its container views, its strict typed views, its coercions.  On a
    # shred-wired ref (annotate_json, fail_verdicts) each is the path's
    # one shredded expression, shared by every keyword; otherwise
    # (lambda elements, defaulted children, paths with no variant-path
    # form) the core.variant inline forms are returned.

    def _shredded(self) -> bool:
        return (
            self.shred is not None
            and self.spath is not None
            and isinstance(self.dtype, T.VariantType)
        )

    def _view(self, name: str, inline) -> Column:
        if self._shredded():
            return self.shred.view(self.spath, name)
        return inline(self.col)

    def v_object(self) -> Column:
        """map<string,variant> view; NULL unless a JSON object."""
        from .variant import variant_object

        return self._view("obj", variant_object)

    def v_array(self) -> Column:
        """array<variant> view; NULL unless a JSON array."""
        from .variant import variant_array

        return self._view("arr", variant_array)

    def v_string(self) -> Column:
        """Strict string view (NULL unless a JSON string)."""
        from .variant import variant_string

        return self._view("str", variant_string)

    def v_double(self) -> Column:
        """Strict numeric view as double (valueOfFloat,
        validator_base.go:405-425); NULL unless a JSON number."""
        from .variant import variant_double

        return self._view("num", variant_double)

    def v_bool(self) -> Column:
        """Strict boolean view (NULL unless a JSON bool)."""
        from .variant import variant_bool

        return self._view("bool", variant_bool)

    def v_kind(self) -> Column:
        """Runtime kind ∈ {string,number,bool,object,array,null}
        (typeOf, type.go:3-20); NULL for SQL-null."""
        from .variant import variant_kind

        return self._view("kind", variant_kind)

    def is_object(self) -> Column:
        """Whether the value is a JSON object (never NULL) — the
        reference's ``value.(map[string]interface{})`` guard."""
        from .variant import KIND_OBJECT, variant_is_object

        if self._shredded():
            return self.shred.test(
                self.spath, "is_object", f"coalesce({{k}} = '{KIND_OBJECT}', false)"
            )
        return variant_is_object(self.col)

    def go_label(self) -> Column:
        """reflect.TypeOf(...).String() label for type-error messages."""
        from .variant import GO_TYPE_LABELS, go_type_label

        if not self._shredded():
            return go_type_label(self.col)
        whens = " ".join(
            f"WHEN '{kind}' THEN '{label}'".replace("{", "{{").replace("}", "}}")
            for kind, label in GO_TYPE_LABELS.items()
        )
        return self.shred.test(self.spath, "go_label", f"CASE {{k}} {whens} END")

    def str_of(self) -> Column:
        """StringOf coercion (common.go:71-91) over this ref."""
        from .coerce import string_of

        if not self._shredded():
            return string_of(self.col, self.dtype)
        return self.shred.view(self.spath, "str_of")

    def num_of(self) -> Column:
        """NumberOf coercion (common.go:93-112) over this ref."""
        from .coerce import number_of

        if not self._shredded():
            return number_of(self.col, self.dtype)
        return self.shred.view(self.spath, "num_of")

    def bool_of(self) -> Column:
        """BoolOf coercion (common.go:114-129) over this ref."""
        from .coerce import bool_of

        if not self._shredded():
            return bool_of(self.col, self.dtype)
        return self.shred.view(self.spath, "bool_of")


def equal_refs(lhs: ValueRef, rhs: ValueRef) -> Column:
    """Coercing Equal (common.go:142-154) over refs: the table of
    core.coerce.coercing_equal, routed through the refs' shredded views
    when available, with a NULL fixed-type left-hand side compared as
    the reference's nil."""
    from .coerce import _is_numeric
    from .variant import KIND_BOOL, KIND_NUMBER

    if isinstance(lhs.dtype, T.VariantType):
        k = lhs.v_kind()
        return (
            F.when(k == KIND_NUMBER, lhs.num_of() == rhs.num_of())
            .when(k == KIND_BOOL, lhs.bool_of() == rhs.bool_of())
            .otherwise(lhs.str_of() == rhs.str_of())
        )
    if lhs.dtype is not None and _is_numeric(lhs.dtype):
        eq = lhs.num_of() == rhs.num_of()
    elif isinstance(lhs.dtype, T.BooleanType):
        eq = lhs.bool_of() == rhs.bool_of()
    else:
        return lhs.str_of() == rhs.str_of()
    # a NULL typed value is the reference's nil, whose Equal falls to
    # StringOf(nil) = "" (as the variant branch does), not the type's
    # zero value
    return F.when(lhs.col.isNull(), rhs.str_of() == F.lit("")).otherwise(eq)


_SEG = re.compile(r"\.|\[(\d+)\]")


def split_path(path: str) -> list[str | int]:
    """Split a jsonpath-lite string ('a.b[0].c', optionally '$.'-rooted)
    into segments; ints are array indices.  Escaped dots ('\\.')
    supported as in easy_jsonpath.go:86-130."""
    if path.startswith("$") and not path.startswith("${"):
        path = path[1:]
    if path.startswith("."):
        path = path[1:]
    segs: list[str | int] = []
    buf = ""
    i = 0
    while i < len(path):
        ch = path[i]
        if ch == "\\" and i + 1 < len(path):
            buf += path[i + 1]
            i += 2
            continue
        if ch == ".":
            if buf:
                segs.append(buf)
                buf = ""
            i += 1
            continue
        if ch == "[":
            j = path.index("]", i)
            if buf:
                segs.append(buf)
                buf = ""
            segs.append(int(path[i + 1 : j]))
            i = j + 1
            continue
        buf += ch
        i += 1
    if buf:
        segs.append(buf)
    return segs


_DYN = re.compile(r"^\$\{(.+)\}$")


def resolve(root: ValueRef, path: str) -> ValueRef:
    """Resolve a jsonpath-lite string from the root document ref.

    ``${var}`` segments are INDIRECT keys (jsonpath.go:452-481): the key
    is the runtime value of another document path.  Map and Variant
    parents index natively; a FIXED-STRUCT parent (incl. the root row)
    is first re-encoded as a Variant object (``to_variant_object``) so
    the lookup — and everything below it — gets the reference's
    runtime-kind dispatch (its values are ``interface{}``); only a
    scalar parent is statically unresolvable (nil in the reference)."""
    ref = root
    for seg in split_path(path):
        if isinstance(seg, int):
            ref = ref.index(seg)
            continue
        m = _DYN.match(seg)
        if m:
            key_ref = resolve(root, m.group(1))
            key_str = (
                key_ref.str_of()
                if isinstance(key_ref.dtype, T.VariantType)
                else (
                    F.lit(None).cast("string")
                    if key_ref.col is None or not key_ref.exists
                    else key_ref.col.cast("string")
                )
            )
            base = ref
            if isinstance(base.dtype, T.StructType):
                # fixed struct (or the root row): one Variant re-encode,
                # then the ordinary variant walk below
                struct_col = (
                    F.struct(*[F.col(f_.name) for f_ in base.dtype.fields])
                    if base.col is None
                    else base.col
                )
                base = ValueRef(
                    F.to_variant_object(struct_col), T.VariantType(), base.path
                )
            if isinstance(base.dtype, T.VariantType):
                ref = ValueRef(
                    F.try_element_at(base.v_object(), key_str),
                    T.VariantType(),
                    f"{ref.path}.${{{m.group(1)}}}",
                )
            elif isinstance(base.dtype, T.MapType):
                ref = ValueRef(
                    F.try_element_at(
                        base.col, key_ref.col.cast(base.dtype.keyType)
                    ),
                    base.dtype.valueType,
                    f"{ref.path}.${{{m.group(1)}}}",
                )
            else:
                # dynamic key on a scalar parent: statically unresolvable
                ref = ValueRef(
                    F.lit(None), None, f"{ref.path}.${{{m.group(1)}}}", exists=False
                )
            continue
        ref = ref.child(seg)
    return ref
