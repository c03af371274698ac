"""jsonschema_spark — a PySpark-native schema + constraint validation
engine with the capabilities of seeadoog/jsonschema (reference at
/root/reference, read-only), re-expressed Spark-first.

A schema document (the same JSON shape the Go reference accepts) is
compiled ONCE on the driver into a Catalyst Column-expression plan and
evaluated columnar over a DataFrame — one row == one document.  On top
of the row-level keyword engine sit the table-level checks a
100 TB-scale validation run needs: column stats, salted uniqueness,
broadcast-anti-join referential integrity, and sketch-based
distribution drift, all emitting per-partition verdicts and resumable
from checkpoints.

Quick start::

    from jsonschema_spark import compile_schema
    plan = compile_schema({
        "required": ["conv_id", "role"],
        "properties": {
            "role": {"type": "string", "enum": ["system", "user", "assistant", "tool"]},
            "turn_idx": {"type": "integer", "minimum": 0},
        },
    })
    result = plan.validate(df, keys=["conv_id", "turn_idx"])
    result.violations.show()   # (conv_id, turn_idx, path, info)
"""

from .plans.compiler import (
    CompiledSchema,
    SchemaError,
    ValidationResult,
    add_ignore_key,
    compile_schema,
    register_keyword,
)
from .plans.formats import register_format
from .functions.values import register_func
from .functions.expr_lang import register_expr_fn
from .core.generate import (
    generate_schema,
    generate_schema_doc,
    get_schema,
    register_schema,
)

__all__ = [
    "CompiledSchema",
    "SchemaError",
    "ValidationResult",
    "add_ignore_key",
    "compile_schema",
    "generate_schema",
    "generate_schema_doc",
    "get_schema",
    "register_schema",
    "register_keyword",
    "register_format",
    "register_func",
    "register_expr_fn",
]

__version__ = "0.1.0"
