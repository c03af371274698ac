"""Table-level operators: the checks (schema, stats, uniqueness, RI,
drift), conversation-transcript checks, skew salting, stable turn
ordering, incremental stats and mergeable sketches, plus the
training-data operators still to be cut (dedup, text, kernels,
temporal)."""

from .checks import (
    Check,
    CheckSuite,
    ColumnStats,
    Drift,
    ReferentialIntegrity,
    SchemaCheck,
    Uniqueness,
)

__all__ = [
    "Check",
    "CheckSuite",
    "ColumnStats",
    "Drift",
    "ReferentialIntegrity",
    "SchemaCheck",
    "Uniqueness",
]
