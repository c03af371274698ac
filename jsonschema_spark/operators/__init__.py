"""Table-level operators: the checks (schema, stats, uniqueness, RI,
drift), conversation-transcript checks, skew salting, stable turn
ordering, incremental stats and mergeable sketches, plus temporal
joins and document hygiene (PII, unigram-LM scoring, phrase blocklist)."""

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
