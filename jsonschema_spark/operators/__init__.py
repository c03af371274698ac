"""Table-level operators: the checks (schema, stats, uniqueness,
functional dependency, RI, drift), the conversation-sequence check,
skew salting, stable turn ordering, incremental stats over mergeable
HLL sketches, plus temporal joins and document hygiene (PII, unigram-LM
scoring, phrase blocklist)."""

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
