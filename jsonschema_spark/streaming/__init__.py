"""Structured Streaming validation: stateless plan annotation,
watermarked windowed verdicts, bounded-state uniqueness and
violation-rate alerts."""

from .validate import (
    annotate_stream,
    bounded_state_partitions,
    stateful_dedup_stream,
    violation_rate_alert,
    windowed_verdicts,
)

__all__ = [
    "annotate_stream",
    "bounded_state_partitions",
    "stateful_dedup_stream",
    "violation_rate_alert",
    "windowed_verdicts",
]
