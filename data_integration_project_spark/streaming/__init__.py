"""Structured Streaming re-expression of the reference's queue leg
(SURVEY.md §2.9-2.10): envelope encode/decode, bounded-drain file-inbox
pipeline, and event-time windowing beyond parity."""

from .envelope import envelope_schema, decode_envelope, encode_envelope
from .pipeline import (
    consume_inbox,
    produce_to_inbox,
    run_inbox_pipeline,
    streaming_window_counts,
    zone_counts,
)
from .upsert import scd2_stream_upsert

__all__ = [
    "scd2_stream_upsert",
    "envelope_schema",
    "decode_envelope",
    "encode_envelope",
    "produce_to_inbox",
    "consume_inbox",
    "run_inbox_pipeline",
    "streaming_window_counts",
    "zone_counts",
]
