"""Structured Streaming surface.

The reference is purely batch (SURVEY.md §2.2: no streaming), but its events
corpus is stream-shaped -- strictly increasing, all-distinct timestamps
(/root/reference/scripts/json-generator.py:58-63) -- and the north-star
extensions call for watermarked windowed aggregation and custom stateful
operators.  Design rule: every streaming pipeline is a thin ``readStream``
wrapper around the SAME transform function its batch twin uses, so the
DuckDB-oracled batch query in ``plans.queries_streaming`` is literally the
correctness spec of the stream.
"""

from .events_stream import (  # noqa: F401
    EVENTS_SCHEMA,
    read_events_stream,
    sessionize_batch,
    sessionize_stream,
    window_event_counts,
)
