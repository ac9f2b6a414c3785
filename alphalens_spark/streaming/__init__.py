"""Structured Streaming extensions.

The reference is strictly batch (SURVEY §2.9 — no watermarks, no stateful
ops anywhere in alphalens). These are engine extensions: the canonical
pipeline's per-date cross-sectional aggregations map naturally onto
event-time tumbling windows, while the forward-looking ``lead`` makes the
full factor_data stream awkward (output for date t is only final at
t + max(period)) — so the streaming surface covers the ingestion-side,
per-event-time operators.
"""

from alphalens_spark.streaming.ops import (  # noqa: F401
    stream_event_counts,
    stream_factor_stats,
    stream_running_quantile_counts,
    stream_sessionize,
    stream_store,
)
