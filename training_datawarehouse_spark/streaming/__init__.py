"""Structured Streaming: the events stream (``events_stream``), custom
stateful operators (``stateful``) and stream-stream joins (``joins``)."""
from .events_stream import event_schema, stream_events, windowed_counts  # noqa: F401
