"""Structured Streaming extensions (SURVEY.md §7.6 — beyond parity scope;
the reference is cron-batch only, §2.9)."""

from .jobs import (  # noqa: F401
    dedup_stream, stream_stream_join, windowed_value_rollup,
)
