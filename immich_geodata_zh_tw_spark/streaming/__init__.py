"""Structured-Streaming incremental ingest: ``incremental_reverse_geocode``."""
