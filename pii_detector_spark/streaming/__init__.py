"""Structured Streaming surface: the full pipeline as an incremental
(Trigger.AvailableNow) job over the web_pages table, and watermarked event
metrics."""
