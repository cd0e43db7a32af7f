"""Structured Streaming layer.

The reference has no streaming path (SURVEY.md §2.10 — ingestion is
request-driven); this engine adds the incremental equivalent a production
deployment needs: a file-drop source stream through the same extraction
kernels via foreachBatch, where each micro-batch is one idempotent pipeline
run (``ingest.py``; ``jobs/run_kg_stream.py`` is its spark-submit entry).
"""
