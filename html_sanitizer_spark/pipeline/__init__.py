"""Batch pipeline: read -> chunk -> salt -> sanitize -> merge -> write,
with per-partition lineage and checkpoint/resume."""
