"""End-to-end and per-module benchmark of elasticsearch_spark (see README.md)."""
