"""Structured Streaming surface (SURVEY.md §2.10)."""
