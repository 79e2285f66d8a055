"""Sources (SURVEY.md §2.1) — batch and streaming readers."""
