"""Compound operators (SURVEY.md §2.4-2.7 + training-data extensions)."""
