"""Dataflow operators: the engine's core (SURVEY.md §2.3-§2.9)."""
