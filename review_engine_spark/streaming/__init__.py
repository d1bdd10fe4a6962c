"""Structured Streaming surface (SURVEY §2.I)."""
