"""Steady end-to-end and per-layer benchmark of the stream engine package."""
