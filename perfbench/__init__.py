"""Seeded, output-checked benchmark of the pipeline engine (see README.md)."""
