"""Seeded, per-layer benchmark of the token codec engine (see run.py)."""
