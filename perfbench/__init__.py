"""End-to-end and per-layer benchmark of alligator_spark (see run.py)."""
