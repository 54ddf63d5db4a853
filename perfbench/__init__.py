"""End-to-end and per-layer benchmark of streamsum_spark (see run.py)."""
