"""Benchmark harness for the htm_streamer_spark engine (see run.py)."""
