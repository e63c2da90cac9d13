"""Benchmark of the watermark cycle and the registry queries; run it
with ``python3 perfbench/run.py`` (see README.md in this directory)."""
