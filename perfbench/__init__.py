"""Benchmark for bytewax_spark: batch job time, streaming drain
throughput and open-loop latency, with per-layer traces.

Run it from the repository root with ``python3 perfbench/run.py``;
see ``perfbench/README.md``.
"""
