"""Benchmark of the census ETL flow and the corpus dedup cascade; see run.py."""
