"""Benchmark of pmcanalysis_spark: see run.py."""
