"""Benchmark of the spark_skew_join_spark package; entry point ``run.py``."""
