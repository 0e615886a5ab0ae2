"""Benchmark arithmetic and reporting (pure Python, no Spark)."""
