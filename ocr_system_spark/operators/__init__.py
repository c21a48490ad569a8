"""Spark-level operators: Arrow-batched extraction, dedup families,
similarity search, multimodal plumbing. Each operator takes/returns
DataFrames and keeps all heavy per-row work inside Arrow batch kernels
from :mod:`ocr_system_spark.functions`."""
