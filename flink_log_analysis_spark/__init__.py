"""flink_log_analysis_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
``jiamx/flink-log-analysis`` (a Flink streaming log-analysis pipeline),
re-expressed Spark-first:

- Apache combined-log parsing as vectorized Catalyst expressions
  (no per-row UDFs on the hot path) — see :mod:`.logparse`.
- The reference's three continuous queries (hot-section / hot-article /
  client-ip-access: filter -> broadcast dim join -> group count -> top-k)
  as batch + Structured Streaming dual-mode plans — see :mod:`.plans`.
- Keyed upsert sinks and streaming top-k via ``foreachBatch`` — see
  :mod:`.streaming.upsert` and :mod:`.streaming`.
- LLM-data-pipeline extension operators (dedup, MinHash LSH, SimHash,
  similarity search, text analysis, multimodal columns) designed for
  100 TB scale — see :mod:`.operators`.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
