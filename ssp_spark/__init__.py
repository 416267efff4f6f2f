"""ssp_spark: a PySpark-native analytics engine with the capabilities of
the affo/ssp stream processor,
re-expressed Spark-first per SURVEY.md.

Public surface:
- session.get_spark / catalog.load_tables — tuned session + fixture catalog
- Stream — the ssp-equivalent fluent API (map/flat_map/filter/key_by/
  stateful/window_by/merge/sinks)
- operators.* — relational, windows, dedup, similarity, text, multimodal
- streaming.* — Structured Streaming forms (stateful, windowed, late-data)
- queries — the declared query set with DuckDB oracle parity
"""

from ssp_spark.session import get_spark
from ssp_spark.catalog import load_tables, load_table, register_views
from ssp_spark.stream import Stream

__all__ = ["get_spark", "load_tables", "load_table", "register_views", "Stream"]
__version__ = "0.1.0"
