"""PySpark-native analytics engine with the query surface of
nypl-spacetime/etl-addresses (reference: /root/reference/addresses.js),
re-expressed Spark-first, plus large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal).

Layout:
    sources/    - parquet table loaders, NDJSON object streams, geo fixtures
    functions/  - scalar column expressions (fuzzy dates, ids, geo math, text)
    operators/  - the flagship spatio-temporal join, transform fan-out,
                  dedup, similarity, edit-distance join (fuzzy),
                  multimodal plumbing
    plans/      - relational query surface by domain (tpch, timeseries,
                  setops, aggregates), flagship/transform, extension and
                  streaming registry rows
    registry.py - every module's QUERIES assembled into the registry
    streaming/  - Structured Streaming variants (watermark, session windows)
"""

from etl_addresses_spark.session import get_spark

__all__ = ["get_spark"]
