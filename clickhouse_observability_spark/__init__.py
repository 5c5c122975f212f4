"""clickhouse_observability_spark — a PySpark-native log-analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference observability service
(formanojhr/clickhouse-observability: gRPC batch ingest -> micro
batcher -> ClickHouse MergeTree `logs` table + HTTP query API), built
Spark-first:

- the `logs` data model as a partitioned, sorted Parquet table
  (reference DDL: internal/db/db.go:39-57);
- the query surface of internal/db/db.go:80-99 + README ad-hoc
  queries as declarative DataFrame plans optimized by Catalyst;
- streaming ingest semantics (internal/batcher/batcher.go) via
  Structured Streaming;
- EXT large-scale training-data operators (dedup, similarity search,
  text analysis) with no reference counterpart.

Nothing here is a translation of the reference's Go code; the
reference defines WHAT to compute, Spark decides HOW.
"""

from clickhouse_observability_spark.session import get_spark, ensure_utc

__all__ = ["get_spark", "ensure_utc"]
__version__ = "0.1.0"
