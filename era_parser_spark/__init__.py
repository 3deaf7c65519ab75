"""era_parser_spark — PySpark-native analytics engine with the capability
surface of gnosischain/era-parser, rebuilt Spark-first.

Layout:
  config/     network + fork constants (public chain parameters)
  parsing/    pure-Python e2store/SSZ/snappy parse kernel (runs inside tasks)
  sources/    era-file binary source -> parsed-blocks DataFrame; discovery
  operators/  normalize (15 tables), dedup, similarity, text analysis
  sinks/      parquet/json/csv/ClickHouse writers with partitioning + metadata
  state/      era-state table: incremental planning, idempotent overwrite
  streaming/  Trigger.AvailableNow incremental pipeline
  queries/    named query builders + DuckDB oracle SQL (driver contract)
"""

__version__ = "0.1.0"
