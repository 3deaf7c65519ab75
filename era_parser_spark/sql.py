"""SQL surface: register the synthetic tables / warehouse as temp views so
the whole engine is usable via spark.sql(...) — Catalyst produces the same
plans either way.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from era_parser_spark.queries.registry import table
from era_parser_spark.session import hadoop_fs

SYNTH_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_synthetic_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Temp views over the TPC-H-ish synthetic tables (nanos-ts safe)."""
    for name in SYNTH_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(SYNTH_TABLES)


def register_warehouse_views(spark: SparkSession, warehouse_dir: str) -> list[str]:
    """Temp views over a normalized-era warehouse (one dir per table).

    Listing goes through the Hadoop FileSystem API so the same call works
    on file://, hdfs:// and s3a:// warehouses (driver-side metadata op).
    """
    fs, base = hadoop_fs(spark, warehouse_dir)
    if not fs.exists(base):
        return []
    names = sorted(
        st.getPath().getName()
        for st in fs.listStatus(base)
        if st.isDirectory() and not st.getPath().getName().startswith("_")
    )
    for name in names:
        spark.read.parquet(f"{warehouse_dir.rstrip('/')}/{name}").createOrReplaceTempView(name)
    return names
