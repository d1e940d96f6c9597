"""Loaders for the driver-generated parquet testdata (TESTDATA.md).

Plain ``spark.read.parquet`` — column pruning and predicate pushdown are
applied by Catalyst from the downstream plan; do not pre-select here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

