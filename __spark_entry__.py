"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real definitions live in ``crypto_msg_parser_spark.registry`` — one
entry per implemented operator from SURVEY.md §2 plus the training-data
pipeline ops; this module only re-exports them in the driver's shape.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from crypto_msg_parser_spark.registry import all_queries

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: binance spot trades through the parse
    pipeline, the reference's first dispatch arm."""
    qs = all_queries()
    return qs["parse_binance_spot_trade"].spark_fn(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items()}
