"""Central query registry.

Every operator the engine claims (SURVEY.md §2 plus the training-data
pipeline ops) registers here as a named query over the driver's testdata
tables, together with an equivalent DuckDB oracle SQL string. The driver's
__spark_entry__.py re-exports this registry; the local pytest suite replays
it against DuckDB at sf0.001 so oracle mismatches are caught before the
driver's own sf0.01 run.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQueryFn = Callable[[SparkSession, str], DataFrame]

# Runtime-settable SQL confs every query needs regardless of who built the
# SparkSession. The driver harness (and any embedding application) passes
# its OWN default-config session; without these, binance's case-significant
# payload keys (e/E, t/T) are ambiguous and timestamp semantics drift with
# the host timezone. Both are per-session SQL confs, safe to set at entry.
_REQUIRED_CONFS = {
    "spark.sql.caseSensitive": "true",
    "spark.sql.session.timeZone": "UTC",
    # deactivate whole-stage codegen for subtrees whose generated method
    # exceeds HotSpot's 8000-byte JIT limit (they would run interpreted,
    # ~10x slower — a wide parse projection, a union of 20 exchange arms);
    # everything JIT-able keeps codegen. Runtime-settable SQL conf, safe
    # on a host session.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}


def ensure_session_confs(spark: SparkSession) -> None:
    """Make an arbitrary host SparkSession safe for the engine's queries."""
    for k, v in _REQUIRED_CONFS.items():
        spark.conf.set(k, v)


@dataclass
class Query:
    name: str
    spark_fn: SparkQueryFn
    oracle: str  # DuckDB SQL the driver compares the row's output with
    doc: str = ""
    # spark_fn runs a writeStream job and returns its drained result, so a
    # re-execution of the returned frame measures nothing: bench.py
    # rebuilds these rows on every pass
    streaming: bool = False
    module: str = ""  # the registering module, which fixes the row's rank


_REGISTRY: dict[str, Query] = {}

# Modules whose import registers queries; their order is all_queries() order:
# the paper's surface (parse, crawl) first, then what consumes its output.
_QUERY_MODULES = [
    "crypto_msg_parser_spark.parser.queries",
    "crypto_msg_parser_spark.crawl.queries",
    "crypto_msg_parser_spark.parser.analytics",
    "crypto_msg_parser_spark.operators.dedup",
    "crypto_msg_parser_spark.operators.textstats",
    "crypto_msg_parser_spark.operators.similarity",
    "crypto_msg_parser_spark.operators.multimodal",
    "crypto_msg_parser_spark.operators.interleaved",
    "crypto_msg_parser_spark.operators.corpus",
    "crypto_msg_parser_spark.operators.scrub",
]


def query(name: str, oracle: str, doc: str = "", streaming: bool = False):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: SparkQueryFn) -> SparkQueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn  # inspect.unwrap -> the real plan builder
        _REGISTRY[name] = Query(
            name=name,
            spark_fn=wrapped,
            oracle=oracle,
            doc=doc,
            streaming=streaming,
            module=fn.__module__,
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    """Every registered row, in _QUERY_MODULES order and registration
    order within a module: the paper surface (parse, then crawl) first,
    so a driver sampling the first N rows covers it before the analytics
    and training-data rows, whichever module a process imported first."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    rank = {mod: i for i, mod in enumerate(_QUERY_MODULES)}
    rows = sorted(_REGISTRY.values(), key=lambda q: rank.get(q.module, len(rank)))
    return {q.name: q for q in rows}
