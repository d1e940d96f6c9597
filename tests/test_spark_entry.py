"""The driver contract in `__spark_entry__.py`: the smoke query returns
rows, and `queries()` / `oracle_sql()` re-export exactly the registry."""

from __future__ import annotations

import __spark_entry__ as entry_mod
from crypto_msg_parser_spark.registry import all_queries


def test_entry_returns_rows(spark):
    assert entry_mod.entry(spark).limit(1).count() == 1


def test_queries_are_the_registry():
    qs, fns = all_queries(), entry_mod.queries()
    assert list(fns) == list(qs)
    assert all(fns[n] is q.spark_fn for n, q in qs.items())


def test_oracle_sql_covers_exactly_the_oracled_rows():
    oracled = {
        n: q.oracle for n, q in all_queries().items() if q.oracle is not None
    }
    assert entry_mod.oracle_sql() == oracled
