"""Small constant tables (contract-value dictionaries, robots bodies, seed
lists, empty seen sets) as JVM ``LocalRelation``s.

``spark.createDataFrame(<python list>, schema)`` parallelizes pickled rows
into an RDD (``LogicalRDD``), so every execution of a plan that reads the
table starts Python workers to unpickle a few constant rows. With pandas +
Arrow it is a ``LocalRelation`` only while
``spark.sql.execution.arrow.pyspark.enabled`` is true. An inline ``VALUES``
table is a ``LocalRelation`` under any session conf: the analyzer folds it
into rows the driver's JVM holds and ships inside the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def _sql_literal(v) -> str:
    """A SQL literal of ``v`` that reads the same under any parser conf:
    strings go as UTF-8 hex (no quote or backslash escaping), floats as
    their shortest round-trip repr with the ``D`` (double) suffix, ints as
    ``str`` (``True``/``False`` for bools)."""
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, str):
        return f"X'{v.encode().hex()}'"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def local_table(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """``rows`` as a ``LocalRelation`` with exactly ``schema`` (names,
    types, nullability), like ``spark.createDataFrame(rows, schema)`` but
    with no RDD and no Python worker behind it."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    fields = schema.fields
    cols = []
    for i, f in enumerate(fields):
        c = f"CAST(c{i} AS {f.dataType.simpleString()})"
        # IF(true, …, NULL) is a nullable expression the optimizer folds
        # into the relation's rows before it would simplify the IF away
        cols.append(f"{f'IF(true, {c}, NULL)' if f.nullable else c} AS `{f.name}`")
    for row in rows:
        for v, f in zip(row, fields):
            if v is None and not f.nullable:
                raise ValueError(f"field {f.name} is not nullable")
    values = ", ".join(
        f"({', '.join(map(_sql_literal, r))})" for r in rows or [(None,) * len(fields)]
    )
    names = ", ".join(f"c{i}" for i in range(len(fields)))
    return spark.sql(
        f"SELECT {', '.join(cols)} FROM VALUES {values} AS t({names})"
        + ("" if rows else " LIMIT 0")
    )
