"""Exact cross-engine money arithmetic.

Double summation is order-dependent, so a Spark aggregate and a DuckDB
oracle can disagree in the last ulps — and rounding the *sum* doesn't help
when the true value sits on a rounding boundary (x.xx5). The engine instead
quantizes money-like columns to integer minor units *before* aggregation:

  cents(x)  = CAST(round(x * 100) AS BIGINT)    -- unambiguous: the double is
                                                -- within ~1e-9 of a 2-decimal
                                                -- value, 0.5 away from the
                                                -- nearest boundary

Integer sums are exact and order-insensitive in both engines; the final
scale-back (`/ 100.0`, `/ 1e6`) is a single IEEE-754 op on identical inputs,
hence bit-identical. This mirrors the reference's own determinism convention
(its round9 = (x*1e9).round()/1e9, crypto-msg-parser/src/exchanges/utils.rs:26-30).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """Money double (<=2 true decimals) -> exact integer cents."""
    return F.round(col * 100).cast("long")

