"""Scalar column expressions shared across the engine.

All pure Column expressions (JVM-side, whole-stage-codegen friendly) — no
Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def round9(col: Column) -> Column:
    """Round to 9 decimals exactly as the reference does.

    The reference computes ``(x * 1e9).round() / 1e9`` in f64
    (crypto-msg-parser/src/exchanges/utils.rs:26-30 and
    crypto-message/src/lib.rs:217-221) — half-away-from-zero on the scaled
    value, all in binary floating point. ``F.round(col, 9)`` goes through
    HALF_UP decimal semantics which can differ in the last ulp, so we use the
    same multiply/round/divide form. Spark's ``round(x)`` to 0 decimals is
    also HALF_UP, which on an integral-scaled double matches Rust's
    ``f64::round`` (half away from zero) for all finite inputs.
    """
    return F.round(col * F.lit(1e9)) / F.lit(1e9)


def stable_hash64(col: Column, nibbles: int = 15) -> Column:
    """Deterministic 60-bit hash reproducible in any engine with md5.

    Takes the first ``nibbles`` hex digits of md5 and parses as base-16
    (15 nibbles = 60 bits, fits a signed 64-bit long). Used wherever the
    engine needs a cross-engine-checkable hash (dedup keys, minhash,
    frontier bucket ids). For pure Spark-internal shuffle keys prefer
    ``F.xxhash64`` (faster, JVM-native) — the reference's ahash(1,2,3,4)
    symbol hashing (crypto-message/src/compact/message.rs:217-220) is
    platform-unstable and deliberately not reproduced (SURVEY.md §7.3).

    DuckDB equivalent: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    return F.conv(F.substring(F.md5(col), 1, nibbles), 16, 10).cast("long")

