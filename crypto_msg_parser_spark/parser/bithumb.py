"""Bithumb normalization (spot only).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/bithumb.rs;
  pair rule crypto-pair/src/lib.rs:46 ('-' -> '/').

Envelope: {code, data, timestamp, topic}; code 00006 = snapshot (data is
an array for trades), 00007 = update (single object). Orderbook sides are
`s` (asks) and `b` (bids); seq_id from the `ver` string.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    sniffer,
    emit,
    item_json,
    parsed_once,
    sort_book_sides,
    spot_level,
)

EXCHANGE = "bithumb"


def normalize_pair(symbol: Column) -> Column:
    return F.when(symbol.contains("-"), F.translate(symbol, "-", "/"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    """bithumb.rs:46-66: data.symbol or first array element's symbol."""
    return F.coalesce(m.get("$.data.symbol"), m.get("$.data[0].symbol"))


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """bithumb.rs:68-76: envelope timestamp (ms)."""
    return m.get("$.timestamp").try_cast("long")


_TRADE_FIELDS = ("p", "s", "symbol", "t", "v", "ver")
_TRADE = "struct<" + ", ".join(f"{f}:string" for f in _TRADE_FIELDS) + ">"


def parse_trade(df: DataFrame) -> DataFrame:
    """bithumb.rs:78-131: 00006 snapshot fan-out / 00007 single;
    ts = t seconds * 1000; trade_id = ver.

    Every field of the reference's trade struct is required, so serde
    rejects a message whose items lack one — e.g. a 00007 ticker, which
    has `p` and `t` (a decimal volume there) but no `s`. Such a message
    is dropped here too, before `t` is cast."""
    code = F.get_json_object("msg", "$.code")
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_TRADE}>")
    single = F.from_json(F.get_json_object("msg", "$.data"), _TRADE)
    base = (
        df.filter(code.isin("00006", "00007"))
        .withColumn(
            "items",
            F.when(code == "00007", F.array(single)).otherwise(arr),
        )
        .filter(F.col("items").isNotNull() & (F.size("items") > 0))
        .filter(
            F.forall(
                "items",
                lambda d: reduce(
                    operator.and_, [d[f].isNotNull() for f in _TRADE_FIELDS]
                ),
            )
        )
        .withColumn("n_items", F.size("items"))
        .select("*", F.explode("items").alias("d"))
    )
    price = F.col("d.p").cast("double")
    qty = F.col("d.v").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.col("d.symbol"),
        pair=normalize_pair(F.col("d.symbol")),
        timestamp=F.col("d.t").cast("long") * 1000,
        json=item_json(),
        side=F.when(F.col("d.s") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.col("d.ver"),
    )


_BOOK = (
    "struct<b:array<array<string>>, s:array<array<string>>,"
    " symbol:string, ver:string>"
)


def parse_l2(df: DataFrame) -> DataFrame:
    """bithumb.rs:133-190: asks from `s`, bids from `b`; snapshot iff
    code 00006; ts = envelope timestamp."""
    code = F.get_json_object("msg", "$.code")
    base = (
        df.filter(code.isin("00006", "00007"))
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.data"), _BOOK)))
        .filter(F.col("d.symbol").isNotNull())
        .withColumn("snapshot", code == "00006")
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return spot_level(price, qty)

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        symbol=F.col("d.symbol"),
        pair=normalize_pair(F.col("d.symbol")),
        timestamp=F.get_json_object("msg", "$.timestamp").cast("long"),
        asks=F.transform(F.coalesce("d.s", F.array()), order),
        bids=F.transform(F.coalesce("d.b", F.array()), order),
        seq_id=F.col("d.ver").try_cast("long"),
    )
    # the central snapshot sort of lib.rs:148-161
    return sort_book_sides(out)
