"""Bitstamp normalization (spot only, WebSocket v2).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/bitstamp.rs;
  pair rule crypto-pair/src/exchanges/bitstamp.rs (4-char usdc/usdt
  quote else 3-char suffix, uppercased).

Symbols ride in the channel suffix (live_trades_btcusd). Timestamps are
microseconds (/1000 -> ms). Channels: live_trades_* (trade),
diff_order_book_* (L2Event), order_book_* (L2TopK snapshot),
detail_order_book_* (L3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    sniffer,
    emit,
    sort_book_sides,
    parsed_once,
    spot_level,
)

EXCHANGE = "bitstamp"


def normalize_pair(symbol: Column) -> Column:
    four = symbol.endswith("usdc") | symbol.endswith("usdt")
    base = F.when(
        four, symbol.substr(F.lit(1), F.length(symbol) - 4)
    ).otherwise(symbol.substr(F.lit(1), F.length(symbol) - 3))
    quote = F.when(
        four, symbol.substr(F.length(symbol) - 3, F.lit(4))
    ).otherwise(symbol.substr(F.length(symbol) - 2, F.lit(3)))
    return F.upper(F.concat(base, F.lit("/"), quote))


def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$.channel")


def _channel_symbol(msg: Column) -> Column:
    return F.substring_index(_channel(msg), "_", -1)


@sniffer
def get_msg_type(m: Msg) -> Column:
    return let(
        lambda ch: F.when(ch.startswith("live_trades_"), "trade")
        .when(ch.startswith("diff_order_book_"), "l2_event")
        .when(ch.startswith("detail_order_book_"), "l3_event")
        .when(ch.startswith("live_orders_"), "l3_event")
        .when(ch.startswith("order_book_"), "l2_topk")
        .otherwise("other"),
        m.get("$.channel"),
    )


@sniffer
def extract_symbol(m: Msg) -> Column:
    """bitstamp.rs:49-61: channel suffix; bare book snapshots -> NONE."""
    return let(
        lambda ch: F.when(ch.isNotNull(), F.substring_index(ch, "_", -1)).when(
            m.has("$.asks") & m.has("$.bids"), "NONE"
        ),
        m.get("$.channel"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """bitstamp.rs:63-77: microtimestamp / 1000."""
    micro = F.coalesce(
        m.get("$.data.microtimestamp"), m.get("$.microtimestamp")
    ).try_cast("long")
    return F.floor(micro / 1000).cast("long")


def parse_trade(df: DataFrame) -> DataFrame:
    """bitstamp.rs:79-109: type 1 = sell; ts = µs/1000."""
    base = df.filter(_channel(F.col("msg")).startswith("live_trades_")).withColumn(
        "symbol", _channel_symbol(F.col("msg"))
    )
    price = F.get_json_object("msg", "$.data.price").cast("double")
    qty = F.get_json_object("msg", "$.data.amount").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.floor(
            F.get_json_object("msg", "$.data.microtimestamp").cast("long") / 1000
        ).cast("long"),
        side=F.when(F.get_json_object("msg", "$.data.type") == "1", "sell")
        .otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.get_json_object("msg", "$.data.id"),
    )


def _parse_book(df: DataFrame) -> DataFrame:
    ch = _channel(F.col("msg"))
    book = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<microtimestamp:string, asks:array<array<string>>,"
        " bids:array<array<string>>>",
    )
    base = (
        df.filter(
            ch.startswith("diff_order_book_") | ch.startswith("order_book_")
        )
        .withColumn("symbol", _channel_symbol(F.col("msg")))
        .transform(parsed_once(book))
        .withColumn("is_diff", ch.startswith("diff_order_book_"))
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return spot_level(price, qty)

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(F.col("is_diff"), "l2_event").otherwise("l2_topk"),
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.floor(F.col("d.microtimestamp").cast("long") / 1000).cast("long"),
        snapshot=~F.col("is_diff"),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


def parse_l2(df: DataFrame) -> DataFrame:
    """bitstamp.rs:111-161."""
    return _parse_book(df)


def parse_l2_topk(df: DataFrame) -> DataFrame:
    """bitstamp.rs:163-168: delegates to parse_l2."""
    return _parse_book(df)
