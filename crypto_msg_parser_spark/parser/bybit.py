"""Bybit normalization as Catalyst column pipelines.

Behavioral reference (reimplemented, not translated):
  crypto-msg-parser/src/exchanges/bybit.rs (router :122-220, trade :222-305,
  l2 :307-412, candlestick :414-490); pair rules
  crypto-pair/src/exchanges/bybit.rs:3-18; every contract is 1 USD (inverse)
  or 1 coin (linear) — crypto-contract-value/src/exchanges/bybit.rs:3-14.

Numeric fields that Bybit serializes as EITHER number or string
(trade_time_ms, price, timestamp_e6) are read as strings in the from_json
schema (Jackson yields the token text either way) and cast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    sniffer,
    explode_with_count,
    INVERSE,
    sort_book_sides,
    emit,
    item_json,
    order_level,
)

EXCHANGE = "bybit"


def normalize_pair(symbol: Column) -> Column:
    return (
        F.when(
            symbol.endswith("USDT"),
            F.concat(
                symbol.substr(F.lit(1), F.length(symbol) - 4), F.lit("/USDT")
            ),
        )
        .when(
            symbol.endswith("USD"),
            F.concat(symbol.substr(F.lit(1), F.length(symbol) - 3), F.lit("/USD")),
        )
        .when(
            symbol.substr(F.length(symbol) - 1, F.lit(2)).rlike("^[0-9]{2}$"),
            F.concat(symbol.substr(F.lit(1), F.length(symbol) - 6), F.lit("/USD")),
        )
    )


def contract_value(market_type: Column, pair: Column) -> Column:
    return F.lit(1.0)


# ---------------------------------------------------------------- router


def _topic(msg: Column) -> Column:
    return F.get_json_object(msg, "$.topic")


@sniffer
def get_msg_type(m: Msg) -> Column:
    def ladder(t):
        ch = F.split(t, "\\.").getItem(0)
        return (
            F.when(t.isNull(), "other")
            .when(ch == "trade", "trade")
            .when(ch == "orderBookL2_25", "l2_event")
            .when(t == "instrument_info", "ticker")
            .when(
                (t == "klineV2") | (t == "candle") | ch.isin("klineV2", "candle"),
                "candlestick",
            )
            .otherwise("other")
        )

    return let(ladder, m.get("$.topic"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    rest = m.rows("$.result", "struct<symbol:string>")
    return let(
        lambda t: F.when(t.isNotNull(), F.element_at(F.split(t, "\\."), -1)).when(
            (m.get("$.ret_code") == "0") & rest.isNotNull(),
            rest.getItem(0)["symbol"],
        ),
        m.get("$.topic"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    trades = m.rows("$.data", "struct<trade_time_ms:string>")
    trade_ts = F.array_max(
        F.transform(trades, lambda x: x["trade_time_ms"].try_cast("long"))
    )
    e6 = (m.get("$.timestamp_e6").try_cast("long") / 1000).cast("long")
    rest_ts = (m.get("$.time_now").try_cast("double") * 1000).try_cast("long")
    return let(
        lambda t: F.when(
            t.isNotNull() & (F.split(t, "\\.").getItem(0) == "trade"), trade_ts
        )
        .when(t.isNotNull(), e6)
        .otherwise(rest_ts),
        m.get("$.topic"),
    )


# ---------------------------------------------------------------- parsers

_TRADE_ELEM = (
    "struct<trade_time_ms:string, timestamp:string, symbol:string, "
    "side:string, size:double, price:string, trade_id:string>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """trade.* topics -> TradeMsg (bybit.rs:222-305).
    Inverse: qb = size/price, qq = size (1-USD contracts).
    Linear:  qb = size, qq = price*size (1-coin contracts)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_TRADE_ELEM}>")
    base = (
        df.filter(F.split(_topic(F.col("msg")), "\\.").getItem(0) == "trade")
        .transform(explode_with_count(arr))
        .withColumn("pair", normalize_pair(F.col("d.symbol")))
    )
    price = F.col("d.price").cast("double")
    size = F.col("d.size")
    is_inverse = F.col("market_type").isin(*INVERSE)
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.col("d.symbol"),
        timestamp=F.col("d.trade_time_ms").cast("long"),
        json=item_json(),
        side=F.when(F.col("d.side") == "Sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=F.when(is_inverse, size / price).otherwise(size),
        quantity_quote=F.when(is_inverse, size).otherwise(price * size),
        quantity_contract=size,
        trade_id=F.col("d.trade_id"),
    )


_ORDER = "struct<price:string, symbol:string, side:string, size:double>"


def parse_l2(df: DataFrame) -> DataFrame:
    """orderBookL2_25 -> OrderBookMsg (bybit.rs:307-412): snapshot payload
    is an order array (inverse) or {order_book} (linear); deltas merge
    delete+update+insert; levels route to bids/asks by their side field;
    deleted levels carry size 0."""
    data = F.get_json_object("msg", "$.data")
    snap_arr = F.from_json(data, f"array<{_ORDER}>")
    snap_lin = F.from_json(data, f"struct<order_book:array<{_ORDER}>>")
    delta = F.from_json(
        data,
        f"struct<delete:array<{_ORDER}>, update:array<{_ORDER}>, "
        f"insert:array<{_ORDER}>>",
    )
    base = (
        df.withColumn("topic", _topic(F.col("msg")))
        .filter(F.col("topic").startswith("orderBookL2_25."))
        .withColumn("symbol", F.element_at(F.split("topic", "\\."), -1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn(
            "snapshot", F.get_json_object("msg", "$.type") == "snapshot"
        )
        .withColumn(
            "levels",
            F.when(
                F.col("snapshot"),
                # struct form first: from_json with an array schema on an
                # OBJECT yields [all-null row], not NULL, so it must lose
                F.coalesce(snap_lin["order_book"], snap_arr, F.array()),
            ).otherwise(
                F.concat(
                    F.coalesce(delta["delete"], F.array()),
                    F.coalesce(delta["update"], F.array()),
                    F.coalesce(delta["insert"], F.array()),
                )
            ),
        )
        .withColumn(
            "ts",
            (F.get_json_object("msg", "$.timestamp_e6").cast("long") / 1000).cast(
                "long"
            ),
        )
    )

    def to_order(lv):
        price = lv["price"].cast("double")
        qty = F.coalesce(lv["size"], F.lit(0.0))
        return order_level(F.col("market_type"), price, qty, F.lit(1.0))

    asks = F.transform(
        F.filter(F.col("levels"), lambda x: x["side"] != "Buy"), to_order
    )
    bids = F.transform(
        F.filter(F.col("levels"), lambda x: x["side"] == "Buy"), to_order
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("ts"),
        asks=asks,
        bids=bids,
    )
    return sort_book_sides(out)


_CANDLE_ELEM = (
    "struct<start:bigint, end:bigint, period:string, open:double, "
    "close:double, high:double, low:double, volume:string, turnover:string, "
    "timestamp:bigint>"
)


def parse_candlestick(df: DataFrame) -> DataFrame:
    """klineV2 (inverse) / candle (linear) topics (bybit.rs:414-490):
    inverse swaps volume<->turnover; period from the topic for inverse,
    from the element for linear; timestamp is e6 -> /1000."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_CANDLE_ELEM}>")
    base = (
        df.withColumn("topic", _topic(F.col("msg")))
        .filter(
            F.split("topic", "\\.").getItem(0).isin("klineV2", "candle")
        )
        .withColumn("symbol", F.element_at(F.split("topic", "\\."), -1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    is_inverse = F.col("market_type").isin(*INVERSE)
    topic_period = F.split("topic", "\\.").getItem(1)
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=(F.col("d.timestamp") / 1000).cast("long"),
        json=item_json(),
        begin_time=F.col("d.start"),
        open=F.col("d.open"),
        high=F.col("d.high"),
        low=F.col("d.low"),
        close=F.col("d.close"),
        volume=F.when(is_inverse, F.col("d.turnover").cast("double"))
        .otherwise(F.col("d.volume").cast("double")),
        period=F.when(is_inverse, topic_period).otherwise(F.col("d.period")),
        quote_volume=F.when(is_inverse, F.col("d.volume").cast("double"))
        .otherwise(F.col("d.turnover").cast("double")),
    )
