"""FTX normalization (spot, linear futures/swaps, MOVE, BVOL).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/ftx.rs;
  pair rules crypto-pair/src/exchanges/ftx.rs:3-22;
  contract value always 1.0 (crypto-contract-value/src/lib.rs:18).

Envelope: {channel, market, type, data}. Trade timestamps are RFC3339
strings with fractional seconds; orderbook/ticker times are float seconds.
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
    parsed_once,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
)

EXCHANGE = "ftx"


def normalize_pair(symbol: Column) -> Column:
    return (
        F.when(
            symbol.endswith("-PERP"),
            F.concat(F.regexp_replace(symbol, "-PERP$", ""), F.lit("/USD")),
        )
        .when(
            symbol.contains("-MOVE-"),
            F.concat(F.split(symbol, "-")[0], F.lit("/USD")),
        )
        .when(symbol.contains("/"), symbol)
        .when(
            symbol.contains("-"),
            F.concat(F.regexp_replace(symbol, "-[^-]*$", ""), F.lit("/USD")),
        )
        .otherwise(F.concat(symbol, F.lit("/USD")))
    )


def _rfc3339_ms(col: Column) -> Column:
    return (F.to_timestamp(col).cast("double") * 1000).cast("long")


# ---------------------------------------------------------------- router

def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$.channel")


@sniffer
def get_msg_type(m: Msg) -> Column:
    """ftx.rs:140-155."""
    return let(
        lambda ch: F.when(ch == "trades", "trade")
        .when(ch == "orderbook", "l2_event")
        .when(ch == "ticker", "ticker")
        .otherwise("other"),
        m.get("$.channel"),
    )


@sniffer
def extract_symbol(m: Msg) -> Column:
    """ftx.rs:67-95."""
    arr = m.rows("$.result", "struct<name:string>")
    is_arr = m.raw.rlike('"result"\\s*:\\s*\\[')
    has_book = m.has("$.result.asks") & m.has("$.result.bids")
    return let(
        lambda market: F.when(market.isNotNull(), market).when(
            m.get("$.success") == "true",
            F.when(is_arr & (F.size(arr) > 1), "ALL")
            .when(is_arr & (F.size(arr) == 1), arr[0]["name"])
            .when(is_arr, "NONE")
            .when(has_book, "NONE"),
        ),
        m.get("$.market"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """ftx.rs:97-136: trades max RFC3339; orderbook/ticker float secs."""
    trades = m.rows("$.data", "struct<time:string>")
    return let(
        lambda ch: F.when(
            ch == "trades",
            F.array_max(F.transform(trades, lambda x: _rfc3339_ms(x["time"]))),
        )
        .when(
            ch.isin("orderbook", "ticker"),
            (m.get("$.data.time").try_cast("double") * 1000).try_cast("long"),
        )
        .otherwise(F.lit(None).cast("long")),
        m.get("$.channel"),
    )


# ---------------------------------------------------------------- trades

_TRADE = (
    "array<struct<id:bigint, price:double, size:double, side:string,"
    " liquidation:boolean, time:string>>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """ftx.rs:157-208."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), _TRADE)
    base = (
        df.filter(_channel(F.col("msg")) == "trades")
        .withColumn("symbol", F.get_json_object("msg", "$.market"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    q = quantity_triple(
        F.col("market_type"), F.col("d.price"), F.col("d.size"), F.lit(1.0)
    )
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=_rfc3339_ms(F.col("d.time")),
        json=item_json(),
        side=F.when(F.col("d.side") == "sell", "sell").otherwise("buy"),
        price=F.col("d.price"),
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=F.col("d.id").cast("string"),
    )


# ---------------------------------------------------------------- orderbooks

_BOOK = (
    "struct<action:string, time:double,"
    " asks:array<array<double>>, bids:array<array<double>>>"
)


def parse_l2(df: DataFrame) -> DataFrame:
    """ftx.rs:210-252: action 'partial' = snapshot; [price, qty] f64."""
    base = (
        df.filter(_channel(F.col("msg")) == "orderbook")
        .withColumn("symbol", F.get_json_object("msg", "$.market"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.data"), _BOOK)))
        .withColumn("snapshot", F.col("d.action") == "partial")
    )

    def order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return order_level(F.col("market_type"), price, qty, F.lit(1.0))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=(F.col("d.time") * 1000).cast("long"),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


# ---------------------------------------------------------------- bbo

def parse_bbo(df: DataFrame) -> DataFrame:
    """ftx.rs:254-300: ticker channel."""
    base = (
        df.filter(_channel(F.col("msg")) == "ticker")
        .withColumn("symbol", F.get_json_object("msg", "$.market"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    ask_p = F.get_json_object("msg", "$.data.ask").cast("double")
    ask_q = F.get_json_object("msg", "$.data.askSize").cast("double")
    bid_p = F.get_json_object("msg", "$.data.bid").cast("double")
    bid_q = F.get_json_object("msg", "$.data.bidSize").cast("double")
    aq = quantity_triple(F.col("market_type"), ask_p, ask_q, F.lit(1.0))
    bq = quantity_triple(F.col("market_type"), bid_p, bid_q, F.lit(1.0))
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        timestamp=(F.get_json_object("msg", "$.data.time").cast("double") * 1000)
        .cast("long"),
        bid_price=bid_p,
        bid_quantity_base=bq["quantity_base"],
        bid_quantity_quote=bq["quantity_quote"],
        bid_quantity_contract=bq["quantity_contract"],
        ask_price=ask_p,
        ask_quantity_base=aq["quantity_base"],
        ask_quantity_quote=aq["quantity_quote"],
        ask_quantity_contract=aq["quantity_contract"],
    )
