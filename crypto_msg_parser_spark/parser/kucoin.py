"""KuCoin normalization (spot + futures/swaps).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/kucoin/{mod.rs, kucoin_spot.rs,
  kucoin_swap.rs, message.rs};
  pair + currency-alias rules crypto-pair/src/exchanges/kucoin.rs:3-46;
  contract values crypto-contract-value/src/exchanges/kucoin.rs:314-320
  (inverse closed-form 1.0; linear via parser/data/
  kucoin_contract_values.json).

Envelope: {subject, topic, type, data}; symbols ride in the topic after the
last ':'. Timestamps are a zoo — ns for matches (/1e6), ms elsewhere
(mod.rs:60-110). Swap BBO (tickerV2) and swap candlesticks are todo!() in
the reference (kucoin_swap.rs:204-213) and intentionally unimplemented here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    sniffer,
    data_json,
    parsed_once,
    SPOT,
    quantity_triple,
    sort_book_sides,
    emit,
    order_level,
    spot_level,
)
from crypto_msg_parser_spark.sources.local import local_table
from crypto_msg_parser_spark.functions.scalar import round9

EXCHANGE = "kucoin"


# crypto-pair/src/exchanges/kucoin.rs:3-22
_CURRENCY_ALIASES = {
    "XBT": "BTC",
    "BCHSV": "BSV",
    "ETH2": "KSETH",
    "R": "REV",
    "WAX": "WAXP",
    "LOKI": "OXEN",
    "GALAX": "GALA",
}


def _norm_currency(cur: Column) -> Column:
    expr = F.upper(cur)
    for k, v in _CURRENCY_ALIASES.items():
        expr = F.when(cur == k, v).otherwise(expr)
    return expr


def normalize_pair(symbol: Column) -> Column:
    """crypto-pair/src/exchanges/kucoin.rs:24-46."""
    inverse_swap = symbol.endswith("USDM")
    linear_swap = symbol.endswith("USDTM") | symbol.endswith("USDCM")
    inverse_future = symbol.substr(F.length(symbol) - 1, F.lit(2)).rlike("^[0-9]+$")
    base = (
        F.when(inverse_swap, F.regexp_replace(symbol, "USDM$", ""))
        .when(linear_swap, symbol.substr(F.lit(1), F.length(symbol) - 5))
        .when(inverse_future, symbol.substr(F.lit(1), F.length(symbol) - 4))
        .when(symbol.contains("-"), F.split(symbol, "-")[0])
    )
    quote = (
        F.when(inverse_swap, F.lit("USD"))
        .when(linear_swap, symbol.substr(F.length(symbol) - 4, F.lit(4)))
        .when(inverse_future, F.lit("USD"))
        .when(symbol.contains("-"), F.split(symbol, "-")[1])
    )
    return F.when(
        base.isNotNull(),
        F.concat(_norm_currency(base), F.lit("/"), _norm_currency(quote)),
    )


def _cv_dict(spark):
    d = data_json("kucoin_contract_values.json")["linear_swap"]
    return local_table(spark, list(d.items()), "cv_pair string, cv double")


def with_contract_value(df: DataFrame, pair_col: str = "pair") -> DataFrame:
    joined = df.join(
        F.broadcast(_cv_dict(df.sparkSession)),
        F.col(pair_col) == F.col("cv_pair"),
        "left",
    ).drop("cv_pair")
    return joined.withColumn(
        "cv",
        F.when(F.col("market_type") == SPOT, 1.0)
        .when(
            F.col("market_type").isin("inverse_swap", "inverse_future"), 1.0
        )
        .otherwise(F.col("cv")),
    )


# ---------------------------------------------------------------- router

def _topic(msg: Column) -> Column:
    return F.get_json_object(msg, "$.topic")


def _topic_symbol(t: Column) -> Column:
    """Symbol after the last ':' of topic ``t`` (candle topics strip the
    _period suffix)."""
    sym = F.substring_index(t, ":", -1)
    return F.when(
        t.contains("/candle"), F.regexp_replace(sym, "_[^_]*$", "")
    ).otherwise(sym)


@sniffer
def get_msg_type(m: Msg) -> Column:
    """Not in the reference's get_msg_type dispatch (lib.rs:316-329 lacks
    kucoin) — engine-side sniffer on the topic prefix for routing parity
    with the other exchanges."""

    def ladder(t):
        return (
            F.when(t.isNull(), "other")
            .when(t.startswith("/market/match:"), "trade")
            .when(t.startswith("/contractMarket/execution:"), "trade")
            .when(t.startswith("/market/level2:"), "l2_event")
            .when(t.startswith("/contractMarket/level2:"), "l2_event")
            .when(t.startswith("/spotMarket/level2Depth"), "l2_topk")
            .when(t.startswith("/contractMarket/level2Depth"), "l2_topk")
            .when(t.startswith("/market/ticker"), "bbo")
            .when(t.startswith("/contractMarket/tickerV2:"), "bbo")
            .when(t.startswith("/market/candles:"), "candlestick")
            .when(t.startswith("/contractMarket/candle:"), "candlestick")
            .when(t.startswith("/market/snapshot:"), "ticker")
            .when(t.startswith("/contractMarket/snapshot:"), "ticker")
            .otherwise("other")
        )

    return let(ladder, m.get("$.topic"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    """mod.rs:16-57: ws topic parsing; REST data.symbol | ALL | NONE."""
    arr = m.rows("$.data", "struct<symbol:string>")
    # rows() reads a bare object as a 1-element array, so probe the raw
    # text for `"data": [` to tell RestfulMsg<Vec<_>> from RestfulMsg<Map>
    is_arr = m.raw.rlike('"data"\\s*:\\s*\\[')
    return let(
        lambda t: F.when(
            t.isNotNull(),
            F.when(t == "/market/ticker:all", m.get("$.subject")).otherwise(
                _topic_symbol(t)
            ),
        )
        .when(
            m.get("$.code") == "200000",
            F.when(is_arr & (F.size(arr) > 1), "ALL")
            .when(is_arr & (F.size(arr) == 1), arr[0]["symbol"])
            .when(is_arr, "NONE")
            .otherwise(F.coalesce(m.get("$.data.symbol"), F.lit("NONE"))),
        ),
        m.get("$.topic"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """mod.rs:60-110 — the ns/ms zoo."""
    arr_probe = m.raw.rlike('"data"\\s*:\\s*\\[')

    def ladder(t, d_timestamp, d_ts, d_time):
        return (
            F.when(
                t.isNotNull(),
                F.when(d_timestamp.isNotNull(), d_timestamp)
                .when(d_ts.isNotNull(), F.floor(d_ts / 1000000).cast("long"))
                .when(
                    d_time.isNotNull() & t.startswith("/market/match:"),
                    F.floor(d_time / 1000000).cast("long"),
                )
                .when(
                    d_time.isNotNull()
                    & (
                        t.startswith("/market/ticker")
                        | t.startswith("/contractMarket/candle:")
                        | t.startswith("/market/level2:")
                    ),
                    d_time,
                )
                .when(
                    d_time.isNotNull() & t.startswith("/market/candles:"),
                    F.floor(d_time / 1000000).cast("long"),
                )
                .when(
                    t.startswith("/market/snapshot:"),
                    m.get("$.data.data.datetime").try_cast("long"),
                )
                .otherwise(F.lit(None).cast("long")),
            )
            .when(
                (m.get("$.code") == "200000") & ~arr_probe,
                F.coalesce(d_time, F.floor(d_ts / 1000000).cast("long")),
            )
            .otherwise(F.lit(None).cast("long"))
        )

    return let(
        ladder,
        m.get("$.topic"),
        m.get("$.data.timestamp").try_cast("long"),
        m.get("$.data.ts").try_cast("long"),
        m.get("$.data.time").try_cast("long"),
    )


# ---------------------------------------------------------------- trades

def parse_trade(df: DataFrame) -> DataFrame:
    return _parse_trade_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_trade_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_trade_spot(df: DataFrame) -> DataFrame:
    """kucoin_spot.rs:80-110: /market/match; ts = ns/1e6; trade_id =
    sequence; NO round9 on quote (plain price*size)."""
    base = df.filter(_topic(F.col("msg")).startswith("/market/match:")).withColumn(
        "symbol", F.get_json_object("msg", "$.data.symbol")
    )
    price = F.get_json_object("msg", "$.data.price").cast("double")
    qty = F.get_json_object("msg", "$.data.size").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.floor(
            F.get_json_object("msg", "$.data.time").cast("long") / 1000000
        ).cast("long"),
        side=F.when(F.get_json_object("msg", "$.data.side") == "sell", "sell")
        .otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.get_json_object("msg", "$.data.sequence"),
    )


def _parse_trade_swap(df: DataFrame) -> DataFrame:
    """kucoin_swap.rs:52-89: /contractMarket/execution; ts ns/1e6;
    quantities via calc_quantity_and_volume with the cv dict."""
    base = (
        df.filter(_topic(F.col("msg")).startswith("/contractMarket/execution:"))
        .withColumn("symbol", F.get_json_object("msg", "$.data.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    price = F.get_json_object("msg", "$.data.price").cast("double")
    qty = F.get_json_object("msg", "$.data.size").cast("double")
    q = quantity_triple(F.col("market_type"), price, qty, F.col("cv"))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.floor(
            F.get_json_object("msg", "$.data.ts").cast("long") / 1000000
        ).cast("long"),
        side=F.when(F.get_json_object("msg", "$.data.side") == "sell", "sell")
        .otherwise("buy"),
        price=price,
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=F.get_json_object("msg", "$.data.sequence"),
    )


# ---------------------------------------------------------------- orderbooks

_SPOT_CHANGES = (
    "struct<asks:array<array<string>>, bids:array<array<string>>>"
)


def parse_l2(df: DataFrame) -> DataFrame:
    return _parse_l2_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_l2_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_l2_spot(df: DataFrame) -> DataFrame:
    """kucoin_spot.rs:112-149: changes.{asks,bids} = [price, size, seq];
    timestamp = data.time else crawl receive time; seq_id = sequenceStart."""
    changes = F.from_json(
        F.get_json_object("msg", "$.data.changes"), _SPOT_CHANGES
    )
    base = (
        df.filter(_topic(F.col("msg")).startswith("/market/level2:"))
        .withColumn("symbol", F.get_json_object("msg", "$.data.symbol"))
        .withColumn("ch", changes)
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return spot_level(price, qty)

    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.coalesce(
            F.get_json_object("msg", "$.data.time").cast("long"),
            F.col("received_at"),
        ),
        snapshot=F.lit(False),
        asks=F.transform(F.coalesce("ch.asks", F.array()), order),
        bids=F.transform(F.coalesce("ch.bids", F.array()), order),
        seq_id=F.get_json_object("msg", "$.data.sequenceStart").cast("long"),
    )


def _parse_l2_swap(df: DataFrame) -> DataFrame:
    """kucoin_swap.rs:91-140: single 'change' string "price,side,qty"
    routed to asks or bids by the side token."""
    base = (
        df.filter(_topic(F.col("msg")).startswith("/contractMarket/level2:"))
        .withColumn("symbol", F.substring_index(_topic(F.col("msg")), ":", -1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn(
            "chg", F.split(F.get_json_object("msg", "$.data.change"), ",")
        )
    )
    base = with_contract_value(base)
    price = F.col("chg")[0].cast("double")
    qty = F.col("chg")[2].cast("double")
    order = order_level(F.col("market_type"), price, qty, F.col("cv"))
    is_ask = F.col("chg")[1] == "sell"
    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.get_json_object("msg", "$.data.timestamp").cast("long"),
        snapshot=F.lit(False),
        asks=F.when(is_ask, F.array(order)).otherwise(F.array().cast(
            "array<struct<price:double, quantity_base:double,"
            " quantity_quote:double, quantity_contract:double>>"
        )),
        bids=F.when(~is_ask, F.array(order)).otherwise(F.array().cast(
            "array<struct<price:double, quantity_base:double,"
            " quantity_quote:double, quantity_contract:double>>"
        )),
        seq_id=F.get_json_object("msg", "$.data.sequence").cast("long"),
    )


def parse_l2_topk(df: DataFrame) -> DataFrame:
    spot = _parse_l2_topk_spot(df.filter(F.col("market_type") == SPOT))
    swap = _parse_l2_topk_swap(df.filter(F.col("market_type") != SPOT))
    return spot.unionByName(swap)


def _parse_l2_topk_spot(df: DataFrame) -> DataFrame:
    """kucoin_spot.rs:151-190: /spotMarket/level2Depth5; [price, size]."""
    book = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<timestamp:bigint, asks:array<array<string>>,"
        " bids:array<array<string>>>",
    )
    base = (
        df.filter(_topic(F.col("msg")).startswith("/spotMarket/level2Depth"))
        .withColumn("symbol", F.substring_index(_topic(F.col("msg")), ":", -1))
        .transform(parsed_once(book))
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return spot_level(price, qty)

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.col("d.timestamp"),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


def _parse_l2_topk_swap(df: DataFrame) -> DataFrame:
    """kucoin_swap.rs:152-202: /contractMarket/level2Depth; [f64, f64]
    levels with cv quantity math; seq_id = sequence."""
    book = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<sequence:bigint, timestamp:bigint,"
        " asks:array<array<double>>, bids:array<array<double>>>",
    )
    base = (
        df.filter(
            _topic(F.col("msg")).startswith("/contractMarket/level2Depth")
        )
        .withColumn("symbol", F.substring_index(_topic(F.col("msg")), ":", -1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(book))
    )
    base = with_contract_value(base)

    def order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk",
        timestamp=F.col("d.timestamp"),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
        seq_id=F.col("d.sequence"),
    )
    return sort_book_sides(out)


# ---------------------------------------------------------------- bbo

def parse_bbo(df: DataFrame) -> DataFrame:
    """kucoin_spot.rs:192-246 (spot only; swap tickerV2 is todo!() in the
    reference, kucoin_swap.rs:204-206). Quantities go through
    calc_quantity_and_volume — spot applies round9 to the quote leg."""
    t = _topic(F.col("msg"))
    base = df.filter(
        (F.col("market_type") == SPOT) & t.startswith("/market/ticker")
    ).withColumn(
        "symbol",
        F.when(
            t == "/market/ticker:all", F.get_json_object("msg", "$.subject")
        ).otherwise(F.substring_index(t, ":", -1)),
    )
    ask_p = F.get_json_object("msg", "$.data.bestAsk").cast("double")
    ask_q = F.get_json_object("msg", "$.data.bestAskSize").cast("double")
    bid_p = F.get_json_object("msg", "$.data.bestBid").cast("double")
    bid_q = F.get_json_object("msg", "$.data.bestBidSize").cast("double")
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.get_json_object("msg", "$.data.time").cast("long"),
        bid_price=bid_p,
        bid_quantity_base=bid_q,
        bid_quantity_quote=round9(bid_p * bid_q),
        ask_price=ask_p,
        ask_quantity_base=ask_q,
        ask_quantity_quote=round9(ask_p * ask_q),
        id=F.get_json_object("msg", "$.data.sequence").cast("long"),
    )


# ---------------------------------------------------------------- candles

def parse_candlestick(df: DataFrame) -> DataFrame:
    """kucoin_spot.rs:248-283 (spot only; swap candles todo!() in the
    reference). candles = [t,o,c,h,l,vol,quote]; begin_time in SECONDS;
    period from the topic suffix after '_'; ts = data.time ns/1e6."""
    candles = F.from_json(
        F.get_json_object("msg", "$.data.candles"), "array<string>"
    )
    base = (
        df.filter(
            (F.col("market_type") == SPOT)
            & _topic(F.col("msg")).startswith("/market/candles:")
        )
        .withColumn("symbol", F.get_json_object("msg", "$.data.symbol"))
        .transform(parsed_once(candles))
        .withColumn(
            "period",
            F.substring_index(F.substring_index(_topic(F.col("msg")), ":", -1), "_", -1),
        )
    )
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.floor(
            F.get_json_object("msg", "$.data.time").cast("long") / 1000000
        ).cast("long"),
        begin_time=F.col("d")[0].cast("long"),
        open=F.col("d")[1].cast("double"),
        high=F.col("d")[3].cast("double"),
        low=F.col("d")[4].cast("double"),
        close=F.col("d")[2].cast("double"),
        volume=F.col("d")[5].cast("double"),
        quote_volume=F.col("d")[6].cast("double"),
    )
