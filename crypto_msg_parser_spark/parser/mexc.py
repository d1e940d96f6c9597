"""MEXC normalization (spot + swaps).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/mexc/{mod.rs, mexc_spot.rs, mexc_swap.rs};
  pair rule crypto-pair/src/lib.rs:65 ('_' -> '/');
  contract values crypto-contract-value/src/exchanges/mexc.rs:470-477
  (inverse: BTC 100 USD else 10 USD; linear via parser/data/
  mexc_contract_values.json).

Spot messages come in two envelopes: bare objects {symbol, data, channel}
and tuple frames ["push.symbol", {...}] (mexc_spot.rs:51-64). Swap
envelope: {channel, symbol, ts, data}. Side encoding: T==2 -> sell.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    secs_to_ms,
    sniffer,
    data_json,
    explode_with_count,
    parsed_once,
    SPOT,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
    spot_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "mexc"


def normalize_pair(symbol: Column) -> Column:
    return F.when(symbol.contains("_"), F.translate(symbol, "_", "/"))


def _cv_dict(spark):
    d = data_json("mexc_contract_values.json")["linear_swap"]
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
            F.col("market_type") == "inverse_swap",
            F.when(F.col(pair_col).startswith("BTC"), 100.0).otherwise(10.0),
        )
        .otherwise(F.col("cv")),
    )


# ---------------------------------------------------------------- router

def _unwrap(msg: Column) -> Column:
    """Tuple frames ["push.x", {...}] -> inner object; else the message."""
    return F.when(
        msg.startswith("["), F.get_json_object(msg, "$[1]")
    ).otherwise(msg)


def _inner(m: Msg) -> Msg:
    """Tuple frames ["push.x", {...}] -> inner object; else the message."""
    inner = F.when(m.raw.startswith("["), m.get("$[1]", "variant")).otherwise(m.v)
    return Msg(m.raw, inner)


@sniffer
def extract_symbol(m: Msg) -> Column:
    """mod.rs:15-38."""
    return (
        F.when(m.raw.startswith("["), m.get("$[1].symbol"))
        .when(
            m.has("$.code") & m.has("$.data"),
            F.when(
                m.get("$.code").try_cast("long").isin(0, 200),
                F.coalesce(m.get("$.data.symbol"), F.lit("NONE")),
            ),
        )
        .otherwise(m.get("$.symbol"))
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """mod.rs:40-105: tuple frames by channel; objects prefer ts, then
    kline tdt/t*1000, then max over data.deals[].t."""
    deals = _inner(m).rows("$.data.deals", "struct<t:string>")
    deals_max = F.array_max(F.transform(deals, lambda x: x["t"].try_cast("long")))
    kline_ts = F.coalesce(
        m.get("$.data.tdt").try_cast("long"),
        secs_to_ms(m.get("$.data.t").try_cast("long")),
    )

    def ladder(tuple_ch, ts_field):
        return (
            F.when(
                m.raw.startswith("["),
                F.when(tuple_ch == "push.symbol", deals_max).when(
                    tuple_ch == "push.kline",
                    secs_to_ms(m.get("$[1].data.t").try_cast("long")),
                ),
            )
            .when(
                m.has("$.code") & m.has("$.data"),
                F.when(
                    m.get("$.code").try_cast("long").isin(0, 200),
                    m.get("$.data.timestamp").try_cast("long"),
                ),
            )
            .when(ts_field.isNotNull(), ts_field)
            .when(m.get("$.channel") == "push.kline", kline_ts)
            .otherwise(deals_max)
        )

    return let(ladder, m.get("$[0]"), m.get("$.ts").try_cast("long"))


@sniffer
def get_msg_type(m: Msg) -> Column:
    """Engine-side sniffer (mexc is not in lib.rs get_msg_type)."""
    inner = _inner(m)

    def ladder(ch):
        return (
            F.when(ch == "push.deal", "trade")
            .when((ch == "push.symbol") & inner.has("$.data.deals"), "trade")
            .when(ch == "push.symbol", "l2_event")
            .when(ch == "push.depth.full", "l2_topk")
            .when(ch == "push.limit.depth", "l2_topk")
            .when(ch == "push.depth", "l2_event")
            .when(ch == "push.kline", "candlestick")
            .when(ch == "push.ticker", "ticker")
            .otherwise("other")
        )

    return let(ladder, F.coalesce(m.get("$[0]"), inner.get("$.channel")))


# ---------------------------------------------------------------- trades

_SPOT_DEAL = "array<struct<p:string, q:string, T:bigint, t:bigint>>"


def parse_trade(df: DataFrame) -> DataFrame:
    return _parse_trade_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_trade_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_trade_spot(df: DataFrame) -> DataFrame:
    """mexc_spot.rs:50-104: data.deals fan-out; trade_id = t; T==2 sell."""
    inner = _unwrap(F.col("msg"))
    arr = F.from_json(F.get_json_object(inner, "$.data.deals"), _SPOT_DEAL)
    base = (
        df.withColumn("symbol", F.get_json_object(inner, "$.symbol"))
        .filter(arr.isNotNull() & (F.size(arr) > 0))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    price = F.col("d.p").cast("double")
    qty = F.col("d.q").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.col("d.t"),
        json=item_json(),
        side=F.when(F.col("d.T") == 2, "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.col("d.t").cast("string"),
    )


def _parse_trade_swap(df: DataFrame) -> DataFrame:
    """mexc_swap.rs:63-102: push.deal single object; quantity via cv."""
    base = (
        df.filter(F.get_json_object("msg", "$.channel") == "push.deal")
        .withColumn("symbol", F.get_json_object("msg", "$.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    price = F.get_json_object("msg", "$.data.p").cast("double")
    qty = F.get_json_object("msg", "$.data.v").cast("double")
    q = quantity_triple(F.col("market_type"), price, qty, F.col("cv"))
    t = F.get_json_object("msg", "$.data.t").cast("long")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=t,
        side=F.when(F.get_json_object("msg", "$.data.T") == "2", "sell")
        .otherwise("buy"),
        price=price,
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=qty,
        trade_id=t.cast("string"),
    )


# ---------------------------------------------------------------- orderbooks

_SPOT_BOOK = (
    "struct<version:string,"
    " asks:array<struct<p:string, q:string, a:string>>,"
    " bids:array<struct<p:string, q:string, a:string>>>"
)
_SWAP_BOOK = (
    "struct<version:bigint, asks:array<array<double>>,"
    " bids:array<array<double>>>"
)


def parse_l2(df: DataFrame) -> DataFrame:
    return _parse_l2_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_l2_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_l2_spot(df: DataFrame) -> DataFrame:
    """mexc_spot.rs:114-171: {p, q, a} orders — quote volume comes from the
    `a` field directly; ts = crawl receive time; snapshot always false."""
    inner = _unwrap(F.col("msg"))
    book = F.from_json(F.get_json_object(inner, "$.data"), _SPOT_BOOK)
    base = (
        df.withColumn("symbol", F.get_json_object(inner, "$.symbol"))
        .transform(parsed_once(book))
        .filter(F.col("d.asks").isNotNull() | F.col("d.bids").isNotNull())
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )

    def order(lv):
        return F.struct(
            lv["p"].cast("double").alias("price"),
            lv["q"].cast("double").alias("quantity_base"),
            lv["a"].cast("double").alias("quantity_quote"),
            F.lit(None).cast("double").alias("quantity_contract"),
        )

    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("received_at"),
        snapshot=F.lit(False),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
        seq_id=F.col("d.version").cast("long"),
    )


def _parse_l2_swap(df: DataFrame) -> DataFrame:
    """mexc_swap.rs:104-151: [price, qty, count] f64 triples; push.depth ->
    l2_event, push.depth.full -> l2_topk (snapshot)."""
    ch = F.get_json_object("msg", "$.channel")
    base = (
        df.filter(ch.startswith("push.depth"))
        .withColumn("symbol", F.get_json_object("msg", "$.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.data"), _SWAP_BOOK)))
        .withColumn("is_topk", ch == "push.depth.full")
    )
    base = with_contract_value(base)

    def order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(F.col("is_topk"), "l2_topk").otherwise("l2_event"),
        timestamp=F.get_json_object("msg", "$.ts").cast("long"),
        snapshot=F.col("is_topk"),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
        seq_id=F.col("d.version"),
    )
    return sort_book_sides(out)


def parse_l2_topk(df: DataFrame) -> DataFrame:
    """mod.rs:137-151: spot push.limit.depth snapshots; swaps share
    push.depth.full via parse_l2."""
    spot = _parse_l2_topk_spot(df.filter(F.col("market_type") == SPOT))
    swap = _parse_l2_swap(df.filter(F.col("market_type") != SPOT))
    return spot.unionByName(swap)


def _parse_l2_topk_spot(df: DataFrame) -> DataFrame:
    """mexc_spot.rs:180-221: [price, qty] strings; version at envelope
    level; ts = crawl receive time; snapshot=true."""
    book = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<asks:array<array<string>>, bids:array<array<string>>>",
    )
    base = (
        df.filter(F.get_json_object("msg", "$.channel") == "push.limit.depth")
        .withColumn("symbol", F.get_json_object("msg", "$.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(book))
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return spot_level(price, qty)

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk",
        timestamp=F.col("received_at"),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
        seq_id=F.get_json_object("msg", "$.version").cast("long"),
    )
    return sort_book_sides(out)


# ---------------------------------------------------------------- candles

def _interval_seconds(interval: Column) -> Column:
    """Min/Hour/Day/Week/Month prefixes (mexc_spot.rs:252-283)."""
    num = F.regexp_extract(interval, "([0-9]+)$", 1).cast("long")
    return (
        F.when(interval.startswith("Min"), num * 60)
        .when(interval.startswith("Hour"), num * 3600)
        .when(interval.startswith("Day"), num * 86400)
        .when(interval.startswith("Week"), num * 604800)
        .when(interval.startswith("Month"), num * 604800 * 30)
        .otherwise(F.lit(0))
    )


def parse_candlestick(df: DataFrame) -> DataFrame:
    return _parse_candle_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_candle_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_candle_spot(df: DataFrame) -> DataFrame:
    """mexc_spot.rs:232-307: volume = q (base), quote_volume = v; ts = tdt
    else crawl receive time; begin_time in ms = (t - interval) * 1000."""
    inner = _unwrap(F.col("msg"))
    d = F.from_json(
        F.get_json_object(inner, "$.data"),
        "struct<symbol:string, interval:string, t:bigint, o:double, c:double,"
        " h:double, l:double, v:double, q:double, tdt:bigint>",
    )
    base = (
        df.transform(parsed_once(d))
        .filter(F.col("d.interval").isNotNull())
        .withColumn("symbol", F.get_json_object(inner, "$.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=F.coalesce(F.col("d.tdt"), F.col("received_at")),
        begin_time=F.col("d.t") * 1000 - _interval_seconds(F.col("d.interval")) * 1000,
        open=F.col("d.o"),
        high=F.col("d.h"),
        low=F.col("d.l"),
        close=F.col("d.c"),
        volume=F.col("d.q"),
        period=F.col("d.interval"),
        quote_volume=F.col("d.v"),
    )


def _parse_candle_swap(df: DataFrame) -> DataFrame:
    """mexc_swap.rs:153-216: inverse (volume=a, quote=q*cv); linear
    (volume=q*cv, quote=a); ts = t*1000."""
    d = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<symbol:string, interval:string, t:bigint, o:double, c:double,"
        " h:double, l:double, a:double, q:double>",
    )
    base = (
        df.filter(F.get_json_object("msg", "$.channel") == "push.kline")
        .transform(parsed_once(d))
        .withColumn("symbol", F.get_json_object("msg", "$.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    is_inverse = F.col("market_type") == "inverse_swap"
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=F.col("d.t") * 1000,
        begin_time=F.col("d.t") * 1000 - _interval_seconds(F.col("d.interval")) * 1000,
        open=F.col("d.o"),
        high=F.col("d.h"),
        low=F.col("d.l"),
        close=F.col("d.c"),
        volume=F.when(is_inverse, F.col("d.a"))
        .otherwise(F.col("d.q") * F.col("cv")),
        period=F.col("d.interval"),
        quote_volume=F.when(is_inverse, F.col("d.q") * F.col("cv"))
        .otherwise(F.col("d.a")),
    )
