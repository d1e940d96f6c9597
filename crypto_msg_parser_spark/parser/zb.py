"""ZB normalization (spot + linear swaps).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/zb/{mod.rs, zb_spot.rs, zb_swap.rs};
  pair rules crypto-pair/src/exchanges/zb.rs:4-18 ('_'->'/' upper, or
  usdt/usdc/qc/btc suffix matching); contract value always 1.0
  (crypto-contract-value/src/lib.rs:25).

Spot channels use underscores (btcusdt_trades); swap channels use dots
(BTC_USDT.Trade). Spot L2 incremental is explicitly unimplemented in the
reference (zb_spot.rs:143-145) — only DepthWhole-style topk snapshots
exist. The swap trade side check compares the TIMESTAMP slot against zero
(zb_swap.rs:112, an upstream quirk) so every swap trade lands as 'buy';
preserved for parity.
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
    explode_with_count,
    parsed_once,
    SPOT,
    quantity_triple,
    sort_book_sides,
    emit,
    order_level,
    spot_level,
)
from crypto_msg_parser_spark.functions.scalar import round9

EXCHANGE = "zb"


def normalize_pair(symbol: Column) -> Column:
    quote = F.regexp_extract(F.lower(symbol), "(usdt|usdc|qc|btc)$", 1)
    base = symbol.substr(F.lit(1), F.length(symbol) - F.length(quote))
    return F.when(
        symbol.contains("_"), F.upper(F.translate(symbol, "_", "/"))
    ).when(
        quote != "",
        F.upper(F.concat(base, F.lit("/"), quote)),
    )


# ---------------------------------------------------------------- router

def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$.channel")


@sniffer
def extract_symbol(m: Msg) -> Column:
    """zb/mod.rs:16-44: channel prefix before '.' (swap) or '_' (spot)."""
    return let(
        lambda ch: F.when(
            ch.isNotNull(),
            F.when(ch.contains("."), F.substring_index(ch, ".", 1)).when(
                ch.contains("_"), F.substring_index(ch, "_", 1)
            ),
        )
        .when(m.has("$.asks") & m.has("$.bids"), "NONE")
        .when(
            m.has("$.code") & m.has("$.desc") & m.has("$.data"),
            F.coalesce(m.get("$.data.symbol"), F.lit("NONE")),
        ),
        m.get("$.channel"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """zb_spot.rs:13-55 + zb_swap.rs:12-74."""
    trades = m.rows("$.data", "struct<date:string>")
    kline_spot = m.get("$.datas.data", "array<array<string>>")
    swap_arrays = m.get("$.data", "array<array<double>>")
    ticker_map = m.get("$.data", "map<string, array<double>>")

    def ladder(ch):
        spot_ch = F.get(F.split(ch, "_"), 1)
        swap_ch = F.get(F.split(ch, "\\."), 1)

        def slot_max(rows, i):
            return F.array_max(
                F.transform(rows, lambda x: F.get(x, i).try_cast("long"))
            )

        return (
            F.when(
                ch.isNotNull() & ch.contains("."),
                F.when(swap_ch == "Trade", secs_to_ms(slot_max(swap_arrays, 3)))
                .when(
                    swap_ch.isin("Depth", "DepthWhole"),
                    m.get("$.data.time").try_cast("long"),
                )
                .when(
                    swap_ch == "Ticker",
                    secs_to_ms(
                        F.when(
                            ch == "All.Ticker", slot_max(F.map_values(ticker_map), 6)
                        ).otherwise(m.get("$.data[6]").try_cast("long"))
                    ),
                )
                .when(
                    swap_ch.startswith("KLine_"), secs_to_ms(slot_max(swap_arrays, 5))
                ),
            )
            .when(
                ch.isNotNull(),
                F.when(spot_ch == "ticker", m.get("$.date").try_cast("long"))
                .when(
                    spot_ch == "depth", secs_to_ms(m.get("$.timestamp").try_cast("long"))
                )
                .when(
                    spot_ch == "trades",
                    secs_to_ms(
                        F.array_max(
                            F.transform(trades, lambda x: x["date"].try_cast("long"))
                        )
                    ),
                )
                .when(spot_ch == "kline", slot_max(kline_spot, 0)),
            )
            .when(
                m.has("$.code") & m.has("$.desc"),
                m.get("$.data.time").try_cast("long"),
            )
            .otherwise(secs_to_ms(m.get("$.timestamp").try_cast("long")))
        )

    return let(ladder, m.get("$.channel"))


# ---------------------------------------------------------------- trades

_SPOT_TRADE = (
    "array<struct<date:bigint, amount:string, price:string,"
    " trade_type:string, type:string, tid:bigint>>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    return _parse_trade_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_trade_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_trade_spot(df: DataFrame) -> DataFrame:
    """zb_spot.rs:104-140: ts = date*1000; trade_id = tid; json is the
    re-serialized element ALWAYS (no single-message override)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), _SPOT_TRADE)
    base = (
        df.filter(_channel(F.col("msg")).endswith("_trades"))
        .withColumn("symbol", F.substring_index(_channel(F.col("msg")), "_", 1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .select("*", F.explode(arr).alias("d"))
    )
    price = F.col("d.price").cast("double")
    qty = F.col("d.amount").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.col("d.date") * 1000,
        json=F.to_json("d"),
        side=F.when(F.col("d.type") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.col("d.tid").cast("string"),
    )


def _parse_trade_swap(df: DataFrame) -> DataFrame:
    """zb_swap.rs:77-119: data = [[price, qty, ?, ts_s]]; trade_id = ts;
    side always 'buy' (reference checks ts<0, preserved quirk)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), "array<array<double>>")
    base = (
        df.filter(_channel(F.col("msg")).endswith(".Trade"))
        .withColumn("symbol", F.substring_index(_channel(F.col("msg")), ".", 1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .select("*", F.explode(arr).alias("d"))
    )
    price = F.col("d").getItem(0)
    qty = F.col("d").getItem(1)
    ts = (F.col("d").getItem(3).cast("long") * 1000).cast("long")
    q = quantity_triple(F.col("market_type"), price, qty, F.lit(1.0))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=ts,
        json=F.to_json("d"),
        side=F.when(F.col("d").getItem(3) < 0, "sell").otherwise("buy"),
        price=price,
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=ts.cast("string"),
    )


# ---------------------------------------------------------------- orderbooks

def parse_l2(df: DataFrame) -> DataFrame:
    """Spot incremental L2 is unimplemented in the reference
    (zb_spot.rs:143-145) — only the swap path emits rows."""
    return _parse_l2_swap(df.filter(F.col("market_type") != SPOT))


def parse_l2_topk(df: DataFrame) -> DataFrame:
    return _parse_l2_topk_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_l2_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_l2_topk_spot(df: DataFrame) -> DataFrame:
    """zb_spot.rs:147-190: top-level {channel, dataType, timestamp, asks,
    bids}; ts seconds*1000; snapshot."""
    book = F.from_json(
        F.col("msg"),
        "struct<timestamp:bigint, asks:array<array<double>>,"
        " bids:array<array<double>>>",
    )
    base = (
        df.filter(_channel(F.col("msg")).endswith("_depth"))
        .withColumn("symbol", F.substring_index(_channel(F.col("msg")), "_", 1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(book))
    )

    def order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return spot_level(price, qty)

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk",
        timestamp=F.col("d.timestamp") * 1000,
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


def _parse_l2_swap(df: DataFrame) -> DataFrame:
    """zb_swap.rs:155-204: .Depth (event; snapshot iff type=='Whole') and
    .DepthWhole (topk snapshot); ts = data.time (ms string)."""
    ch = _channel(F.col("msg"))
    book = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<time:string, asks:array<array<double>>,"
        " bids:array<array<double>>>",
    )
    is_topk = ch.endswith(".DepthWhole")
    base = (
        df.filter(ch.endswith(".Depth") | ch.endswith(".DepthWhole"))
        .withColumn("symbol", F.substring_index(ch, ".", 1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(book))
        .withColumn("is_topk", is_topk)
        .withColumn(
            "snapshot",
            is_topk
            | F.coalesce(
                F.get_json_object("msg", "$.type") == "Whole", F.lit(False)
            ),
        )
    )

    def order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return order_level(F.col("market_type"), price, qty, F.lit(1.0))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(F.col("is_topk"), "l2_topk").otherwise("l2_event"),
        timestamp=F.col("d.time").cast("long"),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


# ---------------------------------------------------------------- candles

def parse_candlestick(df: DataFrame) -> DataFrame:
    return _parse_candle_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_candle_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_candle_spot(df: DataFrame) -> DataFrame:
    """zb_spot.rs:193-266: datas.data = [[ts_ms, o, h, l, c, vol]];
    channel '<sym>_kline_<period>'; quote volume derived from the OHLC
    average price, round9'ed."""
    ch = _channel(F.col("msg"))
    arr = F.from_json(
        F.get_json_object("msg", "$.datas.data"), "array<array<double>>"
    )
    period = F.substring_index(ch, "_", -1)
    num = F.regexp_extract(period, "^([0-9]+)", 1).cast("long")
    m_seconds = (
        F.when(period.endswith("min"), num * 60000)
        .when(period.endswith("hour"), num * 3600000)
        .when(period.endswith("day"), num * 86400000)
        .when(period.endswith("week"), num * 604800000)
        .otherwise(F.lit(0))
    )
    base = (
        df.filter(ch.contains("_kline"))
        .withColumn("symbol", F.substring_index(ch, "_", 1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("period", period)
        .withColumn("m_seconds", m_seconds)
        .transform(explode_with_count(arr))
    )
    ts = F.col("d").getItem(0).cast("long")
    o = F.col("d").getItem(1)
    h = F.col("d").getItem(2)
    low = F.col("d").getItem(3)
    c = F.col("d").getItem(4)
    qty = F.col("d").getItem(5)
    avg = (o + h + low + c) / 4
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=ts,
        begin_time=ts - F.col("m_seconds"),
        open=o,
        high=h,
        low=low,
        close=c,
        volume=qty,
        quote_volume=round9(round9(qty * avg)),
    )


def _parse_candle_swap(df: DataFrame) -> DataFrame:
    """zb_swap.rs:207-277: data = [[o, h, l, c, vol, ts_s]];
    channel '<sym>.KLine_<period>'; linear quantity math with cv=1."""
    ch = _channel(F.col("msg"))
    arr = F.from_json(F.get_json_object("msg", "$.data"), "array<array<double>>")
    period = F.substring_index(ch, "_", -1)
    num = F.regexp_extract(period, "^([0-9]+)", 1).cast("long")
    m_seconds = (
        F.when(period.endswith("M"), num * 60000)
        .when(period.endswith("H"), num * 3600000)
        .when(period.endswith("D"), num * 86400000)
        .otherwise(F.lit(0))
    )
    base = (
        df.filter(ch.contains(".KLine"))
        .withColumn("symbol", F.substring_index(ch, ".", 1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("period", period)
        .withColumn("m_seconds", m_seconds)
        .select("*", F.explode(arr).alias("d"))
    )
    ts = (F.col("d").getItem(5).cast("long") * 1000).cast("long")
    o = F.col("d").getItem(0)
    h = F.col("d").getItem(1)
    low = F.col("d").getItem(2)
    c = F.col("d").getItem(3)
    qty = F.col("d").getItem(4)
    avg = (o + h + low + c) / 4
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=ts,
        begin_time=ts - F.col("m_seconds"),
        open=o,
        high=h,
        low=low,
        close=c,
        volume=round9(qty),
        quote_volume=round9(round9(qty * avg)),
    )
