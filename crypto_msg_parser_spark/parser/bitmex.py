"""BitMEX normalization as Catalyst column pipelines.

Behavioral reference (reimplemented, not translated):
  crypto-msg-parser/src/exchanges/bitmex.rs (router :596-658, trade
  :660-700, funding :702-738, l2 :758-825 with id_to_price :743-757,
  orderBook10 :845-897, quote :899-955, tradeBin :957-1027);
  pair rules crypto-pair/src/exchanges/bitmex.rs:38-88 (XBT->BTC, month
  codes); contract values keyed "market_type.pair" with default 1.0
  (crypto-contract-value/src/exchanges/bitmex.rs:136-142).

The 467-entry (symbol -> (index, tick_size)) table rides as a broadcast
dimension join; L2 delta levels without a price recover it as
round9((1e8*index - id) * tick_size) — pure column arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.functions.scalar import round9
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    sniffer,
    data_json,
    explode_with_count,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "bitmex"


def normalize_pair(symbol: Column) -> Column:
    """Common BitMEX symbol shapes (crypto-pair bitmex.rs:38-88):
    month-coded futures strip the 3-char date code; XBT maps to BTC;
    USD/USDT/USDC/EUR/ETH quote suffixes; short symbols quote in XBT."""
    # strip trailing "<letter><2 digits>" month code (XBTH21 -> XBT)
    last2_num = symbol.substr(F.length(symbol) - 1, F.lit(2)).rlike("^[0-9]{2}$")
    s = F.when(last2_num, symbol.substr(F.lit(1), F.length(symbol) - 3)).otherwise(
        symbol
    )

    def cur(c: Column) -> Column:
        return F.when(c == "XBT", "BTC").otherwise(c)

    base_quote = (
        F.when(
            (F.length(s) <= 3) & (s == "XBT"), F.array(F.lit("XBT"), F.lit("USD"))
        )
        .when(F.length(s) <= 3, F.array(s, F.lit("XBT")))
        .when(
            s.endswith("_USDT"),
            F.array(s.substr(F.lit(1), F.length(s) - 5), F.lit("USDT")),
        )
        .when(
            s.endswith("USDT"),
            F.array(s.substr(F.lit(1), F.length(s) - 4), F.lit("USDT")),
        )
        .when(
            s.endswith("USDC"),
            F.array(s.substr(F.lit(1), F.length(s) - 4), F.lit("USDC")),
        )
        .when(
            s.endswith("USD"),
            F.array(s.substr(F.lit(1), F.length(s) - 3), F.lit("USD")),
        )
        .when(
            s.endswith("EUR"),
            F.array(s.substr(F.lit(1), F.length(s) - 3), F.lit("EUR")),
        )
        .when(
            s.endswith("ETH") & (F.length(s) > 3),
            F.array(s.substr(F.lit(1), F.length(s) - 3), F.lit("ETH")),
        )
        .otherwise(F.array(s, F.lit("XBT")))
    )
    return F.concat(
        cur(base_quote.getItem(0)), F.lit("/"), cur(base_quote.getItem(1))
    )


def _ticks_dict(spark) -> DataFrame:
    rows = [
        (sym, int(v[0]), float(v[1]))
        for sym, v in data_json("bitmex_ticks.json").items()
    ]
    return local_table(
        spark, rows, "tick_symbol string, sym_index bigint, tick_size double"
    )


def _cv_dict(spark) -> DataFrame:
    d = data_json("bitmex_contract_values.json")
    rows = [(*k.split(".", 1), v) for k, v in d.items()]
    return local_table(
        spark, rows, "cv_market_type string, cv_pair string, cv_val double"
    )


def with_contract_value(df: DataFrame, pair_col: str = "pair") -> DataFrame:
    joined = df.join(
        F.broadcast(_cv_dict(df.sparkSession)),
        (F.col("market_type") == F.col("cv_market_type"))
        & (F.col(pair_col) == F.col("cv_pair")),
        "left",
    ).drop("cv_market_type", "cv_pair")
    return joined.withColumn("cv", F.coalesce(F.col("cv_val"), F.lit(1.0))).drop(
        "cv_val"
    )


def id_to_price(sym_index: Column, tick_size: Column, level_id: Column) -> Column:
    """price = round9((1e8 * symbolIdx - id) * tickSize) (bitmex.rs:743-750)."""
    return round9((F.lit(1e8) * sym_index - level_id) * tick_size)


# ---------------------------------------------------------------- router


def _table(msg: Column) -> Column:
    return F.get_json_object(msg, "$.table")


@sniffer
def get_msg_type(m: Msg) -> Column:
    def ladder(t):
        return (
            F.when(t.isNull(), "other")
            .when(t == "trade", "trade")
            .when(t.isin("orderBookL2", "orderBookL2_25"), "l2_event")
            .when(t == "orderBook10", "l2_topk")
            .when(t == "quote", "bbo")
            .when(t == "tradeBin", "candlestick")
            .when(t == "funding", "funding_rate")
            .otherwise("other")
        )

    return let(ladder, m.get("$.table"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    data = m.rows("$.data", "struct<symbol:string>")
    return (
        F.when(m.raw.startswith('[{"symbol":'), m.get("$[0].symbol"))
        .when((m.get("$.table") == "funding") & (F.size(data) > 1), "ALL")
        .otherwise(F.get(data, 0)["symbol"])
    )


def _rfc3339_ms(col: Column, to_timestamp=F.to_timestamp) -> Column:
    t = to_timestamp(col)
    return (
        F.unix_timestamp(t) * 1000
        + F.floor(F.date_format(t, "SSSSSS").cast("long") / 1000)
    ).cast("long")


@sniffer
def extract_timestamp(m: Msg) -> Column:
    data = m.rows("$.data", "struct<timestamp:string>")
    mx = F.array_max(
        F.transform(
            F.filter(data, lambda x: x["timestamp"].isNotNull()),
            lambda x: _rfc3339_ms(x["timestamp"], F.try_to_timestamp),
        )
    )
    return F.when(
        m.raw.startswith('[{"symbol":') | (m.get("$.table") == "funding"),
        F.lit(None).cast("long"),
    ).otherwise(mx)


# ---------------------------------------------------------------- parsers

_TRADE_ELEM = (
    "struct<timestamp:string, symbol:string, side:string, size:double, "
    "price:double, trdMatchID:string, homeNotional:double, "
    "foreignNotional:double>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """trade table -> TradeMsg: quantities come straight from
    homeNotional/foreignNotional/size (bitmex.rs:660-700) — the one
    exchange where qq != round9(p*qb) exactly (tests/utils.rs:29-31)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_TRADE_ELEM}>")
    base = (
        df.filter(_table(F.col("msg")) == "trade")
        .transform(explode_with_count(arr))
        .withColumn("pair", normalize_pair(F.col("d.symbol")))
    )
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.col("d.symbol"),
        timestamp=_rfc3339_ms(F.col("d.timestamp")),
        json=item_json(),
        side=F.when(F.col("d.side") == "Sell", "sell").otherwise("buy"),
        price=F.col("d.price"),
        quantity_base=F.col("d.homeNotional"),
        quantity_quote=F.col("d.foreignNotional"),
        quantity_contract=F.col("d.size"),
        trade_id=F.col("d.trdMatchID"),
    )


_FUNDING_ELEM = (
    "struct<timestamp:string, symbol:string, fundingInterval:string, "
    "fundingRate:double, fundingRateDaily:double>"
)


def parse_funding_rate(df: DataFrame) -> DataFrame:
    """funding table: timestamp = received_at; funding_time = the
    element's RFC3339 settlement timestamp (bitmex.rs:702-738)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_FUNDING_ELEM}>")
    base = (
        df.filter(_table(F.col("msg")) == "funding")
        .transform(explode_with_count(arr))
        .withColumn("pair", normalize_pair(F.col("d.symbol")))
    )
    return emit(
        base, schemas.FUNDING_RATE_SCHEMA, EXCHANGE, "funding_rate",
        symbol=F.col("d.symbol"),
        timestamp=F.col("received_at"),
        json=item_json(),
        funding_rate=F.col("d.fundingRate"),
        funding_time=_rfc3339_ms(F.col("d.timestamp")),
    )


_L2_ELEM = (
    "struct<symbol:string, id:bigint, side:string, size:double, "
    "price:double, timestamp:string>"
)


def parse_l2(df: DataFrame) -> DataFrame:
    """orderBookL2 / orderBookL2_25 -> one OrderBookMsg per message:
    levels split by side; missing prices recovered from the broadcast tick
    table; size 0/null = deletion; snapshot = action 'partial'."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_L2_ELEM}>")
    base = (
        df.filter(_table(F.col("msg")).startswith("orderBookL2"))
        .withColumn("levels", arr)
        .filter(F.size("levels") > 0)
        .withColumn("symbol", F.col("levels").getItem(0)["symbol"])
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn(
            "snapshot", F.get_json_object("msg", "$.action") == "partial"
        )
        .withColumn(
            "ts",
            F.array_max(
                F.transform(
                    F.filter(F.col("levels"), lambda x: x["timestamp"].isNotNull()),
                    lambda x: _rfc3339_ms(x["timestamp"]),
                )
            ),
        )
    )
    base = with_contract_value(base)
    base = base.join(
        F.broadcast(_ticks_dict(df.sparkSession)),
        F.col("symbol") == F.col("tick_symbol"),
        "left",
    ).drop("tick_symbol")

    def to_order(lv):
        price = F.coalesce(
            lv["price"],
            id_to_price(F.col("sym_index"), F.col("tick_size"), lv["id"]),
        )
        qty = F.coalesce(lv["size"], F.lit(0.0))
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    asks = F.transform(
        F.filter(F.col("levels"), lambda x: x["side"] == "Sell"), to_order
    )
    bids = F.transform(
        F.filter(F.col("levels"), lambda x: x["side"] == "Buy"), to_order
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.coalesce(F.col("ts"), F.col("received_at")),
        asks=asks,
        bids=bids,
    )
    return sort_book_sides(out)


_BOOK10_ELEM = (
    "struct<symbol:string, timestamp:string, "
    "asks:array<array<double>>, bids:array<array<double>>>"
)


def parse_l2_topk(df: DataFrame) -> DataFrame:
    """orderBook10 -> truncated-book snapshots (bitmex.rs:845-897)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_BOOK10_ELEM}>")
    base = (
        df.filter(_table(F.col("msg")) == "orderBook10")
        .select("*", F.explode(arr).alias("d"))
        .withColumn("symbol", F.col("d.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)

    def to_order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk",
        timestamp=_rfc3339_ms(F.col("d.timestamp")),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce(F.col("d.asks"), F.array()), to_order),
        bids=F.transform(F.coalesce(F.col("d.bids"), F.array()), to_order),
    )
    return sort_book_sides(out)


_BBO_ELEM = (
    "struct<symbol:string, timestamp:string, askSize:double, askPrice:double, "
    "bidSize:double, bidPrice:double>"
)


def parse_bbo(df: DataFrame) -> DataFrame:
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_BBO_ELEM}>")
    base = (
        df.filter(_table(F.col("msg")) == "quote")
        .select("*", F.explode(arr).alias("d"))
        .withColumn("symbol", F.col("d.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    mt, cv = F.col("market_type"), F.col("cv")
    ask_t = quantity_triple(mt, F.col("d.askPrice"), F.col("d.askSize"), cv)
    bid_t = quantity_triple(mt, F.col("d.bidPrice"), F.col("d.bidSize"), cv)
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        timestamp=_rfc3339_ms(F.col("d.timestamp")),
        bid_price=F.col("d.bidPrice"),
        bid_quantity_base=bid_t["quantity_base"],
        bid_quantity_quote=bid_t["quantity_quote"],
        bid_quantity_contract=bid_t["quantity_contract"],
        ask_price=F.col("d.askPrice"),
        ask_quantity_base=ask_t["quantity_base"],
        ask_quantity_quote=ask_t["quantity_quote"],
        ask_quantity_contract=ask_t["quantity_contract"],
    )


_CANDLE_ELEM = (
    "struct<timestamp:string, symbol:string, open:double, high:double, "
    "low:double, close:double, volume:double, homeNotional:double, "
    "foreignNotional:double>"
)


def parse_candlestick(df: DataFrame) -> DataFrame:
    """tradeBin{N}m tables: period from the table name; begin_time =
    close_ts - N*60s; volume = homeNotional (bitmex.rs:957-1027)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_CANDLE_ELEM}>")
    table = _table(F.col("msg"))
    minutes = F.regexp_extract(table, r"^tradeBin(\d+)m$", 1).cast("long")
    base = (
        df.filter(table.startswith("tradeBin"))
        .withColumn("minutes", minutes)
        .select("*", F.explode(arr).alias("d"))
        .withColumn("symbol", F.col("d.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    ts = _rfc3339_ms(F.col("d.timestamp"))
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=ts,
        # reference quirk: bitmex begin_time stays in MILLISECONDS
        # (bitmex.rs:1015, unlike the seconds convention elsewhere)
        begin_time=ts - F.col("minutes") * 60000,
        open=F.col("d.open"),
        high=F.col("d.high"),
        low=F.col("d.low"),
        close=F.col("d.close"),
        volume=F.col("d.homeNotional"),
        period=F.concat(F.col("minutes").cast("string"), F.lit("m")),
        quote_volume=F.when(F.col("d.foreignNotional") > 0, F.col("d.foreignNotional")),
    )
