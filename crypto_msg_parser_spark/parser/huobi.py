"""Huobi normalization as Catalyst column pipelines.

Behavioral reference (reimplemented, not translated):
  - router: crypto-msg-parser/src/exchanges/huobi/mod.rs:20-82
  - spot parsers: huobi/huobi_spot.rs; derivative parsers:
    huobi/huobi_inverse.rs + huobi_linear.rs; funding: huobi/funding_rate.rs
  - pair rules: crypto-pair/src/exchanges/huobi.rs:54-77
  - contract values: crypto-contract-value/src/exchanges/huobi.rs:287-297
    (inverse closed-form; linear via parser/data/huobi_contract_values.json)

Huobi envelope: {ch|topic, ts, tick|data}. Symbols ride inside the channel
name (split('.')[1]); spot symbols are lowercase.
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
    explode_with_count,
    INVERSE,
    SPOT,
    normalize_pair_with_quotes,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
    spot_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "huobi"

# offline spot quote set (crypto-pair/src/exchanges/huobi.rs:12-17)
SPOT_QUOTES = [
    "brl", "btc", "eth", "eur", "euroc", "gbp", "ht", "husd", "rub", "trx",
    "try", "tusd", "uah", "usdc", "usdd", "usdt", "ust", "ustc",
]


def normalize_pair(symbol: Column) -> Column:
    v = F.split(symbol, "-")
    return (
        F.when(
            symbol.endswith("-USD") | symbol.endswith("-USDT"),
            F.translate(symbol, "-", "/"),
        )
        .when(
            symbol.contains("-C-") | symbol.contains("-P-"),
            F.concat(F.upper(v.getItem(0)), F.lit("/"), F.upper(v.getItem(1))),
        )
        .when(
            symbol.endswith("_CW")
            | symbol.endswith("_NW")
            | symbol.endswith("_CQ")
            | symbol.endswith("_NQ"),
            F.concat(
                symbol.substr(F.lit(1), F.length(symbol) - 3), F.lit("/USD")
            ),
        )
        .otherwise(normalize_pair_with_quotes(symbol, SPOT_QUOTES))
    )


def _linear_cv_dict(spark) -> DataFrame:
    d = data_json("huobi_contract_values.json")
    rows = [(mt, pair, cv) for mt, table in d.items() for pair, cv in table.items()]
    return local_table(spark, rows, "cv_market_type string, cv_pair string, cv double")


def with_contract_value(df: DataFrame, pair_col: str = "pair") -> DataFrame:
    spark = df.sparkSession
    joined = df.join(
        F.broadcast(_linear_cv_dict(spark)),
        (F.col("market_type") == F.col("cv_market_type"))
        & (F.col(pair_col) == F.col("cv_pair")),
        "left",
    ).drop("cv_market_type", "cv_pair")
    return joined.withColumn(
        "cv",
        F.when(F.col("market_type") == SPOT, F.lit(1.0))
        .when(
            F.col("market_type").isin(*INVERSE),
            F.when(F.col(pair_col).startswith("BTC"), 100.0).otherwise(10.0),
        )
        .otherwise(F.col("cv")),
    )


# ---------------------------------------------------------------- router


def _channel(msg: Column) -> Column:
    return _channel_of(lambda path: F.get_json_object(msg, path))


def _channel_of(get) -> Column:
    """``_channel`` over ``get(path)``, a string read."""
    return F.coalesce(get("$.ch"), get("$.topic"))


@sniffer
def get_msg_type(m: Msg) -> Column:
    def ladder(ch):
        return (
            F.when(ch.isNull(), "other")
            .when(ch.endswith("trade.detail"), "trade")
            .when(
                ch.endswith("depth.size_20.high_freq")
                | ch.endswith("depth.size_150.high_freq")
                | ch.endswith("mbp.20"),
                "l2_event",
            )
            .when(ch.contains(".depth.step"), "l2_topk")
            .when(ch.endswith("bbo"), "bbo")
            .when(ch.endswith(".funding_rate"), "funding_rate")
            .when(ch.endswith("detail"), "ticker")
            .when(ch.contains(".kline."), "candlestick")
            .otherwise("other")
        )

    return let(ladder, _channel_of(m.get))


@sniffer
def extract_symbol(m: Msg) -> Column:
    return let(
        # a data array of two or more entries
        lambda ch: F.when(m.get("$.data[1]", "variant").isNotNull(), "ALL")
        .when(ch == "public.*.funding_rate", "ALL")
        .otherwise(F.get(F.split(ch, "\\."), 1)),
        _channel_of(m.get),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    return m.get("$.ts").try_cast("long")


# ---------------------------------------------------------------- parsers

_TRADE_TICK = (
    "struct<id:bigint, ts:bigint, data:array<struct<id:bigint, tradeId:bigint, "
    "ts:bigint, amount:double, quantity:double, price:double, direction:string>>>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """trade.detail -> TradeMsg rows.
    Spot (huobi_spot.rs:81-114): qb=amount, qq=price*amount (no rounding),
    trade_id=tradeId. Derivatives (huobi_inverse.rs:96-141, huobi_linear.rs):
    qb comes from the message's own `quantity`, qq from the quantity
    calculus, qc=amount (contracts), trade_id=id."""
    tick = F.from_json(F.get_json_object("msg", "$.tick"), _TRADE_TICK)
    base = (
        df.withColumn("ch", _channel(F.col("msg")))
        .filter(F.col("ch").endswith("trade.detail"))
        .withColumn("symbol", F.split("ch", "\\.").getItem(1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(tick["data"]))
    )
    base = with_contract_value(base)
    is_spot = F.col("market_type") == SPOT
    price = F.col("d.price")
    qt = quantity_triple(
        F.col("market_type"), price, F.col("d.amount"), F.col("cv")
    )
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.col("d.ts"),
        json=item_json(),
        side=F.when(F.col("d.direction") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=F.when(is_spot, F.col("d.amount")).otherwise(F.col("d.quantity")),
        quantity_quote=F.when(is_spot, price * F.col("d.amount"))
        .otherwise(qt["quantity_quote"]),
        quantity_contract=F.when(is_spot, F.lit(None).cast("double"))
        .otherwise(F.col("d.amount")),
        trade_id=F.when(is_spot, F.col("d.tradeId"))
        .otherwise(F.col("d.id"))
        .cast("string"),
    )


_SPOT_BOOK = (
    "struct<seqNum:bigint, prevSeqNum:bigint, "
    "asks:array<array<double>>, bids:array<array<double>>>"
)
_DERIV_BOOK = (
    "struct<id:bigint, ts:bigint, mrid:bigint, event:string, "
    "asks:array<array<double>>, bids:array<array<double>>>"
)


def _spot_levels(raw: Column) -> Column:
    def to_order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return spot_level(price, qty)

    return F.transform(F.coalesce(raw, F.array()), to_order)


def _deriv_levels(raw: Column, mt: Column, cv: Column) -> Column:
    def to_order(lv):
        price = lv.getItem(0)
        qty = lv.getItem(1)
        return order_level(mt, price, qty, cv)

    # huobi may send JSON null for an absent side (utils.rs:89-98)
    return F.transform(F.coalesce(raw, F.array()), to_order)


def parse_l2(df: DataFrame) -> DataFrame:
    """mbp/depth channels -> OrderBookMsg. Spot mbp = L2Event with
    seqNum/prevSeqNum; *.depth.step* = L2TopK snapshots; derivative
    high_freq events carry mrid + snapshot/update flag."""
    ch = _channel(F.col("msg"))
    spot_tick = F.from_json(F.get_json_object("msg", "$.tick"), _SPOT_BOOK)
    deriv_tick = F.from_json(F.get_json_object("msg", "$.tick"), _DERIV_BOOK)
    base = (
        df.withColumn("ch", ch)
        .filter(
            F.col("ch").contains(".mbp.")
            | F.col("ch").contains(".depth.step")
            | F.col("ch").endswith(".high_freq")
        )
        .withColumn("symbol", F.split("ch", "\\.").getItem(1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("st", spot_tick)
        .withColumn("dt", deriv_tick)
        .withColumn("ts", F.get_json_object("msg", "$.ts").cast("long"))
    )
    base = with_contract_value(base)
    is_spot = F.col("market_type") == SPOT
    is_topk = F.col("ch").contains(".depth.step")
    snapshot = F.when(is_topk, F.lit(True)).otherwise(
        F.coalesce(F.col("dt.event") == "snapshot", F.lit(False))
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(is_topk, "l2_topk").otherwise("l2_event"),
        timestamp=F.col("ts"),
        snapshot=snapshot,
        asks=F.when(is_spot, _spot_levels(F.col("st.asks")))
        .otherwise(_deriv_levels(F.col("dt.asks"), F.col("market_type"), F.col("cv"))),
        bids=F.when(is_spot, _spot_levels(F.col("st.bids")))
        .otherwise(_deriv_levels(F.col("dt.bids"), F.col("market_type"), F.col("cv"))),
        seq_id=F.when(is_spot, F.col("st.seqNum")).otherwise(F.col("dt.mrid")),
        prev_seq_id=F.when(is_spot, F.col("st.prevSeqNum"))
        .otherwise(F.lit(None).cast("long")),
    )
    return sort_book_sides(out)


parse_l2_topk = parse_l2  # huobi L2TopK rides the same channels (mod.rs:127-132)

_SPOT_BBO = (
    "struct<seqId:bigint, ask:double, askSize:double, bid:double, "
    "bidSize:double, quoteTime:bigint, symbol:string>"
)
_DERIV_BBO = (
    "struct<id:bigint, ts:bigint, mrid:bigint, ch:string, "
    "bid:array<double>, ask:array<double>>"
)


def parse_bbo(df: DataFrame) -> DataFrame:
    ch = _channel(F.col("msg"))
    base = (
        df.withColumn("ch", ch)
        .filter(F.col("ch").endswith(".bbo"))
        .withColumn("symbol", F.split("ch", "\\.").getItem(1))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("sb", F.from_json(F.get_json_object("msg", "$.tick"), _SPOT_BBO))
        .withColumn("db", F.from_json(F.get_json_object("msg", "$.tick"), _DERIV_BBO))
        .withColumn("ts", F.get_json_object("msg", "$.ts").cast("long"))
    )
    base = with_contract_value(base)
    is_spot = F.col("market_type") == SPOT
    mt, cv = F.col("market_type"), F.col("cv")
    d_ask = quantity_triple(
        mt, F.col("db.ask").getItem(0), F.col("db.ask").getItem(1), cv
    )
    d_bid = quantity_triple(
        mt, F.col("db.bid").getItem(0), F.col("db.bid").getItem(1), cv
    )
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        timestamp=F.col("ts"),
        bid_price=F.when(is_spot, F.col("sb.bid"))
        .otherwise(F.col("db.bid").getItem(0)),
        bid_quantity_base=F.when(is_spot, F.col("sb.bidSize"))
        .otherwise(d_bid["quantity_base"]),
        bid_quantity_quote=F.when(is_spot, F.col("sb.bid") * F.col("sb.bidSize"))
        .otherwise(d_bid["quantity_quote"]),
        bid_quantity_contract=F.when(is_spot, F.lit(None).cast("double"))
        .otherwise(d_bid["quantity_contract"]),
        ask_price=F.when(is_spot, F.col("sb.ask"))
        .otherwise(F.col("db.ask").getItem(0)),
        ask_quantity_base=F.when(is_spot, F.col("sb.askSize"))
        .otherwise(d_ask["quantity_base"]),
        ask_quantity_quote=F.when(is_spot, F.col("sb.ask") * F.col("sb.askSize"))
        .otherwise(d_ask["quantity_quote"]),
        ask_quantity_contract=F.when(is_spot, F.lit(None).cast("double"))
        .otherwise(d_ask["quantity_contract"]),
        id=F.when(is_spot, F.col("sb.seqId")).otherwise(F.col("db.mrid")),
    )


_FUNDING = (
    "struct<op:string, topic:string, ts:bigint, data:array<struct<"
    "symbol:string, contract_code:string, funding_time:string, "
    "funding_rate:string, estimated_rate:string, settlement_time:string>>>"
)


def parse_funding_rate(df: DataFrame) -> DataFrame:
    """funding_rate topic -> FundingRateMsg; funding_time comes from
    settlement_time (funding_rate.rs:33-59)."""
    w = F.from_json(F.col("msg"), _FUNDING)
    base = (
        df.withColumn("w", w)
        .filter(F.col("w.topic").endswith(".funding_rate"))
        .withColumn("n_items", F.size("w.data"))
        .select("*", F.explode("w.data").alias("d"))
        .withColumn("pair", normalize_pair(F.col("d.contract_code")))
    )
    return emit(
        base, schemas.FUNDING_RATE_SCHEMA, EXCHANGE, "funding_rate",
        symbol=F.col("d.contract_code"),
        timestamp=F.col("w.ts"),
        json=item_json(),
        funding_rate=F.col("d.funding_rate").cast("double"),
        funding_time=F.col("d.settlement_time").cast("long"),
        estimated_rate=F.col("d.estimated_rate").cast("double"),
    )


_CANDLE = (
    "struct<id:bigint, mrid:bigint, open:double, close:double, low:double, "
    "high:double, amount:double, vol:double, count:bigint>"
)


def parse_candlestick(df: DataFrame) -> DataFrame:
    """kline channels -> CandlestickMsg: begin_time = tick.id (already
    seconds); spot quote_volume = vol; derivatives = vol * contract_value."""
    ch = _channel(F.col("msg"))
    base = (
        df.withColumn("ch", ch)
        .filter(F.col("ch").contains(".kline."))
        .withColumn("symbol", F.split("ch", "\\.").getItem(1))
        .withColumn("period", F.split("ch", "\\.").getItem(3))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("t", F.from_json(F.get_json_object("msg", "$.tick"), _CANDLE))
        .withColumn("ts", F.get_json_object("msg", "$.ts").cast("long"))
    )
    base = with_contract_value(base)
    is_spot = F.col("market_type") == SPOT
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=F.col("ts"),
        begin_time=F.col("t.id"),
        open=F.col("t.open"),
        high=F.col("t.high"),
        low=F.col("t.low"),
        close=F.col("t.close"),
        volume=F.col("t.amount"),
        quote_volume=F.when(is_spot, F.col("t.vol"))
        .otherwise(F.col("t.vol") * F.col("cv")),
    )
