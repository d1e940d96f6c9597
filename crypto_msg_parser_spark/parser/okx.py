"""OKX (v3 + v5 API) normalization as Catalyst column pipelines.

Behavioral reference (reimplemented, not translated):
  - format dispatch: crypto-msg-parser/src/exchanges/okx/mod.rs:15-28
    (arg+data -> v5 websocket, table+data -> v3 websocket, code+msg+data ->
    v5 REST, else v3 REST)
  - v5 router + parsers: crypto-msg-parser/src/exchanges/okx/okx_v5.rs
  - v3 router + parsers: crypto-msg-parser/src/exchanges/okx/okx_v3.rs
  - pair rule: crypto-pair/src/lib.rs:66-69 (split '-', BASE/QUOTE)
  - contract values: crypto-contract-value/src/exchanges/okx.rs
    (inverse closed-form BTC 100 / other 10; linear from the offline table,
    shipped as parser/data/okx_contract_values.json and broadcast-joined)

v5 envelopes messages as {arg:{channel,instId}, data:[...]}; the legacy v3
format is {table:"family/channel", data:[...]} with RFC3339 timestamps and
instrument_id/price/size|qty field names. Rather than the reference's
two-module dispatch (which in Spark would mean two scans + a union), each
parser reads the data array with ONE superset from_json schema — absent
fields are null per format — and coalesces per-field, so both formats flow
through a single whole-stage-codegen pass. All parsers explode the data
array (flatMap), keep the whole raw message as provenance when
len(data)==1 and the element's canonical JSON otherwise.
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
    parsed_once,
    INVERSE,
    SPOT,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "okx"


def normalize_pair(symbol: Column) -> Column:
    """BTC-USDT-SWAP -> BTC/USDT (lib.rs:66-69: first two '-' fields)."""
    v = F.split(symbol, "-")
    return F.concat(v.getItem(0), F.lit("/"), v.getItem(1))


def _linear_cv_dict(spark) -> DataFrame:
    d = data_json("okx_contract_values.json")
    rows = [(mt, pair, cv) for mt, table in d.items() for pair, cv in table.items()]
    return local_table(spark, rows, "cv_market_type string, cv_pair string, cv double")


def with_contract_value(df: DataFrame, pair_col: str = "pair") -> DataFrame:
    """Attach the contract multiplier as column `cv`:
    spot 1, inverse closed-form, linear via a broadcast join on the
    contract-value table, a LocalRelation."""
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
        .when(F.col("market_type") == "european_option", F.lit(1.0))
        .otherwise(F.col("cv")),
    )


# ---------------------------------------------------------------- router


def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$.arg.channel")


def _table(msg: Column) -> Column:
    return F.get_json_object(msg, "$.table")


def _rfc3339_ms(col: Column, to_timestamp=F.to_timestamp) -> Column:
    """RFC3339 with millis -> epoch ms (v3 timestamps; chrono
    parse_from_rfc3339().timestamp_millis() in okx_v3.rs:88-93)."""
    t = to_timestamp(col)
    return (
        F.unix_timestamp(t) * 1000
        + F.floor(F.date_format(t, "SSSSSS").cast("long") / 1000)
    ).cast("long")


@sniffer
def get_msg_type(m: Msg) -> Column:
    def ladder(ch, table):
        # v3: channel is the second '/'-field of table (okx_v3.rs:107-132);
        # note "candle60s" != "candle", so v3 candles route to other — a
        # reference quirk preserved deliberately
        v3ch = F.get(F.split(table, "/"), 1)
        v3 = (
            F.when(v3ch == "trade", "trade")
            .when(v3ch == "depth_l2_tbt", "l2_event")
            .when(v3ch == "depth5", "l2_topk")
            .when(v3ch == "ticker", "bbo")
            .when(v3ch == "candle", "candlestick")
            .when(v3ch == "funding_rate", "funding_rate")
            .otherwise("other")
        )
        return (
            F.when(ch == "trades", "trade")
            .when(ch.isin("books", "books-l2-tbt", "books50-l2-tbt"), "l2_event")
            .when(ch == "books5", "l2_topk")
            .when(ch == "bbo-tbt", "bbo")
            .when(ch == "tickers", "ticker")
            .when(ch == "funding-rate", "funding_rate")
            .when(ch.startswith("candle"), "candlestick")
            .when(ch.isNotNull(), "other")
            .when(table.isNotNull(), v3)
            .otherwise("other")
        )

    return let(ladder, m.get("$.arg.channel"), m.get("$.table"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    """arg.instId for ws messages; REST {code,data:[...]} handling:
    >1 rows -> ALL, ==1 -> its instId or NONE (okx_v5.rs:93-115)."""
    rest_arr = m.rows("$.data", "struct<instId:string, instrument_id:string>")
    return let(
        lambda ws: F.when(ws.isNotNull(), ws)
        .when(
            m.get("$.code") == "0",
            F.when(F.size(rest_arr) > 1, "ALL")
            .when(
                (F.size(rest_arr) == 1) & rest_arr.getItem(0)["instId"].isNotNull(),
                rest_arr.getItem(0)["instId"],
            )
            .otherwise("NONE"),
        )
        # v3: data[0].instrument_id (okx_v3.rs:68-76)
        .when(m.has("$.table"), F.get(rest_arr, 0)["instrument_id"]),
        m.get("$.arg.instId"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """v5: max(data[].ts), None for funding-rate/candle channels
    (okx_v5.rs:118-149). v3: max over RFC3339 data[].timestamp or
    candle[0], None for swap/funding_rate (okx_v3.rs:78-105)."""
    arr = m.rows(
        "$.data", "struct<ts:string, timestamp:string, candle:array<string>>"
    )
    mx = F.array_max(F.transform(arr, lambda x: x["ts"].try_cast("long")))
    v3_mx = F.array_max(
        F.transform(
            arr,
            lambda x: _rfc3339_ms(
                F.coalesce(x["timestamp"], F.get(x["candle"], 0)),
                F.try_to_timestamp,
            ),
        )
    )

    def ladder(ch, table):
        return (
            F.when(
                (ch == "funding-rate") | ch.startswith("candle"),
                F.lit(None).cast("long"),
            )
            .when(ch != "", mx)
            .when(
                table.isNotNull(),
                F.when(table == "swap/funding_rate", F.lit(None).cast("long"))
                .otherwise(v3_mx),
            )
            .otherwise(mx)
        )

    return let(
        ladder, F.coalesce(m.get("$.arg.channel"), F.lit("")), m.get("$.table")
    )


# ---------------------------------------------------------------- parsers

# superset of okx_v5.rs RawTradeMsg and okx_v3.rs RawTradeMsg fields;
# absent fields deserialize to null per format
_TRADE_ELEM = (
    "struct<instId:string, tradeId:string, px:string, sz:string, "
    "side:string, ts:string, "
    "instrument_id:string, trade_id:string, price:string, size:string, "
    "qty:string, timestamp:string>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """v5 trades channel / v3 */trade tables -> TradeMsg rows
    (okx_v5.rs parse_trade, okx_v3.rs:134-184).
    quantity_contract = size for all non-spot markets."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_TRADE_ELEM}>")
    base = (
        df.filter(
            (_channel(F.col("msg")) == "trades")
            | _table(F.col("msg")).endswith("/trade")
        )
        .transform(explode_with_count(arr))
        .withColumn(
            "symbol", F.coalesce(F.col("d.instId"), F.col("d.instrument_id"))
        )
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    price = F.coalesce(F.col("d.px"), F.col("d.price")).cast("double")
    # v3 checks qty before size (okx_v3.rs:147-153)
    size = F.coalesce(F.col("d.sz"), F.col("d.qty"), F.col("d.size")).cast(
        "double"
    )
    qt = quantity_triple(F.col("market_type"), price, size, F.col("cv"))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.coalesce(
            F.col("d.ts").cast("long"), _rfc3339_ms(F.col("d.timestamp"))
        ),
        json=item_json(),
        side=F.when(F.col("d.side") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qt["quantity_base"],
        quantity_quote=qt["quantity_quote"],
        quantity_contract=F.when(
            F.col("market_type") == SPOT, F.lit(None).cast("double")
        ).otherwise(size),
        trade_id=F.coalesce(F.col("d.tradeId"), F.col("d.trade_id")),
    )


# asks/bids level arrays are positional strings in both formats (v3 spot
# length 3, derivatives length 4; price/qty are always items 0/1); ts is
# v5 epoch-ms, timestamp/instrument_id are v3
_BOOK_ELEM = (
    "struct<asks:array<array<string>>, bids:array<array<string>>, ts:string, "
    "instrument_id:string, timestamp:string>"
)


def _levels(raw: Column, mt: Column, cv: Column) -> Column:
    def to_order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return order_level(mt, price, qty, cv)

    return F.transform(raw, to_order)


def parse_l2(df: DataFrame) -> DataFrame:
    """v5 books/books5/books-l2-tbt channels and v3 */depth_l2_tbt,
    */depth5 tables -> OrderBookMsg (okx_v5.rs parse_l2,
    okx_v3.rs:221-276): snapshot = action=='snapshot' (v5) /
    action=='partial' (v3), or the top-k channel when no action;
    books5 / */depth5 are L2TopK."""
    ch = _channel(F.col("msg"))
    tbl = _table(F.col("msg"))
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_BOOK_ELEM}>")
    action = F.get_json_object("msg", "$.action")
    is_topk = (ch == "books5") | tbl.endswith("/depth5")
    base = (
        df.filter(
            ch.isin("books", "books-l2-tbt", "books50-l2-tbt", "books5")
            | tbl.endswith("/depth_l2_tbt")
            | tbl.endswith("/depth5")
        )
        .withColumn("is_topk", is_topk)
        .withColumn("action", action)
        .transform(explode_with_count(arr))
        .withColumn(
            "symbol",
            F.coalesce(
                F.get_json_object("msg", "$.arg.instId"),
                F.col("d.instrument_id"),
            ),
        )
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    snapshot = F.when(
        F.col("action").isNotNull(), F.col("action").isin("snapshot", "partial")
    ).otherwise(F.col("is_topk"))
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(F.col("is_topk"), "l2_topk").otherwise("l2_event"),
        timestamp=F.coalesce(
            F.col("d.ts").cast("long"), _rfc3339_ms(F.col("d.timestamp"))
        ),
        json=item_json(),
        snapshot=snapshot,
        asks=_levels(F.col("d.asks"), F.col("market_type"), F.col("cv")),
        bids=_levels(F.col("d.bids"), F.col("market_type"), F.col("cv")),
    )
    return sort_book_sides(out)


# okx L2TopK rides the same books5 channel; the reference routes
# parse_l2_topk straight to parse_l2 (okx/mod.rs:98-103)
parse_l2_topk = parse_l2


# superset of okx_v5.rs RawFundingRateMsg and okx_v3.rs RawFundingRateMsg
_FUNDING_ELEM = (
    "struct<instType:string, instId:string, fundingRate:string, "
    "nextFundingRate:string, fundingTime:string, "
    "instrument_id:string, funding_rate:string, funding_time:string, "
    "estimated_rate:string, settlement_time:string>"
)


def parse_funding_rate(df: DataFrame) -> DataFrame:
    """v5 funding-rate channel / v3 swap/funding_rate table ->
    FundingRateMsg; timestamp is received_at — the message embeds none
    (okx_v5.rs:222-252, okx_v3.rs:186-219, lib.rs:247-251)."""
    arr = F.from_json(
        F.get_json_object("msg", "$.data"), f"array<{_FUNDING_ELEM}>"
    )
    base = (
        df.filter(
            (_channel(F.col("msg")) == "funding-rate")
            | (_table(F.col("msg")) == "swap/funding_rate")
        )
        .transform(explode_with_count(arr))
        .withColumn(
            "symbol", F.coalesce(F.col("d.instId"), F.col("d.instrument_id"))
        )
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    return emit(
        base, schemas.FUNDING_RATE_SCHEMA, EXCHANGE, "funding_rate",
        timestamp=F.col("received_at"),
        json=item_json(),
        funding_rate=F.coalesce(F.col("d.fundingRate"), F.col("d.funding_rate"))
        .cast("double"),
        funding_time=F.coalesce(
            F.col("d.fundingTime").cast("long"),
            _rfc3339_ms(F.col("d.funding_time")),
        ),
        estimated_rate=F.coalesce(
            F.col("d.nextFundingRate").cast("double"),
            F.col("d.estimated_rate").cast("double"),
        ),
    )


def parse_bbo(df: DataFrame) -> DataFrame:
    """bbo-tbt channel -> BboMsg from the best level of each side; messages
    with an empty side are dropped (okx_v5.rs:318-330)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), f"array<{_BOOK_ELEM}>")
    base = (
        df.filter(_channel(F.col("msg")) == "bbo-tbt")
        .transform(parsed_once(arr.getItem(0)))
        .filter((F.size("d.asks") > 0) & (F.size("d.bids") > 0))
        .withColumn("symbol", F.get_json_object("msg", "$.arg.instId"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    ask = F.col("d.asks").getItem(0)
    bid = F.col("d.bids").getItem(0)
    ask_t = quantity_triple(
        F.col("market_type"),
        ask.getItem(0).cast("double"),
        ask.getItem(1).cast("double"),
        F.col("cv"),
    )
    bid_t = quantity_triple(
        F.col("market_type"),
        bid.getItem(0).cast("double"),
        bid.getItem(1).cast("double"),
        F.col("cv"),
    )
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        timestamp=F.col("d.ts").cast("long"),
        bid_price=bid.getItem(0).cast("double"),
        bid_quantity_base=bid_t["quantity_base"],
        bid_quantity_quote=bid_t["quantity_quote"],
        bid_quantity_contract=bid_t["quantity_contract"],
        ask_price=ask.getItem(0).cast("double"),
        ask_quantity_base=ask_t["quantity_base"],
        ask_quantity_quote=ask_t["quantity_quote"],
        ask_quantity_contract=ask_t["quantity_contract"],
    )


def parse_candlestick(df: DataFrame) -> DataFrame:
    """candle* channels: positional [ts,o,h,l,c,vol,volCcy] arrays;
    timestamp = received_at; period = channel minus candle/utc affixes;
    volume semantics per market family (okx_v5.rs:363-424)."""
    ch = _channel(F.col("msg"))
    arr = F.from_json(
        F.get_json_object("msg", "$.data"), "array<array<string>>"
    )
    base = (
        df.filter(ch.startswith("candle"))
        .withColumn("ch", ch)
        .transform(parsed_once(arr.getItem(0)))
        .withColumn("symbol", F.get_json_object("msg", "$.arg.instId"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    period = F.regexp_replace(
        F.regexp_replace(F.col("ch"), "^candle", ""), "utc$", ""
    )
    vol = F.col("d").getItem(5).cast("double")
    vol_ccy = F.col("d").getItem(6).cast("double")
    mt = F.col("market_type")
    volume = (
        F.when(mt == SPOT, vol)
        .when(mt.isin(*INVERSE), vol_ccy)
        .otherwise(vol_ccy)
    )
    quote_volume = (
        F.when(mt == SPOT, vol_ccy)
        .when(mt.isin(*INVERSE), vol * F.col("cv"))
        .otherwise(F.lit(None).cast("double"))
    )
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=F.col("received_at"),
        begin_time=(F.col("d").getItem(0).cast("long") / 1000).cast("long"),
        open=F.col("d").getItem(1).cast("double"),
        high=F.col("d").getItem(2).cast("double"),
        low=F.col("d").getItem(3).cast("double"),
        close=F.col("d").getItem(4).cast("double"),
        volume=volume,
        period=period,
        quote_volume=quote_volume,
    )
