"""Deribit normalization (inverse futures/swaps + European options).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/deribit.rs;
  pair rules crypto-pair/src/exchanges/deribit.rs:3-21
  (PERPETUAL -> BASE/USD, dated futures -> BASE/USD, options -> BASE/BASE);
  contract values crypto-contract-value/src/exchanges/deribit.rs
  (inverse: BTC 10 USD else 1 USD per contract; options 1 coin).

Envelope: JSON-RPC {jsonrpc, method, params:{channel, data}}. Channel
grammar: trades.*, book.<sym>.<interval> (L2Event) vs
book.<sym>.<group>.<depth>.<interval> (L2TopK), quote.*, ticker.*,
chart.trades.<sym>.<resolution>.
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

EXCHANGE = "deribit"


def normalize_pair(symbol: Column) -> Column:
    base_dash = F.split(symbol, "-")[0]
    return (
        F.when(
            symbol.endswith("-PERPETUAL"), F.concat(base_dash, F.lit("/USD"))
        )
        .when(
            (F.length(symbol) > 7)
            & symbol.substr(F.length(symbol) - 1, F.lit(2)).rlike("^[0-9]+$"),
            F.concat(base_dash, F.lit("/USD")),
        )
        .when(
            symbol.endswith("-P") | symbol.endswith("-C"),
            F.concat(base_dash, F.lit("/"), base_dash),
        )
    )


def contract_value(pair: Column, market_type: Column) -> Column:
    """crypto-contract-value/src/exchanges/deribit.rs:3-17."""
    return (
        F.when(
            market_type.isin("inverse_swap", "inverse_future"),
            F.when(pair.startswith("BTC"), 10.0).otherwise(1.0),
        )
        .when(market_type == "european_option", F.lit(1.0))
        .otherwise(F.lit(1.0))
    )


# ---------------------------------------------------------------- router

def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$.params.channel")


@sniffer
def get_msg_type(m: Msg) -> Column:
    """deribit.rs:173-198: first channel segment; book.* with exactly two
    dots is L2Event, deeper is L2TopK."""

    def ladder(ch):
        head = F.split(ch, "\\.")[0]
        ndots = F.length(ch) - F.length(F.translate(ch, ".", ""))
        return (
            F.when(ch.isNull(), "other")
            .when(head == "trades", "trade")
            .when(head == "book", F.when(ndots == 2, "l2_event").otherwise("l2_topk"))
            .when(head == "quote", "bbo")
            .when(head == "ticker", "ticker")
            .when(head == "chart", "candlestick")
            .otherwise("other")
        )

    return let(ladder, m.get("$.params.channel"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    """deribit.rs:95-131."""
    ws_obj = m.get("$.params.data.instrument_name")
    ws_arr = m.get("$.params.data[0].instrument_name")
    rest_arr = m.rows("$.result", "struct<instrument_name:string>")
    is_rest_arr = m.raw.rlike('"result"\\s*:\\s*\\[')
    return let(
        lambda ch: F.when(
            ch.isNotNull(),
            F.when(
                ch.startswith("chart.trades."), F.split(ch, "\\.")[2]
            ).otherwise(F.coalesce(ws_obj, ws_arr)),
        )
        .when(
            m.has("$.result"),
            F.when(is_rest_arr & (F.size(rest_arr) > 1), "ALL")
            .when(
                is_rest_arr & (F.size(rest_arr) == 1),
                rest_arr[0]["instrument_name"],
            )
            .when(is_rest_arr, "NONE")
            .otherwise(m.get("$.result.instrument_name")),
        ),
        m.get("$.params.channel"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """deribit.rs:133-171."""
    arr = m.rows("$.params.data", "struct<timestamp:string>")
    rest_arr = m.rows("$.result", "struct<creation_timestamp:string>")
    is_rest_arr = m.raw.rlike('"result"\\s*:\\s*\\[')
    return let(
        lambda ch, data_ts: F.when(
            ch.isNotNull(),
            F.when(
                ch.startswith("chart.trades."),
                m.get("$.params.data.tick").try_cast("long"),
            )
            .when(data_ts.isNotNull(), data_ts)
            .otherwise(
                F.array_max(F.transform(arr, lambda x: x["timestamp"].try_cast("long")))
            ),
        )
        .when(
            m.has("$.result"),
            F.when(
                is_rest_arr,
                F.array_max(
                    F.transform(
                        rest_arr, lambda x: x["creation_timestamp"].try_cast("long")
                    )
                ),
            ).otherwise(m.get("$.result.timestamp").try_cast("long")),
        ),
        m.get("$.params.channel"),
        m.get("$.params.data.timestamp").try_cast("long"),
    )


# ---------------------------------------------------------------- trades

_TRADE = (
    "array<struct<trade_seq:bigint, trade_id:string, timestamp:bigint,"
    " price:double, instrument_name:string, direction:string, amount:double>>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """deribit.rs:203-248: params.data array; cv quantity math."""
    arr = F.from_json(F.get_json_object("msg", "$.params.data"), _TRADE)
    base = (
        df.filter(_channel(F.col("msg")).startswith("trades"))
        .transform(explode_with_count(arr))
        .withColumn("symbol", F.col("d.instrument_name"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("cv", contract_value(F.col("pair"), F.col("market_type")))
    )
    q = quantity_triple(
        F.col("market_type"), F.col("d.price"), F.col("d.amount"), F.col("cv")
    )
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.col("d.timestamp"),
        json=item_json(),
        side=F.when(F.col("d.direction") == "sell", "sell")
        .otherwise("buy"),
        price=F.col("d.price"),
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=F.col("d.trade_id"),
    )


# ---------------------------------------------------------------- orderbooks

_BOOK = (
    "struct<type:string, timestamp:bigint, instrument_name:string,"
    " change_id:bigint, prev_change_id:bigint,"
    " asks:array<array<string>>, bids:array<array<string>>>"
)


def _parse_l2_core(df: DataFrame) -> DataFrame:
    """deribit.rs:250-307: L2Event levels are [action, price, qty], L2TopK
    levels are [price, qty]; msg_type by channel depth; snapshot from the
    `type` field for events, always true for topk."""
    ch = _channel(F.col("msg"))
    ndots = F.length(ch) - F.length(F.translate(ch, ".", ""))
    base = (
        df.filter(ch.startswith("book."))
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.params.data"), _BOOK)))
        .withColumn("symbol", F.col("d.instrument_name"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("cv", contract_value(F.col("pair"), F.col("market_type")))
        .withColumn("is_event", ndots == 2)
        .withColumn(
            "snapshot",
            F.when(F.col("is_event"), F.col("d.type") == "snapshot").otherwise(
                F.lit(True)
            ),
        )
    )

    def order(lv):
        price = F.when(F.size(lv) == 3, lv.getItem(1)).otherwise(
            lv.getItem(0)
        ).cast("double")
        qty = F.when(F.size(lv) == 3, lv.getItem(2)).otherwise(
            lv.getItem(1)
        ).cast("double")
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(F.col("is_event"), "l2_event").otherwise("l2_topk"),
        timestamp=F.col("d.timestamp"),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
        seq_id=F.col("d.change_id"),
        prev_seq_id=F.col("d.prev_change_id"),
    )
    return sort_book_sides(out)


def parse_l2(df: DataFrame) -> DataFrame:
    return _parse_l2_core(df)


def parse_l2_topk(df: DataFrame) -> DataFrame:
    """deribit.rs:309-314: parse_l2_topk delegates to parse_l2."""
    return _parse_l2_core(df)


# ---------------------------------------------------------------- bbo

def parse_bbo(df: DataFrame) -> DataFrame:
    """deribit.rs:316-360: quote channel with best bid/ask + cv math."""
    base = (
        df.filter(_channel(F.col("msg")).startswith("quote"))
        .withColumn(
            "symbol", F.get_json_object("msg", "$.params.data.instrument_name")
        )
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("cv", contract_value(F.col("pair"), F.col("market_type")))
    )
    ask_p = F.get_json_object("msg", "$.params.data.best_ask_price").cast("double")
    ask_q = F.get_json_object("msg", "$.params.data.best_ask_amount").cast("double")
    bid_p = F.get_json_object("msg", "$.params.data.best_bid_price").cast("double")
    bid_q = F.get_json_object("msg", "$.params.data.best_bid_amount").cast("double")
    aq = quantity_triple(F.col("market_type"), ask_p, ask_q, F.col("cv"))
    bq = quantity_triple(F.col("market_type"), bid_p, bid_q, F.col("cv"))
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        timestamp=F.get_json_object("msg", "$.params.data.timestamp").cast("long"),
        bid_price=bid_p,
        bid_quantity_base=bq["quantity_base"],
        bid_quantity_quote=bq["quantity_quote"],
        bid_quantity_contract=bq["quantity_contract"],
        ask_price=ask_p,
        ask_quantity_base=aq["quantity_base"],
        ask_quantity_quote=aq["quantity_quote"],
        ask_quantity_contract=aq["quantity_contract"],
    )


# ---------------------------------------------------------------- candles

def parse_candlestick(df: DataFrame) -> DataFrame:
    """deribit.rs:362-395: chart.trades.<sym>.<resolution>; resolution in
    minutes ('1D' = 1440); begin_time = tick - minutes*60000 (ms)."""
    ch = _channel(F.col("msg"))
    period = F.substring_index(ch, ".", -1)
    minutes = F.when(
        period.endswith("D"),
        F.regexp_extract(period, "^([0-9]+)", 1).cast("long") * 24 * 60,
    ).otherwise(period.cast("long"))
    base = (
        df.filter(ch.startswith("chart."))
        .withColumn("symbol", F.split(ch, "\\.")[2])
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("period", period)
        .withColumn("minutes", minutes)
    )
    tick = F.get_json_object("msg", "$.params.data.tick").cast("long")
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=tick,
        begin_time=tick - F.col("minutes") * 60000,
        open=F.get_json_object("msg", "$.params.data.open").cast("double"),
        high=F.get_json_object("msg", "$.params.data.high").cast("double"),
        low=F.get_json_object("msg", "$.params.data.low").cast("double"),
        close=F.get_json_object("msg", "$.params.data.close").cast("double"),
        volume=F.get_json_object("msg", "$.params.data.volume").cast("double"),
        quote_volume=F.get_json_object("msg", "$.params.data.cost").cast("double"),
    )
