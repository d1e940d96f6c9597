"""Binance normalization, re-expressed as Catalyst column pipelines.

Behavioral reference (reimplemented, not translated):
  - router: crypto-msg-parser/src/exchanges/binance/mod.rs:18-110
  - trade/l2/bbo/funding/candlestick: binance/binance_all.rs
  - pair rules: crypto-pair/src/exchanges/binance.rs:51-98
  - contract value: crypto-contract-value/src/exchanges/binance.rs:3-12

Every function here is a DataFrame -> DataFrame transform built from
`get_json_object` probes, one `from_json` with a fixed schema, broadcast-free
closed-form dictionary math, and an optional `explode` — the flatMap shape
of SURVEY §2.3 with zero Python in the hot path.

Input contract: df has columns (msg: string, market_type: string,
received_at: long nullable). Output: rows of schemas.TRADE_SCHEMA etc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    parsed_once,
    INVERSE,
    SPOT,
    Msg,
    let,
    sniffer,
    emit,
    item_json,
    normalize_pair_with_quotes,
    order_level,
    quantity_triple,
    sort_book_sides,
)

EXCHANGE = "binance"

# offline spot quote set (crypto-pair/src/exchanges/binance.rs:12-17)
SPOT_QUOTES = [
    "ARS", "AUD", "BIDR", "BKRW", "BNB", "BRL", "BTC", "BUSD", "BVND", "DAI",
    "DOGE", "DOT", "ETH", "EUR", "GBP", "GYEN", "IDRT", "NGN", "PAX", "PLN",
    "RON", "RUB", "TRX", "TRY", "TUSD", "UAH", "USDC", "USDP", "USDS", "USDT",
    "UST", "VAI", "XRP", "ZAR",
]


def normalize_pair(symbol: Column) -> Column:
    """Symbol -> unified BASE/QUOTE (crypto-pair binance rules)."""
    last6_numeric = (F.length(symbol) > 7) & F.substring(symbol, -6, 6).rlike(
        r"^[0-9]{6}$"
    )
    # strip "_<6-digit-date>" (last 7 chars) then split USDT/USD suffix
    dateless = F.regexp_replace(symbol, r".{7}$", "")
    return (
        F.when(
            symbol.endswith("USD_PERP"),
            F.concat(F.regexp_replace(symbol, "USD_PERP$", ""), F.lit("/USD")),
        )
        .when(
            symbol.endswith("-P") | symbol.endswith("-C"),
            F.concat(F.split(symbol, "-").getItem(0), F.lit("/USDT")),
        )
        .when(
            last6_numeric & dateless.endswith("USDT"),
            F.concat(F.regexp_replace(dateless, "USDT$", ""), F.lit("/USDT")),
        )
        .when(
            last6_numeric & dateless.endswith("USD"),
            F.concat(F.regexp_replace(dateless, "USD$", ""), F.lit("/USD")),
        )
        .otherwise(normalize_pair_with_quotes(symbol, SPOT_QUOTES))
    )


def contract_value(market_type: Column, pair: Column) -> Column:
    """Closed-form (crypto-contract-value binance: BTC inverse 100 USD,
    other inverse 10 USD, linear/option/spot 1)."""
    return (
        F.when(
            market_type.isin(*INVERSE),
            F.when(pair.startswith("BTC"), F.lit(100.0)).otherwise(F.lit(10.0)),
        )
        .otherwise(F.lit(1.0))
    )


# ---------------------------------------------------------------- router


def _stream(msg: Column) -> Column:
    return F.get_json_object(msg, "$.stream")


@sniffer
def get_msg_type(m: Msg) -> Column:
    def by_stream(s):
        return (
            F.when(s.isNull(), "l2_snapshot")
            .when(s.endswith("@aggTrade"), "trade")
            .when(s.endswith("@depth") | s.endswith("@depth@100ms"), "l2_event")
            .when(
                s.endswith("@depth5") | s.endswith("@depth10") | s.endswith("depth20"),
                "l2_topk",
            )
            .when(s.endswith("@bookTicker"), "bbo")
            .when(s.endswith("@ticker"), "ticker")
            .when(s.contains("@kline_"), "candlestick")
            .when(s.contains("markPrice"), "funding_rate")
            .otherwise("other")
        )

    return let(by_stream, m.get("$.stream"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    def by_stream(s, data_s):
        return (
            F.when(s.startswith("!") & s.endswith("@arr"), "ALL")
            .when(s.endswith("_ALL"), "ALL")
            .when(data_s.isNotNull(), data_s)
            .when(data_symbol.isNotNull(), data_symbol)
            .when(s.contains("@"), F.upper(F.split(s, "@").getItem(0)))
            .when(bare_snapshot, "NONE")
        )

    data_symbol = F.coalesce(m.get("$.data.symbol"), m.get("$.symbol"))
    bare_snapshot = m.has("$.lastUpdateId") & m.has("$.asks") & m.has("$.bids")
    return let(
        by_stream,
        F.coalesce(m.get("$.stream"), F.lit("")),
        F.coalesce(m.get("$.data.s"), m.get("$.s")),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """E or time of the data object; max(E) over array payloads."""
    scalar = F.coalesce(
        m.get("$.data.E"), m.get("$.E"), m.get("$.data.time"), m.get("$.time")
    ).try_cast("long")
    return let(
        lambda arr: F.when(
            arr.isNotNull(),
            F.array_max(F.transform(arr, lambda x: x["E"].try_cast("long"))),
        ).otherwise(scalar),
        m.rows("$.data", "struct<E:string>"),
    )


# ---------------------------------------------------------------- parsers

_TRADE_DATA_SCHEMA = (
    "struct<e:string, E:bigint, s:string, a:bigint, t:bigint, "
    "p:string, q:string, T:bigint, m:boolean>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    """aggTrade / trade messages -> TradeMsg rows
    (binance_all.rs parse_trade; option markets not yet covered).

    The envelope is parsed with ONE from_json over the whole message —
    a get_json_object probe plus a nested from_json would tokenize the
    JSON three times per row, and the parse stage is hot enough that the
    redundant scans showed up as ~40% of the bench profile."""
    d = F.from_json(F.col("msg"), f"struct<data:{_TRADE_DATA_SCHEMA}>")["data"]
    base = (
        df.transform(parsed_once(d))
        .filter(F.col("d.e").isin("aggTrade", "trade"))
        .withColumn("pair", normalize_pair(F.col("d.s")))
        .withColumn("price", F.col("d.p").cast("double"))
        .withColumn("qty", F.col("d.q").cast("double"))
        .withColumn(
            "qt",
            quantity_triple(
                F.col("market_type"),
                F.col("price"),
                F.col("qty"),
                contract_value(F.col("market_type"), F.col("pair")),
            ),
        )
    )
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.col("d.s"),
        timestamp=F.col("d.E"),
        side=F.when(F.col("d.m"), "sell").otherwise("buy"),
        quantity_base=F.col("qt.quantity_base"),
        quantity_quote=F.col("qt.quantity_quote"),
        quantity_contract=F.col("qt.quantity_contract"),
        trade_id=F.when(F.col("d.e") == "aggTrade", F.col("d.a").cast("string"))
        .otherwise(F.col("d.t").cast("string")),
    )


_L2_DATA_SCHEMA = (
    "struct<e:string, E:bigint, T:bigint, s:string, ps:string, "
    "U:bigint, u:bigint, pu:bigint, "
    "b:array<array<string>>, a:array<array<string>>>"
)


def _levels(raw_levels: Column, market_type: Column, pair: Column) -> Column:
    cv = contract_value(market_type, pair)
    return F.transform(
        raw_levels,
        lambda lv: order_level(
            market_type, lv.getItem(0).cast("double"), lv.getItem(1).cast("double"), cv
        ),
    )


def parse_l2(df: DataFrame, topk: bool = False) -> DataFrame:
    """depth / depthK messages -> OrderBookMsg rows (binance_all.rs
    parse_l2/parse_l2_topk + the central snapshot sort of lib.rs:148-161)."""
    d = F.from_json(F.get_json_object("msg", "$.data"), _L2_DATA_SCHEMA)
    base = (
        df.transform(parsed_once(d))
        .filter(F.col("d.s").isNotNull())
        .withColumn("pair", normalize_pair(F.col("d.s")))
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk" if topk else "l2_event",
        symbol=F.col("d.s"),
        timestamp=F.col("d.E"),
        snapshot=F.lit(topk),
        asks=_levels(F.col("d.a"), F.col("market_type"), F.col("pair")),
        bids=_levels(F.col("d.b"), F.col("market_type"), F.col("pair")),
        seq_id=F.col("d.u"),
        prev_seq_id=F.when(F.col("d.pu") == -1, F.lit(None).cast("long"))
        .otherwise(F.col("d.pu")),
    )
    return sort_book_sides(out)


def parse_l2_topk(df: DataFrame) -> DataFrame:
    return parse_l2(df, topk=True)


_BBO_DATA_SCHEMA = (
    "struct<E:bigint, u:bigint, s:string, b:string, B:string, a:string, A:string>"
)


def parse_bbo(df: DataFrame) -> DataFrame:
    """bookTicker -> BboMsg (binance_all.rs parse_bbo; spot uses
    received_at since spot bookTicker carries no E)."""
    d = F.from_json(F.get_json_object("msg", "$.data"), _BBO_DATA_SCHEMA)
    base = (
        df.transform(parsed_once(d))
        .filter(F.col("d.s").isNotNull())
        .withColumn("pair", normalize_pair(F.col("d.s")))
        .withColumn("cv", contract_value(F.col("market_type"), F.col("pair")))
    )
    ask_t = quantity_triple(
        F.col("market_type"),
        F.col("d.a").cast("double"),
        F.col("d.A").cast("double"),
        F.col("cv"),
    )
    bid_t = quantity_triple(
        F.col("market_type"),
        F.col("d.b").cast("double"),
        F.col("d.B").cast("double"),
        F.col("cv"),
    )
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        symbol=F.col("d.s"),
        timestamp=F.when(F.col("market_type") == SPOT, F.col("received_at"))
        .otherwise(F.col("d.E")),
        bid_price=F.col("d.b").cast("double"),
        bid_quantity_base=bid_t["quantity_base"],
        bid_quantity_quote=bid_t["quantity_quote"],
        bid_quantity_contract=bid_t["quantity_contract"],
        ask_price=F.col("d.a").cast("double"),
        ask_quantity_base=ask_t["quantity_base"],
        ask_quantity_quote=ask_t["quantity_quote"],
        ask_quantity_contract=ask_t["quantity_contract"],
        id=F.col("d.u"),
    )


_FUNDING_SCHEMA = "struct<e:string, E:bigint, s:string, p:string, r:string, T:bigint>"


def parse_funding_rate(df: DataFrame) -> DataFrame:
    """markPrice / !markPrice@arr -> FundingRateMsg rows with array fan-out
    (binance_all.rs parse_funding_rate). Empty funding rates are dropped.

    json provenance: whole raw message when the message held exactly one
    record (matches the reference byte-for-byte); for fan-out the reference
    re-serializes through a HashMap (nondeterministic key order), so the
    engine stores the element's canonical to_json form instead."""
    stream = _stream(F.col("msg"))
    one = F.from_json(F.get_json_object("msg", "$.data"), _FUNDING_SCHEMA)
    many = F.from_json(
        F.get_json_object("msg", "$.data"), f"array<{_FUNDING_SCHEMA}>"
    )
    base = (
        df.withColumn(
            "items",
            F.when(stream == "!markPrice@arr", many).otherwise(F.array(one)),
        )
        .withColumn("n_items", F.size(F.filter("items", lambda x: x["r"] != "")))
        .select("*", F.explode("items").alias("d"))
        .filter(F.col("d.r") != "")
        .withColumn("pair", normalize_pair(F.col("d.s")))
    )
    return emit(
        base, schemas.FUNDING_RATE_SCHEMA, EXCHANGE, "funding_rate",
        symbol=F.col("d.s"),
        timestamp=F.col("d.E"),
        json=item_json(),
        funding_rate=F.col("d.r").cast("double"),
        funding_time=F.col("d.T"),
    )


_KLINE_SCHEMA = (
    "struct<e:string, E:bigint, s:string, k:struct<t:bigint, T:bigint, s:string, "
    "i:string, o:string, c:string, h:string, l:string, v:string, q:string>>"
)


def parse_candlestick(df: DataFrame) -> DataFrame:
    """kline -> CandlestickMsg (binance_all.rs parse_candlestick; inverse
    markets swap volumes via the contract value)."""
    d = F.from_json(F.get_json_object("msg", "$.data"), _KLINE_SCHEMA)
    base = (
        df.transform(parsed_once(d))
        .filter(F.col("d.k.s").isNotNull())
        .withColumn("pair", normalize_pair(F.col("d.k.s")))
    )
    v = F.col("d.k.v").cast("double")
    q = F.col("d.k.q").cast("double")
    is_inverse = F.col("market_type").isin(*INVERSE)
    cv = contract_value(F.col("market_type"), F.col("pair"))
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        symbol=F.col("d.k.s"),
        timestamp=F.col("d.E"),
        begin_time=(F.col("d.k.t") / 1000).cast("long"),
        open=F.col("d.k.o").cast("double"),
        high=F.col("d.k.h").cast("double"),
        low=F.col("d.k.l").cast("double"),
        close=F.col("d.k.c").cast("double"),
        volume=F.when(is_inverse, q).otherwise(v),
        period=F.col("d.k.i"),
        quote_volume=F.when(is_inverse, v * cv).otherwise(q),
    )


def parse_l2_snapshot(df: DataFrame, symbol_col: str = "routed_symbol") -> DataFrame:
    """REST depth snapshots (binance/mod.rs:174-186, binance_spot.rs:86-127,
    binance_all.rs:256-344). Spot and linear responses carry no symbol — the
    crawl context supplies it via `symbol_col` (the engine's stand-in for
    the reference's Option<&str> parameter); inverse embeds it. Spot also
    carries no timestamp (crawl receive time)."""
    d = F.from_json(
        F.col("msg"),
        "struct<lastUpdateId:bigint, E:bigint, symbol:string,"
        " bids:array<array<string>>, asks:array<array<string>>>",
    )
    base = (
        df.transform(parsed_once(d))
        .filter(F.col("d.lastUpdateId").isNotNull())
        .withColumn(
            "symbol",
            F.coalesce(
                F.col("d.symbol"),
                F.col(symbol_col) if symbol_col in df.columns else F.lit(None),
            ),
        )
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_snapshot",
        timestamp=F.coalesce(F.col("d.E"), F.col("received_at")),
        snapshot=F.lit(True),
        asks=_levels(F.col("d.asks"), F.col("market_type"), F.col("pair")),
        bids=_levels(F.col("d.bids"), F.col("market_type"), F.col("pair")),
        seq_id=F.col("d.lastUpdateId"),
    )
    return sort_book_sides(out)
