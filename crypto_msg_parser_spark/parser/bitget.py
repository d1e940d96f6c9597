"""Bitget normalization — v3 "mix" format (post-2022-04-29, `arg` envelope)
and the legacy v1 format (`table` envelope), plus REST l2 snapshots.

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/bitget/{mod.rs, bitget_mix.rs,
  before20220429/{mod.rs, bitget_swap.rs}};
  pair rules crypto-pair/src/exchanges/bitget.rs:3-45;
  contract values crypto-contract-value/src/exchanges/bitget.rs
  (inverse closed-form 1.0 :76; linear via parser/data/
  bitget_contract_values.json — only used by the LEGACY format; the mix
  format reports sizes already in base units, bitget_mix.rs:143-160).

Format dispatch (mod.rs:24-28): `table` key = legacy, `arg` key = mix,
`code` key = REST response.
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
    SPOT,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "bitget"


def normalize_pair(symbol: Column) -> Column:
    """crypto-pair/src/exchanges/bitget.rs:3-45 — v3 (`_SPBL`/`_UMCBL`/
    `_CMCBL`/`_DMCBL` suffixes) and legacy v1 (cmt_/lowercase) families."""
    v3 = (
        symbol.endswith("_SPBL")
        | symbol.contains("_UMCBL")
        | symbol.contains("_CMCBL")
        | symbol.contains("_DMCBL")
    )
    prefix = F.split(symbol, "_")[0]
    quote = F.regexp_extract(prefix, "(USDT|USD|ETH|BTC)$", 1)
    base = prefix.substr(F.lit(1), F.length(prefix) - F.length(quote))
    v1_cmt = F.upper(
        F.concat(
            symbol.substr(F.lit(5), F.length(symbol) - 8), F.lit("/USDT")
        )
    )
    return (
        F.when(symbol == "SBTCSUSDT_SPBL", "SBTC/SUSDT")
        .when(
            v3 & symbol.endswith("PERP_CMCBL"),
            F.concat(F.regexp_replace(symbol, "PERP_CMCBL$", ""), F.lit("/USDC")),
        )
        .when(v3 & (quote != ""), F.concat(base, F.lit("/"), quote))
        .when(symbol.startswith("cmt_"), v1_cmt)
        .when(symbol.contains("_"), F.upper(F.translate(symbol, "_", "/")))
        .when(
            symbol.endswith("usd"),
            F.upper(
                F.concat(
                    F.regexp_replace(symbol, "usd$", ""), F.lit("/usd")
                )
            ),
        )
    )


def _cv_dict(spark):
    d = data_json("bitget_contract_values.json")["linear_swap"]
    return local_table(spark, list(d.items()), "cv_pair string, cv double")


def with_contract_value(df: DataFrame, pair_col: str = "pair") -> DataFrame:
    """Legacy-format quantity math only (bitget.rs:74-80): inverse 1.0,
    linear from a broadcast join on the contract-value table, a
    LocalRelation."""
    joined = df.join(
        F.broadcast(_cv_dict(df.sparkSession)),
        F.col(pair_col) == F.col("cv_pair"),
        "left",
    ).drop("cv_pair")
    return joined.withColumn(
        "cv",
        F.when(F.col("market_type") == "inverse_swap", 1.0).otherwise(F.col("cv")),
    )


# ---------------------------------------------------------------- router

def _fmt(msg: Column) -> Column:
    """'mix' | 'legacy' | 'rest' (mod.rs:24-28 key probing)."""
    return _fmt_of(lambda path: F.get_json_object(msg, path).isNotNull())


def _fmt_of(has) -> Column:
    """``_fmt`` over ``has(path)``, a key-presence probe."""
    return (
        F.when(has("$.table"), "legacy")
        .when(has("$.arg"), "mix")
        .when(has("$.code"), "rest")
        .otherwise("unknown")
    )


@sniffer
def get_msg_type(m: Msg) -> Column:
    """mod.rs:71-95 + before20220429/bitget_swap.rs:97-122."""

    def ladder(fmt, has_data, table, arg_ch):
        table_ch = F.get(F.split(table, "/"), 1)
        return (
            F.when(
                has_data & (fmt == "legacy"),
                F.when(table_ch == "trade", "trade")
                .when(table_ch == "depth", "l2_event")
                .when(table_ch == "depth5", "l2_topk")
                .when(table_ch == "ticker", "ticker")
                .when(table_ch.startswith("candle"), "candlestick")
                .when(table_ch == "funding_rate", "funding_rate")
                .otherwise("other"),
            )
            .when(
                has_data & (fmt == "mix"),
                F.when(arg_ch == "trade", "trade")
                .when(arg_ch == "books", "l2_event")
                .when(arg_ch.isin("books5", "books15"), "l2_topk")
                .when(arg_ch == "ticker", "ticker")
                .when(arg_ch.startswith("candle"), "candlestick")
                .otherwise("other"),
            )
            .otherwise("l2_snapshot")
        )

    return let(
        ladder,
        _fmt_of(m.has),
        m.has("$.data"),
        m.get("$.table"),
        m.get("$.arg.channel"),
    )


def _mix_symbol(msg: Column) -> Column:
    """bitget_mix.rs:77-93: sp -> {instId}_SPBL; mc -> _UMCBL/_DMCBL."""
    return _mix_symbol_of(lambda path: F.get_json_object(msg, path))


def _mix_symbol_of(get) -> Column:
    """``_mix_symbol`` over ``get(path)``, a string read."""
    inst_type = get("$.arg.instType")
    inst_id = get("$.arg.instId")
    return F.when(inst_type == "sp", F.concat(inst_id, F.lit("_SPBL"))).when(
        inst_type == "mc",
        F.when(
            inst_id.endswith("USDT"), F.concat(inst_id, F.lit("_UMCBL"))
        ).otherwise(F.concat(inst_id, F.lit("_DMCBL"))),
    )


@sniffer
def extract_symbol(m: Msg) -> Column:
    """mod.rs:19-40."""
    legacy = F.coalesce(
        m.get("$.data[0].instrument_id"), m.get("$.data.instrument_id")
    )
    return let(
        lambda fmt: F.when(fmt == "legacy", legacy)
        .when(fmt == "mix", _mix_symbol_of(m.get))
        .when(fmt == "rest", F.coalesce(m.get("$.data.symbol"), F.lit("NONE"))),
        _fmt_of(m.has),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """mod.rs:42-68 + bitget_mix.rs:95-122 (max over data[] of elem[0] |
    ts | systemTime) + bitget_swap.rs:74-96 (candle[0] | max timestamp)."""
    arrs = m.get("$.data", "array<array<string>>")
    objs = m.rows("$.data", "struct<ts:string, systemTime:string, timestamp:string>")
    mix_ts = F.when(
        m.has("$.data[0][0]"),
        F.array_max(F.transform(arrs, lambda x: F.get(x, 0).try_cast("long"))),
    ).otherwise(
        F.array_max(
            F.transform(
                objs,
                lambda x: F.coalesce(x["ts"], x["systemTime"]).try_cast("long"),
            )
        )
    )
    legacy_ts = F.when(
        m.get("$.table").startswith("swap/candle"),
        m.get("$.data.candle[0]").try_cast("long"),
    ).otherwise(
        F.array_max(F.transform(objs, lambda x: x["timestamp"].try_cast("long")))
    )
    return let(
        lambda fmt: F.when(fmt == "legacy", legacy_ts)
        .when(fmt == "mix", mix_ts)
        .when(fmt == "rest", m.get("$.data.timestamp").try_cast("long")),
        _fmt_of(m.has),
    )


# ---------------------------------------------------------------- trades

_LEGACY_TRADE = (
    "array<struct<instrument_id:string, price:string, side:string,"
    " size:string, timestamp:string>>"
)


def parse_trade(df: DataFrame) -> DataFrame:
    return _parse_trade_mix(df).unionByName(_parse_trade_legacy(df))


def _parse_trade_mix(df: DataFrame) -> DataFrame:
    """bitget_mix.rs:128-170: data = [[ts, price, size, side]]; sizes are
    already base quantities; trade_id = timestamp (no real ids)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), "array<array<string>>")
    base = (
        df.filter(
            (_fmt(F.col("msg")) == "mix")
            & (F.get_json_object("msg", "$.arg.channel") == "trade")
        )
        .withColumn("symbol", _mix_symbol(F.col("msg")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    ts = F.col("d")[0].cast("long")
    price = F.col("d")[1].cast("double")
    qty = F.col("d")[2].cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=ts,
        json=item_json(),
        side=F.when(F.col("d")[3] == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=qty * price,
        quantity_contract=F.when(
            F.col("market_type") == SPOT, F.lit(None).cast("double")
        ).otherwise(qty),
        trade_id=ts.cast("string"),
    )


def _parse_trade_legacy(df: DataFrame) -> DataFrame:
    """before20220429/bitget_swap.rs:124-182: objects with instrument_id;
    quantities via calc_quantity_and_volume with the legacy cv dict."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), _LEGACY_TRADE)
    base = (
        df.filter(
            (_fmt(F.col("msg")) == "legacy")
            & (F.get_json_object("msg", "$.table") == "swap/trade")
        )
        .transform(explode_with_count(arr))
        .withColumn("symbol", F.col("d.instrument_id"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    price = F.col("d.price").cast("double")
    qty = F.col("d.size").cast("double")
    q = quantity_triple(F.col("market_type"), price, qty, F.col("cv"))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.col("d.timestamp").cast("long"),
        json=item_json(),
        side=F.when(F.col("d.side") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=F.col("d.timestamp"),
    )


# ---------------------------------------------------------------- orderbooks

_MIX_BOOK = (
    "array<struct<ts:string, asks:array<array<string>>,"
    " bids:array<array<string>>>>"
)
_LEGACY_BOOK = (
    "array<struct<instrument_id:string, timestamp:string,"
    " asks:array<array<string>>, bids:array<array<string>>>>"
)


def _parse_l2_core(df: DataFrame) -> DataFrame:
    mix = _parse_l2_mix(df)
    legacy = _parse_l2_legacy(df)
    return mix.unionByName(legacy)


def parse_l2(df: DataFrame) -> DataFrame:
    return _parse_l2_core(df)


def parse_l2_topk(df: DataFrame) -> DataFrame:
    """mod.rs:146-159: parse_l2 then force snapshot=true, msg_type=l2_topk."""
    out = _parse_l2_core(df)
    return out.withColumn("snapshot", F.lit(True)).withColumn(
        "msg_type", F.lit("l2_topk")
    )


def _parse_l2_mix(df: DataFrame) -> DataFrame:
    """bitget_mix.rs:175-214: [price, qty] strings; snapshot iff
    action=='snapshot'; per-element json on fan-out."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), _MIX_BOOK)
    base = (
        df.filter(
            (_fmt(F.col("msg")) == "mix")
            & F.get_json_object("msg", "$.arg.channel").startswith("books")
        )
        .withColumn("symbol", _mix_symbol(F.col("msg")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn(
            "snapshot", F.get_json_object("msg", "$.action") == "snapshot"
        )
        .transform(explode_with_count(arr))
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return F.struct(
            price.alias("price"),
            qty.alias("quantity_base"),
            (qty * price).alias("quantity_quote"),
            F.when(
                F.col("market_type") == SPOT, F.lit(None).cast("double")
            )
            .otherwise(qty)
            .alias("quantity_contract"),
        )

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("d.ts").cast("long"),
        json=item_json(),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


def _parse_l2_legacy(df: DataFrame) -> DataFrame:
    """bitget_swap.rs:209-267: snapshot = action=='partial' or numeric-
    suffixed depth table; depth5 -> l2_topk; cv quantity math."""
    table = F.get_json_object("msg", "$.table")
    action = F.get_json_object("msg", "$.action")
    topk = table.rlike("^swap/depth[0-9]+$")
    arr = F.from_json(F.get_json_object("msg", "$.data"), _LEGACY_BOOK)
    base = (
        df.filter(
            (_fmt(F.col("msg")) == "legacy") & table.startswith("swap/depth")
        )
        .withColumn(
            "snapshot",
            F.when(action.isNotNull(), action == "partial").otherwise(topk),
        )
        .withColumn("mt_out", F.when(topk, "l2_topk").otherwise("l2_event"))
        .select("*", F.explode(arr).alias("d"))
        .withColumn("symbol", F.col("d.instrument_id"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, F.col("mt_out"),
        timestamp=F.col("d.timestamp").cast("long"),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)


# ---------------------------------------------------------------- funding

_FUNDING = (
    "array<struct<funding_rate:string, funding_time:string,"
    " instrument_id:string>>"
)


def parse_funding_rate(df: DataFrame) -> DataFrame:
    """bitget_swap.rs:176-207 (legacy only; mix unimplemented in the
    reference, mod.rs:161-173). Timestamp = crawl receive time (the
    reference stamps Utc::now)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), _FUNDING)
    base = (
        df.filter(
            (_fmt(F.col("msg")) == "legacy")
            & (F.get_json_object("msg", "$.table") == "swap/funding_rate")
        )
        .transform(explode_with_count(arr))
        .withColumn("symbol", F.col("d.instrument_id"))
    )
    return emit(
        base, schemas.FUNDING_RATE_SCHEMA, EXCHANGE, "funding_rate",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.col("received_at"),
        json=item_json(),
        funding_rate=F.col("d.funding_rate").cast("double"),
        funding_time=F.col("d.funding_time").cast("long"),
    )


# ---------------------------------------------------------------- candles

def _period_ms(period: Column) -> Column:
    """bitget candle period -> ms; 's'/'m'/'d' suffixes only — 'h'/'H'
    intentionally falls through to 0 exactly like the reference
    (bitget_mix.rs:268-273, bitget_swap.rs:271-277)."""
    num = F.regexp_extract(period, "^([0-9]+)", 1).cast("long")
    return (
        F.when(period.endswith("s"), num * 1000)
        .when(period.endswith("m"), num * 60000)
        .when(period.endswith("d"), num * 86400000)
        .otherwise(F.lit(0))
    )


def parse_candlestick(df: DataFrame) -> DataFrame:
    return _parse_candle_mix(df).unionByName(_parse_candle_legacy(df))


def _parse_candle_mix(df: DataFrame) -> DataFrame:
    """bitget_mix.rs:262-311: data=[[ts,o,h,l,c,vol]]; begin_time =
    ts - period_ms (in MILLISECONDS, the reference's own unit choice)."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), "array<array<string>>")
    channel = F.get_json_object("msg", "$.arg.channel")
    base = (
        df.filter((_fmt(F.col("msg")) == "mix") & channel.startswith("candle"))
        .withColumn("period", F.expr("substring(get_json_object(msg, '$.arg.channel'), 7)"))
        .withColumn("symbol", _mix_symbol(F.col("msg")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    ts = F.col("d")[0].cast("long")
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=ts,
        json=item_json(),
        begin_time=ts - _period_ms(F.col("period")),
        open=F.col("d")[1].cast("double"),
        high=F.col("d")[2].cast("double"),
        low=F.col("d")[3].cast("double"),
        close=F.col("d")[4].cast("double"),
        volume=F.col("d")[5].cast("double"),
    )


def _parse_candle_legacy(df: DataFrame) -> DataFrame:
    """bitget_swap.rs:269-331: data.candle = [ts,o,h,l,c,x,y]; inverse:
    volume=candle[6], quote=candle[5]; linear: volume=candle[5]*cv,
    quote=candle[6]."""
    table = F.get_json_object("msg", "$.table")
    candle = F.from_json(
        F.get_json_object("msg", "$.data.candle"), "array<string>"
    )
    base = (
        df.filter(
            (_fmt(F.col("msg")) == "legacy") & table.startswith("swap/candle")
        )
        .withColumn("period", F.expr("substring(get_json_object(msg, '$.table'), 12)"))
        .withColumn("symbol", F.get_json_object("msg", "$.data.instrument_id"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(candle))
    )
    base = with_contract_value(base)
    ts = F.col("d")[0].cast("long")
    is_inverse = F.col("market_type") == "inverse_swap"
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=ts,
        begin_time=ts - _period_ms(F.col("period")),
        open=F.col("d")[1].cast("double"),
        high=F.col("d")[2].cast("double"),
        low=F.col("d")[3].cast("double"),
        close=F.col("d")[4].cast("double"),
        volume=F.when(is_inverse, F.col("d")[6].cast("double"))
        .otherwise(F.col("d")[5].cast("double") * F.col("cv")),
        quote_volume=F.when(is_inverse, F.col("d")[5].cast("double"))
        .otherwise(F.col("d")[6].cast("double")),
    )


def parse_l2_snapshot(df: DataFrame, symbol_col: str = "routed_symbol") -> DataFrame:
    """REST depth snapshot (bitget_mix.rs:216-260): RestMsg with
    data.{asks,bids,timestamp}; symbol supplied by the crawl context;
    quantities via calc_quantity_and_volume with the legacy cv dict."""
    d = F.from_json(
        F.get_json_object("msg", "$.data"),
        "struct<timestamp:string, asks:array<array<string>>,"
        " bids:array<array<string>>>",
    )
    base = (
        df.filter(F.get_json_object("msg", "$.code") == "00000")
        .transform(parsed_once(d))
        .filter(F.col("d.timestamp").isNotNull())
        .withColumn(
            "symbol",
            F.col(symbol_col) if symbol_col in df.columns else F.lit(None).cast("string"),
        )
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)

    def order(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return order_level(F.col("market_type"), price, qty, F.col("cv"))

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_snapshot",
        timestamp=F.col("d.timestamp").cast("long"),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
    return sort_book_sides(out)
