"""Bitfinex normalization (spot + linear swaps, v2 tuple frames).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/bitfinex.rs;
  pair + currency-alias rules crypto-pair/src/exchanges/bitfinex.rs
  (strip leading 't', strip F0 futures suffix, alias map extracted to
  parser/data/bitfinex_currency_map.json, uppercase);
  contract value always 1.0 (crypto-contract-value/src/exchanges/
  bitfinex.rs).

Wire format: [header-object, payload] tuples.
  trades: [hdr, "te"|"tu", [id, ts, ±amount, price]] or [hdr, [[...], ...]]
  book:   [hdr, [price, count, ±amount]] or [hdr, [[...], ...]]
          (count==0 deletes the level; amount>0 bid side)
  candles:[hdr{key:"trade:<period>:<sym>"}, [t,o,c,h,l,v]] or 2-D snapshot
L2 events carry no timestamp — the crawl receive time is used
(crypto-msg-parser/src/lib.rs:115-119).
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
    quantity_triple,
    sort_book_sides,
    emit,
    order_level,
)

EXCHANGE = "bitfinex"


def _norm_currency(cur: Column) -> Column:
    """Strip F0, apply the alias map, uppercase
    (crypto-pair/src/exchanges/bitfinex.rs:96-106)."""
    stripped = F.when(
        cur.endswith("F0"), cur.substr(F.lit(1), F.length(cur) - 2)
    ).otherwise(cur)
    aliases = data_json("bitfinex_currency_map.json")
    items: list[Column] = []
    for k, v in aliases.items():
        items += [F.lit(k), F.lit(v)]
    mapped = F.create_map(*items)[stripped]
    return F.upper(F.coalesce(mapped, stripped))


def normalize_pair(symbol: Column) -> Column:
    """tBTCUST -> BTC/USDT; tBTCF0:USTF0 -> BTC/USDT."""
    s = F.when(
        symbol.startswith("t"), symbol.substr(F.lit(2), F.length(symbol))
    ).otherwise(symbol)
    base = F.when(s.contains(":"), F.split(s, ":")[0]).otherwise(
        s.substr(F.lit(1), F.length(s) - 3)
    )
    quote = F.when(s.contains(":"), F.split(s, ":")[1]).otherwise(
        s.substr(F.length(s) - 2, F.lit(3))
    )
    return F.concat(_norm_currency(base), F.lit("/"), _norm_currency(quote))


# ---------------------------------------------------------------- router

def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$[0].channel")


def _hdr_symbol(msg: Column) -> Column:
    return F.get_json_object(msg, "$[0].symbol")


def _candle_key_symbol(key: Column) -> Column:
    """'trade:1m:tBTCF0:USTF0' -> everything after the SECOND ':'."""
    return F.regexp_replace(key, "^trade:[^:]*:", "")


def _candle_key_period(key: Column) -> Column:
    return F.regexp_extract(key, "^trade:([^:]*):", 1)


@sniffer
def extract_symbol(m: Msg) -> Column:
    """bitfinex.rs:13-33."""
    return let(
        lambda hdr: F.when(m.raw == "[]", "NONE")
        .when(hdr.isNotNull(), hdr)
        .when(
            m.get("$[0].channel") == "candles",
            _candle_key_symbol(m.get("$[0].key")),
        )
        .when(~m.raw.rlike('^\\[\\s*\\{'), "NONE"),
        m.get("$[0].symbol"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """bitfinex.rs:35-76: trades te/tu arr[2][1]; snapshots max over [1];
    candles arr[1][0] or max; book/ticker None."""
    snap = m.get("$[1]", "array<array<double>>")
    single = m.get("$[1]", "array<double>")

    def ladder(ch, te_ts):
        return (
            F.when(
                ch == "trades",
                F.when(te_ts.isNotNull(), te_ts).otherwise(
                    F.array_max(
                        F.transform(snap, lambda x: F.get(x, 1).try_cast("long"))
                    )
                ),
            )
            .when(
                ch == "candles",
                F.when(
                    m.has("$[1][0][0]"),
                    F.array_max(
                        F.transform(snap, lambda x: F.get(x, 0).try_cast("long"))
                    ),
                ).otherwise(F.get(single, 0).try_cast("long")),
            )
            .otherwise(F.lit(None).cast("long"))
        )

    return let(ladder, m.get("$[0].channel"), m.get("$[2][1]").try_cast("long"))


@sniffer
def get_msg_type(m: Msg) -> Column:
    """Engine-side sniffer (bitfinex missing from lib.rs get_msg_type):
    channel + book precision (R0 = L3)."""
    return let(
        lambda ch: F.when(ch == "trades", "trade")
        .when((ch == "book") & (m.get("$[0].prec") == "R0"), "l3_event")
        .when(ch == "book", "l2_event")
        .when(ch == "ticker", "ticker")
        .when(ch == "candles", "candlestick")
        .otherwise("other"),
        m.get("$[0].channel"),
    )


# ---------------------------------------------------------------- trades

def parse_trade(df: DataFrame) -> DataFrame:
    """bitfinex.rs:78-141: te/tu single + snapshot fan-out; side from the
    sign of the amount; quantity = |amount|; cv = 1.0."""
    te = F.get_json_object("msg", "$[1]").isin("te", "tu")
    single = F.from_json(F.get_json_object("msg", "$[2]"), "array<double>")
    snap = F.from_json(F.get_json_object("msg", "$[1]"), "array<array<double>>")
    base = (
        df.filter(_channel(F.col("msg")) == "trades")
        .withColumn("symbol", _hdr_symbol(F.col("msg")))
        .filter(F.col("symbol").isNotNull())
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("is_te", te)
        .withColumn(
            "items", F.when(te, F.array(single)).otherwise(snap)
        )
        .withColumn("n_items", F.size("items"))
        .filter(F.col("n_items") > 0)
        .select("*", F.explode("items").alias("d"))
    )
    price = F.col("d").getItem(3)
    amount = F.col("d").getItem(2)
    qty = F.abs(amount)
    q = quantity_triple(F.col("market_type"), price, qty, F.lit(1.0))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=F.col("d").getItem(1).cast("long"),
        json=F.when(F.col("is_te") | (F.col("n_items") == 1), F.col("msg"))
        .otherwise(F.to_json("d")),
        side=F.when(amount < 0, "sell").otherwise("buy"),
        price=price,
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=F.col("d").getItem(0).cast("long").cast("string"),
    )


# ---------------------------------------------------------------- orderbooks

def parse_l2(df: DataFrame) -> DataFrame:
    """bitfinex.rs:143-219: [price, count, ±amount]; count==0 deletes;
    amount>0 -> bid; timestamp = crawl receive time; snapshot iff 2-D."""
    is_2d = F.get_json_object("msg", "$[1][0][0]").isNotNull()
    snap = F.from_json(F.get_json_object("msg", "$[1]"), "array<array<double>>")
    single = F.from_json(F.get_json_object("msg", "$[1]"), "array<double>")
    base = (
        df.filter(
            (_channel(F.col("msg")) == "book")
            & (F.get_json_object("msg", "$[0].prec") != "R0")
        )
        .withColumn("symbol", _hdr_symbol(F.col("msg")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("snapshot", is_2d)
        .withColumn(
            "levels", F.when(is_2d, snap).otherwise(F.array(single))
        )
        .filter(F.size(F.from_json(F.get_json_object("msg", "$[1]"), "array<string>")) > 0)
    )

    def order(lv):
        price = lv.getItem(0)
        count = lv.getItem(1)
        qty = F.when(count.cast("int") == 0, F.lit(0.0)).otherwise(
            F.abs(lv.getItem(2))
        )
        return order_level(F.col("market_type"), price, qty, F.lit(1.0))

    bids_raw = F.filter(F.col("levels"), lambda lv: lv.getItem(2) > 0)
    asks_raw = F.filter(F.col("levels"), lambda lv: ~(lv.getItem(2) > 0))
    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("received_at"),
        asks=F.transform(asks_raw, order),
        bids=F.transform(bids_raw, order),
    )


def parse_l2_snapshot(df: DataFrame, symbol_col: str = "routed_symbol") -> DataFrame:
    """bitfinex.rs:221-280: REST book array [[price, count, amount]];
    requires an external symbol column; ts = crawl receive time."""
    levels = F.from_json(F.col("msg"), "array<array<double>>")
    base = (
        df.filter(F.col("msg").startswith("[["))
        .withColumn("symbol", F.col(symbol_col))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("levels", levels)
    )

    def order(lv):
        price = lv.getItem(0)
        qty = F.abs(lv.getItem(2))
        return order_level(F.col("market_type"), price, qty, F.lit(1.0))

    bids_raw = F.filter(F.col("levels"), lambda lv: lv.getItem(2) > 0)
    asks_raw = F.filter(F.col("levels"), lambda lv: ~(lv.getItem(2) > 0))
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_snapshot",
        timestamp=F.col("received_at"),
        snapshot=F.lit(True),
        asks=F.transform(asks_raw, order),
        bids=F.transform(bids_raw, order),
    )
    return sort_book_sides(out)


# ---------------------------------------------------------------- candles

def parse_candlestick(df: DataFrame) -> DataFrame:
    """bitfinex.rs:282-361: [t,o,c,h,l,v] (note o-c-h-l order!);
    timestamp == begin_time; no quote volume; json left empty by the
    reference — the engine keeps the raw message instead (documented
    deviation: provenance beats byte-parity on a field the reference
    explicitly discards)."""
    is_2d = F.get_json_object("msg", "$[1][0][0]").isNotNull()
    snap = F.from_json(F.get_json_object("msg", "$[1]"), "array<array<double>>")
    single = F.from_json(F.get_json_object("msg", "$[1]"), "array<double>")
    base = (
        df.filter(_channel(F.col("msg")) == "candles")
        .withColumn("symbol", _candle_key_symbol(F.get_json_object("msg", "$[0].key")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("period", _candle_key_period(F.get_json_object("msg", "$[0].key")))
        .withColumn("items", F.when(is_2d, snap).otherwise(F.array(single)))
        .filter(F.size("items") > 0)
        .select("*", F.explode("items").alias("d"))
    )
    ts = F.col("d").getItem(0).cast("long")
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=ts,
        begin_time=ts,
        open=F.col("d").getItem(1),
        high=F.col("d").getItem(3),
        low=F.col("d").getItem(4),
        close=F.col("d").getItem(2),
        volume=F.col("d").getItem(5),
    )
