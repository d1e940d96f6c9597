"""dYdX (v3, linear swaps only) normalization.

Behavioral reference (reimplemented, not translated):
  crypto-msg-parser/src/exchanges/dydx/{mod.rs, dydx_swap.rs};
  pair rule crypto-pair/src/exchanges/dydx.rs:1-7 ('-' -> '/');
  contract value always 1 (crypto-contract-value/src/lib.rs:21).

Notable reference semantics kept: trade timestamps come from RFC3339
createdAt strings; the trade_id IS that timestamp (dydx_swap.rs:132);
l2 events take the crawl receive time (lib.rs:132-136)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    sniffer,
    sort_book_sides,
    explode_with_count,
    emit,
    item_json,
)

EXCHANGE = "dydx"

_RFC3339 = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def normalize_pair(symbol: Column) -> Column:
    return F.when(symbol.contains("-"), F.translate(symbol, "-", "/"))


def _rfc3339_ms(col: Column) -> Column:
    t = F.to_timestamp(col)
    return (
        F.unix_timestamp(t) * 1000
        + F.floor(F.date_format(t, "SSSSSS").cast("long") / 1000)
    ).cast("long")


@sniffer
def get_msg_type(m: Msg) -> Column:
    return let(
        lambda ch: F.when(ch == "v3_trades", "trade")
        .when(ch == "v3_orderbook", "l2_event")
        .otherwise("other"),
        m.get("$.channel"),
    )


@sniffer
def extract_symbol(m: Msg) -> Column:
    return let(
        lambda ws: F.when(ws.isNotNull(), ws)
        .when(m.raw.startswith('{"markets":'), "ALL")
        .when(m.has("$.asks") & m.has("$.bids"), "NONE"),
        m.get("$.id"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    trades = m.rows("$.contents.trades", "struct<createdAt:string>")
    return F.when(
        m.get("$.channel") == "v3_trades",
        F.array_max(F.transform(trades, lambda x: _rfc3339_ms(x["createdAt"]))),
    ).otherwise(F.lit(None).cast("long"))


_TRADE_ELEM = "struct<size:string, side:string, price:string, createdAt:string>"


def parse_trade(df: DataFrame) -> DataFrame:
    arr = F.from_json(
        F.get_json_object("msg", "$.contents.trades"), f"array<{_TRADE_ELEM}>"
    )
    base = (
        df.filter(F.get_json_object("msg", "$.channel") == "v3_trades")
        .withColumn("symbol", F.get_json_object("msg", "$.id"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    price = F.col("d.price").cast("double")
    size = F.col("d.size").cast("double")
    ts = _rfc3339_ms(F.col("d.createdAt"))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=ts,
        json=item_json(),
        side=F.when(F.col("d.side") == "SELL", "sell").otherwise("buy"),
        price=price,
        quantity_base=size,
        quantity_quote=price * size,
        quantity_contract=size,
        trade_id=ts.cast("string"),  # dydx_swap.rs:132
    )


_SNAP = (
    "struct<asks:array<struct<size:string, price:string>>, "
    "bids:array<struct<size:string, price:string>>>"
)
_UPD = "struct<asks:array<array<string>>, bids:array<array<string>>>"


def parse_l2(df: DataFrame) -> DataFrame:
    """v3_orderbook: 'subscribed' = snapshot with {size,price} objects;
    updates use [price, size] string pairs. Timestamp = received_at
    (dydx embeds none)."""
    snap = F.from_json(F.get_json_object("msg", "$.contents"), _SNAP)
    upd = F.from_json(F.get_json_object("msg", "$.contents"), _UPD)
    base = (
        df.filter(F.get_json_object("msg", "$.channel") == "v3_orderbook")
        .withColumn("symbol", F.get_json_object("msg", "$.id"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn(
            "snapshot", F.get_json_object("msg", "$.type") == "subscribed"
        )
    )

    def snap_order(lv):
        price = lv["price"].cast("double")
        size = lv["size"].cast("double")
        return F.struct(
            price.alias("price"),
            size.alias("quantity_base"),
            (price * size).alias("quantity_quote"),
            size.alias("quantity_contract"),
        )

    def upd_order(lv):
        price = lv.getItem(0).cast("double")
        size = lv.getItem(1).cast("double")
        return F.struct(
            price.alias("price"),
            size.alias("quantity_base"),
            (price * size).alias("quantity_quote"),
            size.alias("quantity_contract"),
        )

    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("received_at"),
        asks=F.when(
            F.col("snapshot"),
            F.transform(F.coalesce(snap["asks"], F.array()), snap_order),
        )
        .otherwise(F.transform(F.coalesce(upd["asks"], F.array()), upd_order)),
        bids=F.when(
            F.col("snapshot"),
            F.transform(F.coalesce(snap["bids"], F.array()), snap_order),
        )
        .otherwise(F.transform(F.coalesce(upd["bids"], F.array()), upd_order)),
    )
    return sort_book_sides(out)
