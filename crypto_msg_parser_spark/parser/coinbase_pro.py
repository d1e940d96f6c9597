"""Coinbase Pro normalization (spot only).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/coinbase_pro.rs;
  pair rule crypto-pair/src/lib.rs:51 ('-' -> '/').

Messages are flat objects keyed by `type`: match/last_match trades,
snapshot/l2update books. RFC3339 timestamps; level2 snapshots carry none
(crawl receive time is used, lib.rs:130).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    emit,
    let,
    sniffer,
    sort_book_sides,
    spot_level,
)

EXCHANGE = "coinbase_pro"


def normalize_pair(symbol: Column) -> Column:
    return F.when(symbol.contains("-"), F.translate(symbol, "-", "/"))


def _rfc3339_ms(col: Column, to_timestamp=F.to_timestamp) -> Column:
    return (to_timestamp(col).cast("double") * 1000).cast("long")


def _type(msg: Column) -> Column:
    return F.get_json_object(msg, "$.type")


@sniffer
def get_msg_type(m: Msg) -> Column:
    """Engine-side sniffer (coinbase_pro absent from lib.rs get_msg_type)."""
    return let(
        lambda t: F.when(t.isin("match", "last_match"), "trade")
        .when(t.isin("snapshot", "l2update"), "l2_event")
        .when(t.isin("received", "open", "done", "change"), "l3_event")
        .when(t == "ticker", "ticker")
        .otherwise("other"),
        m.get("$.type"),
    )


@sniffer
def extract_symbol(m: Msg) -> Column:
    """coinbase_pro.rs:56-66."""
    return let(
        lambda pid: F.when(pid.isNotNull(), pid).when(
            m.has("$.asks") & m.has("$.bids"), "NONE"
        ),
        m.get("$.product_id"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """coinbase_pro.rs:68-94: RFC3339 `time` (zero-date sentinel -> NULL);
    snapshots carry none."""
    return let(
        lambda t, time: F.when(
            t.isNotNull(),
            F.when(t == "snapshot", F.lit(None).cast("long")).when(
                time.isNotNull() & ~time.startswith("0001-01-01T00:00:00"),
                _rfc3339_ms(time, F.try_to_timestamp),
            ),
        ).otherwise(F.lit(None).cast("long")),
        m.get("$.type"),
        m.get("$.time"),
    )


def parse_trade(df: DataFrame) -> DataFrame:
    """coinbase_pro.rs:96-130."""
    base = df.filter(_type(F.col("msg")).isin("match", "last_match")).withColumn(
        "symbol", F.get_json_object("msg", "$.product_id")
    )
    price = F.get_json_object("msg", "$.price").cast("double")
    qty = F.get_json_object("msg", "$.size").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        pair=normalize_pair(F.col("symbol")),
        timestamp=_rfc3339_ms(F.get_json_object("msg", "$.time")),
        side=F.when(F.get_json_object("msg", "$.side") == "sell", "sell")
        .otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.get_json_object("msg", "$.trade_id"),
    )


def parse_l2(df: DataFrame) -> DataFrame:
    """coinbase_pro.rs:146-216: snapshot ([p,q] + crawl receive time) and
    l2update (changes [side, p, q] + RFC3339 time)."""
    t = _type(F.col("msg"))
    snap_book = F.from_json(
        F.get_json_object("msg", "$.asks"), "array<array<string>>"
    )
    snap_bids = F.from_json(
        F.get_json_object("msg", "$.bids"), "array<array<string>>"
    )
    changes = F.from_json(
        F.get_json_object("msg", "$.changes"), "array<array<string>>"
    )

    def order2(lv):
        price = lv.getItem(0).cast("double")
        qty = lv.getItem(1).cast("double")
        return spot_level(price, qty)

    def order3(lv):
        price = lv.getItem(1).cast("double")
        qty = lv.getItem(2).cast("double")
        return spot_level(price, qty)

    base = df.filter(t.isin("snapshot", "l2update")).withColumn(
        "symbol", F.get_json_object("msg", "$.product_id")
    ).withColumn("snapshot", t == "snapshot")
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.when(F.col("snapshot"), F.col("received_at"))
        .otherwise(_rfc3339_ms(F.get_json_object("msg", "$.time"))),
        asks=F.when(
            F.col("snapshot"), F.transform(F.coalesce(snap_book, F.array()), order2)
        ).otherwise(
            F.transform(
                F.filter(changes, lambda x: x.getItem(0) == "sell"), order3
            )
        ),
        bids=F.when(
            F.col("snapshot"), F.transform(F.coalesce(snap_bids, F.array()), order2)
        ).otherwise(
            F.transform(
                F.filter(changes, lambda x: x.getItem(0) == "buy"), order3
            )
        ),
    )
    return sort_book_sides(out)
