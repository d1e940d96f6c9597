"""Bitz normalization (spot only; the exchange shut down in 2021).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/bitz.rs;
  pair rule crypto-pair/src/lib.rs:48 ('_' -> '/', uppercased).

Envelope: {msgId, params:{symbol}, action, data, time}. Trade timestamps
come from the ms-precision `id` field (fallback T seconds * 1000);
trade_id IS that timestamp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    sniffer,
    parsed_once,
    explode_with_count,
    emit,
    item_json,
)

EXCHANGE = "bitz"


def normalize_pair(symbol: Column) -> Column:
    return F.when(symbol.contains("_"), F.upper(F.translate(symbol, "_", "/")))


@sniffer
def extract_symbol(m: Msg) -> Column:
    """bitz.rs:52-58."""
    return m.get("$.params.symbol")


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """bitz.rs:60-68: envelope time (as-is)."""
    return m.get("$.time").try_cast("long")


_TRADE = "array<struct<id:string, t:string, T:bigint, p:string, n:string, s:string>>"


def parse_trade(df: DataFrame) -> DataFrame:
    """bitz.rs:70-115: Pushdata.order; ts = id (ms) else T*1000."""
    arr = F.from_json(F.get_json_object("msg", "$.data"), _TRADE)
    base = (
        df.filter(F.get_json_object("msg", "$.action") == "Pushdata.order")
        .withColumn("symbol", F.get_json_object("msg", "$.params.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    price = F.col("d.p").cast("double")
    qty = F.col("d.n").cast("double")
    ts = F.when(
        F.col("d.id").isNotNull() & (F.col("d.id") != ""),
        F.col("d.id").cast("long"),
    ).otherwise(F.col("d.T") * 1000)
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=ts,
        json=item_json(),
        side=F.when(F.col("d.s") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=ts.cast("string"),
    )


_BOOK = (
    "struct<asks:array<array<string>>, bids:array<array<string>>>"
)


def parse_l2(df: DataFrame) -> DataFrame:
    """bitz.rs:117-177: Pushdata.depth; [price, base, quote] levels (the
    quote volume comes pre-computed); ts = envelope time (as-is);
    snapshot=false."""
    base = (
        df.filter(F.get_json_object("msg", "$.action") == "Pushdata.depth")
        .withColumn("symbol", F.get_json_object("msg", "$.params.symbol"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.data"), _BOOK)))
    )

    def order(lv):
        price = lv.getItem(0).cast("double")
        # integer-token levels mean deletion: (0, 0) — bitz.rs:131-139
        qb = F.coalesce(lv.getItem(1).try_cast("double"), F.lit(0.0))
        qq = F.coalesce(lv.getItem(2).try_cast("double"), F.lit(0.0))
        is_del = lv.getItem(1).rlike("^[0-9]+$")
        return F.struct(
            price.alias("price"),
            F.when(is_del, 0.0).otherwise(qb).alias("quantity_base"),
            F.when(is_del, 0.0).otherwise(qq).alias("quantity_quote"),
            F.lit(None).cast("double").alias("quantity_contract"),
        )

    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.get_json_object("msg", "$.time").cast("long"),
        snapshot=F.lit(False),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )
