"""ZBG normalization (spot tuple frames + futures channels).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/zbg/{mod.rs, zbg_spot.rs, zbg_swap.rs};
  pair rule crypto-pair/src/exchanges/zbg.rs:3-10 (_USD-R -> BASE/USD,
  else '_'->'/' upper); numeric-id symbol maps extracted to
  parser/data/zbg_symbols.json (zbg_spot.rs:16+, zbg_swap.rs:15-49).

Spot wire format is positional tuples:
  trade   ["T", id, ts_s, SYMBOL, ask|bid, price, qty]  (or [[...], ...])
  l2 snap [["AE", id, SYMBOL, ts_s, {asks:[[p,q]]}, {bids:[[p,q]]}]]
  l2 upd  ["E", id, ts_s, SYMBOL, BID|ASK, price, qty]
  kline   ["K", id, symbol, ts_s, o,h,l,c, vol, _, _, period, _, quote]
Swap frames: [channel, {contractId, ...}] with µs timestamps.
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
    sort_book_sides,
    parsed_once,
    emit,
    spot_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "zbg"


def normalize_pair(symbol: Column) -> Column:
    return F.when(
        symbol.endswith("_USD-R"),
        F.concat(F.regexp_replace(symbol, "_USD-R$", ""), F.lit("/USD")),
    ).otherwise(F.upper(F.translate(symbol, "_", "/")))


def _swap_map(spark):
    d = data_json("zbg_symbols.json")["swap_contracts"]
    rows = [(int(k), *v) for k, v in d.items()]
    return local_table(
        spark, rows, "contract_id bigint, swap_symbol string, contract_unit double"
    )


def _with_swap_contract(df: DataFrame, id_col) -> DataFrame:
    swap = _swap_map(df.sparkSession)
    return df.withColumn("cid", id_col.cast("long")).join(
        F.broadcast(swap), F.col("cid") == F.col("contract_id"), "left"
    ).drop("contract_id")


# Unix s/ms/µs -> ms (crypto-msg-parser/src/exchanges/utils.rs:60-86)
def _ts_to_ms(ts: Column) -> Column:
    return (
        F.when(ts <= 9999999999, ts * 1000)
        .when(ts <= 9999999999999, ts)
        .otherwise(F.floor(ts / 1000).cast("long"))
    )


# ---------------------------------------------------------------- router

def _head(msg: Column) -> Column:
    """First element of a tuple frame ('T'/'E'/'K'/'AE'/future_*)."""
    return _head_of(lambda path: F.get_json_object(msg, path))


def _head_of(get) -> Column:
    """``_head`` over ``get(path)``, a string read."""
    return F.coalesce(get("$[0][0]"), get("$[0]"))


def _id_map_literal(kind: str) -> Column:
    """Numeric-id -> symbol dictionary as a map literal (evaluated inside
    whole-stage codegen; no join needed for the routing triple)."""
    d = data_json("zbg_symbols.json")
    items: list[Column] = []
    if kind == "spot":
        for k, v in d["spot_symbols"].items():
            items += [F.lit(k), F.lit(v)]
    else:
        for k, v in d["swap_contracts"].items():
            items += [F.lit(k), F.lit(v[0])]
    return F.create_map(*items)


@sniffer
def extract_symbol(m: Msg) -> Column:
    """zbg_spot.rs extract_symbol + zbg_swap.rs:150-172 (contractId map)."""
    rest = m.raw.contains("datas") & m.raw.contains("resMsg")
    stat = m.get("$.trade_statistic", "array<array<string>>")
    spot_sym = let(
        lambda head: F.when(
            head.isin("T", "E"), F.coalesce(m.get("$[0][3]"), m.get("$[3]"))
        ).when(
            head.isin("K", "AE"), F.coalesce(m.get("$[0][2]"), m.get("$[2]"))
        ),
        _head_of(m.get),
    )
    cid = m.get("$[1].contractId")
    return (
        F.when(m.raw == "[]", "NONE")
        .when(
            rest,
            F.coalesce(m.get("$.symbol"), m.get("$.datas.sb"), F.lit("NONE")),
        )
        .when(
            m.raw.startswith('{"trade_statistic":[['),
            F.when(F.size(stat) > 1, "ALL").otherwise(
                _id_map_literal("spot")[stat[0][0]]
            ),
        )
        .when(cid.isNotNull(), _id_map_literal("swap")[cid])
        .otherwise(F.lower(spot_sym))
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """zbg_spot.rs extract_timestamp + zbg_swap.rs:174-207."""
    rest = m.raw.contains("datas") & m.raw.contains("resMsg")

    # spot: max over frames of position 2 (T/E) or 3 (K/AE), seconds
    def frame_ts(v):
        fr = Msg(m.raw, v)
        t = fr.get("$[0]")
        pos2 = fr.get("$[2]").try_cast("long")
        pos3 = fr.get("$[3]").try_cast("long")
        return F.when(t.isin("T", "E"), pos2).when(t.isin("K", "AE"), pos3)

    spot_frames = F.when(
        m.raw.startswith("[["), m.get("$", "array<variant>")
    ).otherwise(F.array(m.v))
    spot_ts = F.array_max(
        F.transform(spot_frames, lambda fr: _ts_to_ms(frame_ts(fr)))
    )
    lines = m.get("$[1].lines", "array<array<string>>")

    def ladder(head):
        return (
            F.when(
                rest,
                _ts_to_ms(
                    F.coalesce(
                        m.get("$.datas.timestamp").try_cast("long"),
                        m.get("$.datas.te").try_cast("long"),
                    )
                ),
            )
            .when(m.raw.startswith('{"trade_statistic":'), F.lit(None).cast("long"))
            .when(
                head == "future_tick",
                _ts_to_ms(m.get("$[1].trades[0]").try_cast("long")),
            )
            .when(
                head == "future_kline",
                F.array_max(
                    F.transform(lines, lambda x: _ts_to_ms(x[0].try_cast("long")))
                ),
            )
            .when(
                head == "future_snapshot_depth",
                _ts_to_ms(m.get("$[1].time").try_cast("long")),
            )
            .when(
                head == "future_snapshot_indicator",
                _ts_to_ms(m.get("$[1].te").try_cast("long")),
            )
            .otherwise(spot_ts)
        )

    return let(ladder, _head_of(m.get))


# ---------------------------------------------------------------- trades

def parse_trade(df: DataFrame) -> DataFrame:
    from crypto_msg_parser_spark.parser.common import SPOT

    return _parse_trade_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_trade_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_trade_spot(df: DataFrame) -> DataFrame:
    """zbg_spot.rs parse_trade: positional tuples, ts seconds -> ms,
    trade_id = timestamp."""
    frames = F.when(
        F.col("msg").startswith('[["T"'), F.from_json("msg", "array<string>")
    ).when(F.col("msg").startswith('["T"'), F.array("msg"))
    base = (
        df.withColumn("frames", frames)
        .filter(F.col("frames").isNotNull())
        .withColumn("n_items", F.size("frames"))
        .select("*", F.explode("frames").alias("d"))
        .withColumn("arr", F.from_json("d", "array<string>"))
    )
    ts = (F.col("arr")[2].cast("long") * 1000).cast("long")
    price = F.col("arr")[5].cast("double")
    qty = F.col("arr")[6].cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.lower(F.col("arr")[3]),
        pair=normalize_pair(F.col("arr")[3]),
        timestamp=ts,
        json=F.when(F.col("n_items") == 1, F.col("msg")).otherwise(F.col("d")),
        side=F.when(F.col("arr")[4] == "ask", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=ts.cast("string"),
    )


def _parse_trade_swap(df: DataFrame) -> DataFrame:
    """zbg_swap.rs:232-274: future_tick; trades=[ts_us, price, size, dir];
    inverse (vol=size*unit; base=vol/p) / linear (qty=size*unit)."""
    base = df.filter(_head(F.col("msg")) == "future_tick")
    base = _with_swap_contract(base, F.get_json_object("msg", "$[1].contractId"))
    ts_us = F.get_json_object("msg", "$[1].trades[0]").cast("long")
    price = F.get_json_object("msg", "$[1].trades[1]").cast("double")
    size = F.get_json_object("msg", "$[1].trades[2]").cast("double")
    direction = F.get_json_object("msg", "$[1].trades[3]").cast("long")
    unit = F.col("contract_unit")
    is_inverse = F.col("market_type") == "inverse_swap"
    qb = F.when(is_inverse, size * unit / price).otherwise(size * unit)
    qq = F.when(is_inverse, size * unit).otherwise(size * unit * price)
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.col("swap_symbol"),
        pair=normalize_pair(F.col("swap_symbol")),
        timestamp=F.floor(ts_us / 1000).cast("long"),
        side=F.when(direction == -1, "sell").otherwise("buy"),
        price=price,
        quantity_base=qb,
        quantity_quote=qq,
        quantity_contract=size,
        trade_id=ts_us.cast("string"),
    )


# ---------------------------------------------------------------- orderbooks

def parse_l2(df: DataFrame) -> DataFrame:
    from crypto_msg_parser_spark.parser.common import SPOT

    spot = df.filter(F.col("market_type") == SPOT)
    parts = [
        _parse_l2_spot_snapshot(spot),
        _parse_l2_spot_update(spot),
        _parse_l2_swap(df.filter(F.col("market_type") != SPOT)),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _spot_order(lv):
    price = lv.getItem(0).cast("double")
    qty = lv.getItem(1).cast("double")
    return spot_level(price, qty)


def _parse_l2_spot_snapshot(df: DataFrame) -> DataFrame:
    """[["AE", id, SYMBOL, ts_s, {asks}, {bids}]] — fan out over frames,
    dropping null-timestamp frames (zbg_spot.rs snapshot filter)."""
    base = (
        df.filter(F.col("msg").startswith('[["AE"'))
        .withColumn("frames", F.from_json("msg", "array<string>"))
        .withColumn("n_items", F.size("frames"))
        .select("*", F.explode("frames").alias("d"))
        .filter(
            F.get_json_object("d", "$[3]").isNotNull()
            & (F.get_json_object("d", "$[3]") != "null")  # JSON null frames
        )
        .withColumn("symbol", F.get_json_object("d", "$[2]"))
        .withColumn(
            "asks_raw",
            F.from_json(F.get_json_object("d", "$[4].asks"), "array<array<string>>"),
        )
        .withColumn(
            "bids_raw",
            F.from_json(F.get_json_object("d", "$[5].bids"), "array<array<string>>"),
        )
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        symbol=F.lower(F.col("symbol")),
        pair=normalize_pair(F.col("symbol")),
        timestamp=F.get_json_object("d", "$[3]").cast("long") * 1000,
        json=F.when(F.col("n_items") == 1, F.col("msg")).otherwise(F.col("d")),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("asks_raw", F.array()), _spot_order),
        bids=F.transform(F.coalesce("bids_raw", F.array()), _spot_order),
    )
    return sort_book_sides(out)


def _parse_l2_spot_update(df: DataFrame) -> DataFrame:
    """["E", id, ts_s, SYMBOL, BID|ASK, price, qty] single-level delta."""
    base = df.filter(F.col("msg").startswith('["E"')).withColumn(
        "arr", F.from_json("msg", "array<string>")
    )
    price = F.col("arr")[5].cast("double")
    qty = F.col("arr")[6].cast("double")
    order = F.struct(
        price.alias("price"),
        qty.alias("quantity_base"),
        (qty * price).alias("quantity_quote"),
        F.lit(None).cast("double").alias("quantity_contract"),
    )
    empty = F.array().cast(
        "array<struct<price:double, quantity_base:double,"
        " quantity_quote:double, quantity_contract:double>>"
    )
    is_bid = F.col("arr")[4] == "BID"
    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        symbol=F.lower(F.col("arr")[3]),
        pair=normalize_pair(F.lower(F.col("arr")[3])),
        timestamp=F.col("arr")[2].cast("long") * 1000,
        snapshot=F.lit(False),
        asks=F.when(~is_bid, F.array(order)).otherwise(empty),
        bids=F.when(is_bid, F.array(order)).otherwise(empty),
    )


def _parse_l2_swap(df: DataFrame) -> DataFrame:
    """zbg_swap.rs:276-319: future_snapshot_depth; ts µs -> /1000;
    snapshot=false; contract-unit quantity math."""
    base = df.filter(_head(F.col("msg")) == "future_snapshot_depth")
    base = _with_swap_contract(base, F.get_json_object("msg", "$[1].contractId"))
    book = F.from_json(
        F.get_json_object("msg", "$[1]"),
        "struct<asks:array<array<string>>, bids:array<array<string>>, time:bigint>",
    )
    base = base.transform(parsed_once(book))
    is_inverse = F.col("market_type") == "inverse_swap"

    def order(lv):
        price = lv.getItem(0).cast("double")
        size = lv.getItem(1).cast("double")
        unit = F.col("contract_unit")
        qb = F.when(is_inverse, size * unit / price).otherwise(size * unit)
        qq = F.when(is_inverse, size * unit).otherwise(size * unit * price)
        return F.struct(
            price.alias("price"),
            qb.alias("quantity_base"),
            qq.alias("quantity_quote"),
            size.alias("quantity_contract"),
        )

    return emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        symbol=F.col("swap_symbol"),
        pair=normalize_pair(F.col("swap_symbol")),
        timestamp=F.floor(F.col("d.time") / 1000).cast("long"),
        snapshot=F.lit(False),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
    )


# ---------------------------------------------------------------- candles

def parse_candlestick(df: DataFrame) -> DataFrame:
    from crypto_msg_parser_spark.parser.common import SPOT

    return _parse_candle_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_candle_swap(df.filter(F.col("market_type") != SPOT))
    )


def _parse_candle_spot(df: DataFrame) -> DataFrame:
    """["K", id, symbol, ts_s, o,h,l,c, vol, _, _, period, _, quote];
    period M/H/D suffixes in minutes/hours/days; json = whole msg."""
    frames = F.when(
        F.col("msg").startswith('[["K"'), F.from_json("msg", "array<string>")
    ).when(F.col("msg").startswith('["K"'), F.array("msg"))
    base = (
        df.withColumn("frames", frames)
        .filter(F.col("frames").isNotNull())
        .select("*", F.explode("frames").alias("d"))
        .withColumn("arr", F.from_json("d", "array<string>"))
    )
    ts = (F.col("arr")[3].cast("long") * 1000).cast("long")
    period = F.col("arr")[11]
    num = F.regexp_extract(period, "^([0-9]+)", 1).cast("long")
    m_seconds = (
        F.when(period.endswith("M"), num * 60000)
        .when(period.endswith("H"), num * 3600000)
        .when(period.endswith("D"), num * 86400000)
        .otherwise(F.lit(0))
    )
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        symbol=F.col("arr")[2],
        pair=normalize_pair(F.col("arr")[2]),
        timestamp=ts,
        begin_time=ts - m_seconds,
        open=F.col("arr")[4].cast("double"),
        high=F.col("arr")[5].cast("double"),
        low=F.col("arr")[6].cast("double"),
        close=F.col("arr")[7].cast("double"),
        volume=F.col("arr")[8].cast("double"),
        period=period,
        quote_volume=F.col("arr")[13].cast("double"),
    )


def _parse_candle_swap(df: DataFrame) -> DataFrame:
    """zbg_swap.rs:322-380: future_kline lines fan-out; volume via
    contract-unit math on the OPEN price; begin = ts - range."""
    base = df.filter(_head(F.col("msg")) == "future_kline")
    base = _with_swap_contract(base, F.get_json_object("msg", "$[1].contractId"))
    lines = F.from_json(
        F.get_json_object("msg", "$[1].lines"), "array<array<string>>"
    )
    rng = F.get_json_object("msg", "$[1].range")
    base = (
        base.withColumn("range", rng)
        .select("*", F.explode(lines).alias("line"))
    )
    ts = F.col("line")[0].cast("long")
    o = F.col("line")[1].cast("double")
    size = F.col("line")[5].cast("double")
    unit = F.col("contract_unit")
    is_inverse = F.col("market_type") == "inverse_swap"
    vol = F.when(is_inverse, size * unit / o).otherwise(size * unit)
    qvol = F.when(is_inverse, size * unit).otherwise(size * unit * o)
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        symbol=F.col("swap_symbol"),
        pair=normalize_pair(F.col("swap_symbol")),
        timestamp=ts,
        begin_time=ts - F.col("range").cast("long"),
        open=o,
        high=F.col("line")[2].cast("double"),
        low=F.col("line")[3].cast("double"),
        close=F.col("line")[4].cast("double"),
        volume=vol,
        period=F.col("range"),
        quote_volume=qvol,
    )
