"""Kraken normalization (spot WebSocket v1 arrays + futures feeds).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/kraken/{mod.rs, kraken_spot.rs,
  kraken_futures.rs};
  pair + currency rules crypto-pair/src/exchanges/kraken.rs
  (X/Z-prefix stripping, XBT->BTC, XDG->DOGE, spot quote set);
  contract value: inverse 1.0 (crypto-contract-value/src/exchanges/
  kraken.rs).

Spot frames are positional arrays [channelID, payload..., channel, symbol]
with FLOAT-SECOND timestamps (*1000, truncated). Futures messages are
objects keyed by `feed` with ms timestamps. PI_* symbols are inverse swaps,
FI_* inverse futures; quantities are USD notionals (qty/price base).
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
    SPOT,
    sort_book_sides,
    emit,
    item_json,
    spot_level,
)
from crypto_msg_parser_spark.functions.scalar import round9

EXCHANGE = "kraken"

# offline spot quote set (crypto-pair/src/exchanges/kraken.rs:9-16)
SPOT_QUOTES = [
    "AUD", "CAD", "CHF", "DAI", "DOT", "ETH", "EUR", "GBP", "JPY", "PYUSD",
    "USD", "USDC", "USDT", "XBT", "XET", "XXB", "ZAU", "ZCA", "ZEU", "ZGB",
    "ZJP", "ZUS",
]


def _norm_currency(cur: Column) -> Column:
    """kraken.rs:64-80: upper, strip X/Z prefix when len>3, alias XBT/XDG."""
    up = F.upper(cur)
    stripped = F.when(
        (F.length(up) > 3) & (up.startswith("X") | up.startswith("Z")),
        up.substr(F.lit(2), F.length(up)),
    ).otherwise(up)
    return (
        F.when(stripped == "XBT", "BTC")
        .when(stripped == "XDG", "DOGE")
        .otherwise(stripped)
    )


def normalize_pair(symbol: Column) -> Column:
    """kraken.rs:82-120."""
    slash = F.when(
        symbol.contains("/"),
        F.concat(
            _norm_currency(F.split(symbol, "/")[0]),
            F.lit("/"),
            _norm_currency(F.split(symbol, "/")[1]),
        ),
    )
    fut = F.when(
        symbol.rlike("^(pi|fi|PI|FI)_"),
        F.concat(
            _norm_currency(
                F.upper(F.regexp_extract(symbol, "^.{3}(.*?)(usd|USD)", 1))
            ),
            F.lit("/USD"),
        ),
    )
    # joined spot symbols: longest quote match from the offline set
    pattern = "(" + "|".join(sorted(SPOT_QUOTES, key=len, reverse=True)) + ")$"
    quote = F.regexp_extract(symbol, pattern, 1)
    base = symbol.substr(F.lit(1), F.length(symbol) - F.length(quote))
    joined = F.when(
        (quote != "") & (F.length(symbol) > F.length(quote)),
        F.concat(_norm_currency(base), F.lit("/"), _norm_currency(quote)),
    )
    return F.coalesce(slash, fut, joined)


# ---------------------------------------------------------------- router

def _frames(msg: Column) -> Column:
    return F.from_json(msg, "array<string>")


def _channel(msg: Column) -> Column:
    """Second-to-last element of a spot array frame."""
    return F.element_at(_frames(msg), -2)


def _spot_symbol(msg: Column) -> Column:
    return F.element_at(_frames(msg), -1)


def _frame_str(frames: Column, i: int) -> Column:
    """Element ``i`` (1-based; negative counts from the end) of a spot
    array frame, as a string; NULL when the frame is shorter."""
    return F.try_variant_get(F.try_element_at(frames, F.lit(i)), "$", "string")


@sniffer
def get_msg_type(m: Msg) -> Column:
    """mod.rs:35-67."""

    def ladder(ch, feed):
        return (
            F.when(
                m.raw.startswith("["),
                F.when(ch == "ticker", "ticker")
                .when(ch == "trade", "trade")
                .when(ch == "spread", "bbo")
                .when(ch.startswith("book-"), "l2_event")
                .when(ch.startswith("ohlc-"), "candlestick")
                .otherwise("other"),
            )
            .when(feed.isin("trade", "trade_snapshot"), "trade")
            .when(feed == "ticker", "ticker")
            .when(feed.isin("book", "book_snapshot"), "l2_event")
            .otherwise("other")
        )

    return let(ladder, _frame_str(m.get("$", "array<variant>"), -2), m.get("$.feed"))


@sniffer
def extract_symbol(m: Msg) -> Column:
    """kraken_spot.rs:60-77 + kraken_futures.rs:72-90."""
    rest_spot = m.raw.contains('"error"') & m.raw.contains('"result"')
    keys = F.map_keys(m.get("$.result", "map<string,variant>"))
    return let(
        lambda product: F.when(
            m.raw.startswith("["), _frame_str(m.get("$", "array<variant>"), -1)
        )
        .when(product.isNotNull(), product)
        .when(
            m.has("$.serverTime")
            & (m.get("$.result") == "success")
            & m.has("$.orderBook"),
            "NONE",
        )
        .when(
            rest_spot,
            F.when(F.size(keys) > 1, "ALL").otherwise(keys[0]),
        ),
        m.get("$.product_id"),
    )


def _sec_to_ms(col: Column) -> Column:
    return (col.cast("double") * 1000).cast("long")


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """kraken_spot.rs:79-195 + kraken_futures.rs:92-119."""
    fr = m.get("$", "array<variant>")
    trades = m.get("$[1]", "array<array<string>>")
    spread = m.get("$[1]", "array<string>")
    fut_trades = m.rows("$.trades", "struct<time:string>")

    def levels_ts(path):
        lv = m.get(path, "array<array<string>>")
        return F.transform(
            F.coalesce(lv, F.array()), lambda x: _sec_to_ms(x[2])
        )

    book_ts_arr = F.concat(
        levels_ts("$[1].as"),
        levels_ts("$[1].bs"),
        levels_ts("$[1].a"),
        levels_ts("$[1].b"),
        F.when(F.size(fr) == 5, levels_ts("$[2].a")).otherwise(
            F.array().cast("array<bigint>")
        ),
        F.when(F.size(fr) == 5, levels_ts("$[2].b")).otherwise(
            F.array().cast("array<bigint>")
        ),
    )

    def ladder(ch, feed):
        return (
        F.when(
            m.raw.startswith("["),
            F.when(ch == "trade"    , _sec_to_ms(trades[0][2]))
                .when(ch == "spread", _sec_to_ms(spread[2]))
                .when(ch.startswith("ohlc-"), _sec_to_ms(spread[0]))
                .when(
                    ch.startswith("book-"),
                    F.array_max(book_ts_arr),
                )
                .otherwise(F.lit(None).cast("long")),
            )
            .when(
                m.has("$.serverTime") & m.raw.contains('"result"'),
                (F.to_timestamp(m.get("$.serverTime")).cast("double") * 1000).cast(
                    "long"
                ),
            )
            .when(
                m.raw.contains('"error"') & m.raw.contains('"result"'),
                F.lit(None).cast("long"),
            )
            .when(feed.isin("trade", "ticker"), m.get("$.time").try_cast("long"))
            .when(
                feed == "trade_snapshot",
                F.array_max(
                    F.transform(fut_trades, lambda x: x["time"].try_cast("long"))
                ),
            )
            .when(
                feed.isin("book", "book_snapshot"),
                m.get("$.timestamp").try_cast("long"),
            )
        )

    return let(ladder, _frame_str(fr, -2), m.get("$.feed"))


# ---------------------------------------------------------------- trades

def parse_trade(df: DataFrame) -> DataFrame:
    return _parse_trade_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_trade_futures(df.filter(F.col("market_type") != SPOT))
    )


def _parse_trade_spot(df: DataFrame) -> DataFrame:
    """kraken_spot.rs:198-240: [p, q, ts, side, ordertype, misc];
    trade_id = timestamp; float-second ts truncated to ms."""
    fr = _frames(F.col("msg"))
    arr = F.from_json(F.element_at(fr, 2), "array<array<string>>")
    base = (
        df.filter(F.col("msg").startswith("[") & (_channel(F.col("msg")) == "trade"))
        .withColumn("symbol", _spot_symbol(F.col("msg")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    price = F.col("d")[0].cast("double")
    qty = F.col("d")[1].cast("double")
    ts = _sec_to_ms(F.col("d")[2])
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=ts,
        json=item_json(),
        side=F.when(F.col("d")[3] == "s", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=ts.cast("string"),
    )


_FUT_TRADE = (
    "struct<feed:string, product_id:string, side:string, uid:string,"
    " seq:bigint, time:bigint, qty:double, price:double>"
)


def _parse_trade_futures(df: DataFrame) -> DataFrame:
    """kraken_futures.rs:121-156: qty is a USD notional; base = qty/price;
    trade_id = seq."""
    feed = F.get_json_object("msg", "$.feed")
    singles = df.filter(feed == "trade").withColumn(
        "d", F.from_json(F.col("msg"), _FUT_TRADE)
    ).withColumn("n_items", F.lit(1))
    snaps = (
        df.filter(feed == "trade_snapshot")
        .withColumn(
            "items",
            F.from_json(
                F.get_json_object("msg", "$.trades"), f"array<{_FUT_TRADE}>"
            ),
        )
        .withColumn("n_items", F.size("items"))
        .select("*", F.explode("items").alias("d"))
        .drop("items")
    )
    parts = []
    for sub in (singles, snaps):
        qty = F.col("d.qty")
        price = F.col("d.price")
        # the reference re-serializes the struct even for single trades
        # (kraken_futures.rs:153) — the engine keeps raw provenance
        parts.append(emit(
            sub, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
            symbol=F.col("d.product_id"),
            pair=normalize_pair(F.col("d.product_id")),
            timestamp=F.col("d.time"),
            json=item_json(),
            side=F.when(F.col("d.side") == "sell", "sell").otherwise("buy"),
            price=price,
            quantity_base=qty / price,
            quantity_quote=qty,
            quantity_contract=qty,
            trade_id=F.col("d.seq").cast("string"),
        ))
    return parts[0].unionByName(parts[1])


# ---------------------------------------------------------------- orderbooks

def parse_l2(df: DataFrame) -> DataFrame:
    return _parse_l2_spot(df.filter(F.col("market_type") == SPOT)).unionByName(
        _parse_l2_futures(df.filter(F.col("market_type") != SPOT))
    )


def _spot_order(lv):
    price = lv.getItem(0).cast("double")
    qty = lv.getItem(1).cast("double")
    return spot_level(price, qty)


def _parse_l2_spot(df: DataFrame) -> DataFrame:
    """kraken_spot.rs:242-378: snapshot (as/bs) vs updates (a/b across one
    or two payload objects); timestamp = max level time; empty books are
    dropped (the reference returns no message)."""
    fr = _frames(F.col("msg"))

    def levels(idx, key):
        return F.coalesce(
            F.from_json(
                F.get_json_object(F.element_at(fr, idx), key),
                "array<array<string>>",
            ),
            F.array().cast("array<array<string>>"),
        )

    two = F.size(fr) == 5
    empty = F.array().cast("array<array<string>>")
    asks_raw = F.concat(
        levels(2, "$.as"), levels(2, "$.a"), F.when(two, levels(3, "$.a")).otherwise(empty)
    )
    bids_raw = F.concat(
        levels(2, "$.bs"), levels(2, "$.b"), F.when(two, levels(3, "$.b")).otherwise(empty)
    )
    snapshot = (
        F.get_json_object(F.element_at(fr, 2), "$.as").isNotNull()
        | F.get_json_object(F.element_at(fr, 2), "$.bs").isNotNull()
    )
    all_ts = F.concat(
        F.transform(asks_raw, lambda x: _sec_to_ms(x[2])),
        F.transform(bids_raw, lambda x: _sec_to_ms(x[2])),
    )
    base = (
        df.filter(
            F.col("msg").startswith("[")
            & _channel(F.col("msg")).startswith("book-")
        )
        .withColumn("symbol", _spot_symbol(F.col("msg")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("asks_raw", asks_raw)
        .withColumn("bids_raw", bids_raw)
        .withColumn("snapshot", snapshot)
        .withColumn("ts", F.array_max(all_ts))
        .filter(F.col("ts").isNotNull())
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("ts"),
        asks=F.transform("asks_raw", _spot_order),
        bids=F.transform("bids_raw", _spot_order),
    )
    return sort_book_sides(out)


def _parse_l2_futures(df: DataFrame) -> DataFrame:
    """kraken_futures.rs:158-252: book update (single level routed by side)
    + book_snapshot; inverse quantity math (qty is USD)."""
    feed = F.get_json_object("msg", "$.feed")

    def order_from(price, qty):
        return F.struct(
            price.alias("price"),
            (qty / price).alias("quantity_base"),
            qty.alias("quantity_quote"),
            qty.alias("quantity_contract"),
        )

    upd = df.filter(feed == "book")
    u_price = F.get_json_object("msg", "$.price").cast("double")
    u_qty = F.get_json_object("msg", "$.qty").cast("double")
    u_order = order_from(u_price, u_qty)
    empty = F.array().cast(
        "array<struct<price:double, quantity_base:double,"
        " quantity_quote:double, quantity_contract:double>>"
    )
    is_sell = F.get_json_object("msg", "$.side") == "sell"
    upd_out = emit(
        upd, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        symbol=F.get_json_object("msg", "$.product_id"),
        pair=normalize_pair(F.get_json_object("msg", "$.product_id")),
        timestamp=F.get_json_object("msg", "$.timestamp").cast("long"),
        snapshot=F.lit(False),
        asks=F.when(is_sell, F.array(u_order)).otherwise(empty),
        bids=F.when(~is_sell, F.array(u_order)).otherwise(empty),
        seq_id=F.get_json_object("msg", "$.seq").cast("long"),
    )

    snap = df.filter(feed == "book_snapshot").withColumn(
        "d",
        F.from_json(
            F.col("msg"),
            "struct<product_id:string, timestamp:bigint, seq:bigint,"
            " asks:array<struct<price:double, qty:double>>,"
            " bids:array<struct<price:double, qty:double>>>",
        ),
    )

    def order(lv):
        return order_from(lv["price"], lv["qty"])

    snap_out = emit(
        snap, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        symbol=F.col("d.product_id"),
        pair=normalize_pair(F.col("d.product_id")),
        timestamp=F.col("d.timestamp"),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), order),
        bids=F.transform(F.coalesce("d.bids", F.array()), order),
        seq_id=F.col("d.seq"),
    )
    return upd_out.unionByName(sort_book_sides(snap_out))


# ---------------------------------------------------------------- bbo

def parse_bbo(df: DataFrame) -> DataFrame:
    """kraken_spot.rs:386-443 (spot only; futures Not implemented):
    spread frame [bid, ask, ts, bidVol, askVol]; round9 on the quote leg."""
    fr = _frames(F.col("msg"))
    payload = F.from_json(F.element_at(fr, 2), "array<string>")
    base = (
        df.filter(
            (F.col("market_type") == SPOT)
            & F.col("msg").startswith("[")
            & (_channel(F.col("msg")) == "spread")
        )
        .withColumn("symbol", _spot_symbol(F.col("msg")))
        .withColumn("p", payload)
    )
    bid_p = F.col("p")[0].cast("double")
    ask_p = F.col("p")[1].cast("double")
    bid_q = F.col("p")[3].cast("double")
    ask_q = F.col("p")[4].cast("double")
    return emit(
        base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
        pair=normalize_pair(F.col("symbol")),
        timestamp=_sec_to_ms(F.col("p")[2]),
        bid_price=bid_p,
        bid_quantity_base=bid_q,
        bid_quantity_quote=round9(bid_p * bid_q),
        ask_price=ask_p,
        ask_quantity_base=ask_q,
        ask_quantity_quote=round9(ask_p * ask_q),
    )


# ---------------------------------------------------------------- candles

def parse_candlestick(df: DataFrame) -> DataFrame:
    """kraken_spot.rs:446-486 (spot only): payload [time, etime, o, h, l,
    c, vwap, volume, count]; begin_time = int(etime) - minutes*60 (stays in
    SECONDS per the reference); quote_volume = vwap * volume."""
    fr = _frames(F.col("msg"))
    payload = F.from_json(F.element_at(fr, 2), "array<string>")
    period = F.regexp_replace(_channel(F.col("msg")), "^ohlc-", "")
    base = (
        df.filter(
            (F.col("market_type") == SPOT)
            & F.col("msg").startswith("[")
            & _channel(F.col("msg")).startswith("ohlc-")
        )
        .withColumn("symbol", _spot_symbol(F.col("msg")))
        .withColumn("p", payload)
        .withColumn("period", period)
    )
    vwap = F.col("p")[6].cast("double")
    volume = F.col("p")[7].cast("double")
    return emit(
        base, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        pair=normalize_pair(F.col("symbol")),
        timestamp=_sec_to_ms(F.col("p")[0]),
        begin_time=F.col("p")[1].cast("double").cast("long")
            - F.col("period").cast("long") * 60,
        open=F.col("p")[2].cast("double"),
        high=F.col("p")[3].cast("double"),
        low=F.col("p")[4].cast("double"),
        close=F.col("p")[5].cast("double"),
        volume=volume,
        quote_volume=vwap * volume,
    )
