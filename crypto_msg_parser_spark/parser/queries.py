"""Driver-checkable parse-stage queries.

Raw exchange messages are synthesized deterministically from the lineitem
table (same construction both engines), pushed through the REAL parse
pipeline on the Spark side, while the DuckDB oracle computes the expected
normalized values directly from the source columns. This puts the parser's
JSON handling, pair normalization, quantity math, and fan-out under the
driver's value-hash gate — complementing the fixture replay in
tests/test_parser_binance.py which checks reference parity byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_msg_parser_spark.parser import binance
from crypto_msg_parser_spark.registry import query
from crypto_msg_parser_spark.session import drain_available_now
from crypto_msg_parser_spark.sources.testdata import load_table


def _msg_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem as a raw-message source, spread to full core parallelism.

    The sf0.1 lineitem parquet is 1-2 row groups, so a scan inherits 1-2
    input partitions and the whole parse pipeline runs near-serial
    (measured 19s instead of ~2s at 32 cores). A real raw-message table is
    thousands of files; the repartition recreates that input parallelism
    for the synthesized corpus.

    Every downstream raw-frame builder ends with
    ``.localCheckpoint(eager=False)``: without that barrier Catalyst pushes
    each parser's channel/type probe BELOW this repartition exchange,
    re-deriving the whole format_string JSON per probe at the scan's 1-2
    partition parallelism (measured: gate swap parse 10.7s warm with the
    pushed probe vs ~3s with the barrier). A production job reads messages
    from storage, so the materialized frame reproduces the real scan shape
    — the parse stage's own plan (single from_json, no Python nodes) is
    unchanged."""
    return load_table(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism * 2
    )

# symbol universe for synthesized spot messages: partkey % 4
_SPOT_SYMBOLS = ["BTCUSDT", "ETHUSDT", "DOGEUSDT", "BNBBTC"]
_SPOT_PAIRS = ["BTC/USDT", "ETH/USDT", "DOGE/USDT", "BNB/BTC"]
_SWAP_SYMBOLS = ["BTCUSD_PERP", "ETHUSD_PERP"]
_SWAP_PAIRS = ["BTC/USD", "ETH/USD"]
_BASE_TS = 1616176800000

_SQL_SPOT_SYMBOL = (
    "CASE l_partkey % 4 WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT' "
    "WHEN 2 THEN 'DOGEUSDT' ELSE 'BNBBTC' END"
)
_SQL_SPOT_PAIR = (
    "CASE l_partkey % 4 WHEN 0 THEN 'BTC/USDT' WHEN 1 THEN 'ETH/USDT' "
    "WHEN 2 THEN 'DOGE/USDT' ELSE 'BNB/BTC' END"
)


def _spot_symbol():
    c = F.col("l_partkey") % 4
    return (
        F.when(c == 0, _SPOT_SYMBOLS[0])
        .when(c == 1, _SPOT_SYMBOLS[1])
        .when(c == 2, _SPOT_SYMBOLS[2])
        .otherwise(_SPOT_SYMBOLS[3])
    )


def _msg_id():
    return F.concat_ws(
        ":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
    )


def _raw_msgs(src, exchange, market_type, msg, msg_id=None, received_at=None):
    """The raw-message frame a parse arm reads, built over ``src``.

    Only (msg_id, received_at, msg), the per-row data, is materialized
    (see _msg_source); exchange/market_type ride ABOVE the checkpoint as
    literals so the parse dispatchers' dead branches still constant-fold
    to empty relations. msg_id defaults to "orderkey:linenumber",
    received_at to NULL."""
    return src.select(
        (_msg_id() if msg_id is None else msg_id).alias("msg_id"),
        (F.lit(None).cast("long") if received_at is None else received_at)
        .alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit(exchange).alias("exchange"),
        F.lit(market_type).alias("market_type"),
        "received_at",
        "msg",
    )


def _recover_msg_id(df, key="trade_id", radix=10):
    """msg_id "orderkey:linenumber" by projection from a parsed key the
    wire synthesized as orderkey*radix + linenumber — no join-back on the
    ~300-byte json provenance string (at sf0.1 a 600k x 600k string-keyed
    shuffle costing ~20s of the bench). ``key`` is a column or its name."""
    k = (F.col(key) if isinstance(key, str) else key).cast("long")
    return df.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(k / radix).cast("string"), (k % radix).cast("string")
        ),
    )


def _spot_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    msg = F.format_string(
        '{"stream":"%s@aggTrade","data":{"e":"aggTrade","E":%d,"s":"%s",'
        '"a":%d,"p":"%.2f","q":"%.1f","f":1,"l":2,"T":%d,"m":%s}}',
        F.lower(_spot_symbol()),
        ts,
        _spot_symbol(),
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        ts - 2,
        F.when(F.col("l_linenumber") % 2 == 0, "true").otherwise("false"),
    )
    return _raw_msgs(li, "binance", "spot", msg)


@query(
    "parse_binance_spot_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           {_SQL_SPOT_SYMBOL} AS symbol,
           {_SQL_SPOT_PAIR} AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           round(l_quantity, 1) AS quantity_base,
           round(round(l_quantity, 1) * round(l_extendedprice, 2) * 1000000000)
             / 1000000000 AS quantity_quote,
           CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS trade_id
    FROM lineitem
    """,
    doc="end-to-end binance spot aggTrade parse: format -> route -> "
    "from_json -> pair dict -> quantity triple (Spot: qq=round9(q*p)).",
)
def parse_binance_spot_trade(spark, sf_dir):
    raw = _spot_trade_msgs(spark, sf_dir)
    parsed = binance.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id",
        "symbol",
        "pair",
        "timestamp",
        "side",
        "price",
        "quantity_base",
        "quantity_quote",
        "trade_id",
    )


def _swap_symbol():
    return F.when(F.col("l_partkey") % 2 == 0, _SWAP_SYMBOLS[0]).otherwise(
        _SWAP_SYMBOLS[1]
    )


def _swap_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    msg = F.format_string(
        '{"stream":"%s@aggTrade","data":{"e":"aggTrade","E":%d,"s":"%s",'
        '"a":%d,"p":"%.2f","q":"%d","f":1,"l":2,"T":%d,"m":%s}}',
        F.lower(_swap_symbol()),
        ts,
        _swap_symbol(),
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.col("l_extendedprice"),
        F.col("l_quantity").cast("long"),
        ts - 2,
        F.when(F.col("l_linenumber") % 2 == 0, "true").otherwise("false"),
    )
    return _raw_msgs(li, "binance", "inverse_swap", msg)


@query(
    "parse_binance_inverse_swap_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTCUSD_PERP' ELSE 'ETHUSD_PERP' END
             AS symbol,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC/USD' ELSE 'ETH/USD' END AS pair,
           (CAST(l_quantity AS BIGINT) *
            (CASE WHEN l_partkey % 2 = 0 THEN 100.0 ELSE 10.0 END))
             / round(l_extendedprice, 2) AS quantity_base,
           CAST(l_quantity AS BIGINT) *
            (CASE WHEN l_partkey % 2 = 0 THEN 100.0 ELSE 10.0 END)
             AS quantity_quote,
           CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS quantity_contract
    FROM lineitem
    """,
    doc="binance inverse-swap trade: contract-value dictionary (BTC 100 USD "
    "else 10, crypto-contract-value binance.rs:3-12) + inverse quantity "
    "triple (qb = q*cv/p).",
)
def parse_binance_inverse_swap_trade(spark, sf_dir):
    raw = _swap_trade_msgs(spark, sf_dir)
    parsed = binance.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id", "symbol", "pair", "quantity_base", "quantity_quote",
        "quantity_contract",
    )


def _funding_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ts = F.lit(_BASE_TS) + F.col("o_orderkey")
    ft = F.lit(1617321600000) + (F.col("o_orderkey") % 10) * 28800000
    rate = (F.col("o_orderkey") % 200 - 100).cast("double") / 100000.0
    msg = F.format_string(
        '{"stream":"%s@markPrice","data":{"e":"markPriceUpdate","E":%d,'
        '"s":"%s","p":"%.2f","r":"%.5f","T":%d}}',
        F.lower(_fsymbol()),
        ts,
        _fsymbol(),
        F.col("o_totalprice"),
        rate,
        ft,
    )
    return _raw_msgs(
        o, "binance", "inverse_swap", msg, msg_id=F.col("o_orderkey").cast("string")
    )


def _fsymbol():
    return F.when(F.col("o_orderkey") % 2 == 0, "BTCUSD_PERP").otherwise(
        "ETHUSD_PERP"
    )


@query(
    "parse_binance_funding_rate",
    oracle=f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS msg_id,
           CASE WHEN o_orderkey % 2 = 0 THEN 'BTCUSD_PERP' ELSE 'ETHUSD_PERP' END
             AS symbol,
           CASE WHEN o_orderkey % 2 = 0 THEN 'BTC/USD' ELSE 'ETH/USD' END AS pair,
           {_BASE_TS} + o_orderkey AS timestamp,
           round(CAST(o_orderkey % 200 - 100 AS DOUBLE) / 100000.0, 5)
             AS funding_rate,
           1617321600000 + (o_orderkey % 10) * 28800000 AS funding_time
    FROM orders
    """,
    doc="binance markPrice funding-rate parse incl. the 8h funding_time "
    "alignment the reference asserts (tests/utils.rs:68-88).",
)
def parse_binance_funding_rate(spark, sf_dir):
    raw = _funding_msgs(spark, sf_dir)
    parsed = binance.parse_funding_rate(raw)
    # the synthesized E field is BASE_TS + o_orderkey, so msg_id
    # (= o_orderkey) is a pure projection of the parsed timestamp
    back = parsed.withColumn(
        "msg_id", (F.col("timestamp") - F.lit(_BASE_TS)).cast("string")
    )
    return back.select(
        "msg_id", "symbol", "pair", "timestamp", "funding_rate", "funding_time"
    )


def _l2_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir).filter(F.col("l_orderkey") % 7 == 0)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    p = F.col("l_extendedprice")
    q = F.col("l_quantity")
    # u encodes (orderkey, linenumber) — linenumber < 100 — so msg_id is a
    # pure projection of the parsed seq_id instead of a json-string join-back
    msg = F.format_string(
        '{"stream":"%s@depth","data":{"e":"depthUpdate","E":%d,"s":"%s",'
        '"U":%d,"u":%d,"pu":%d,'
        '"b":[["%.2f","%.1f"],["%.2f","%.1f"]],'
        '"a":[["%.2f","%.1f"],["%.2f","%.1f"]]}}',
        F.lower(_spot_symbol()),
        ts,
        _spot_symbol(),
        F.col("l_orderkey") * 100,
        F.col("l_orderkey") * 100 + F.col("l_linenumber"),
        F.col("l_orderkey") * 100 + F.col("l_linenumber") - 1,
        p - 1,
        q,
        p - 2,
        q + 1,
        p + 1,
        q,
        p + 2,
        q + 1,
    )
    return _raw_msgs(li, "binance", "spot", msg)


@query(
    "parse_binance_l2_levels",
    oracle=f"""
    WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 7 = 0),
    lv AS (
      SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice, l_quantity,
             unnest([
               struct_pack(side := 'ask', idx := 1,
                           price := round(l_extendedprice + 1, 2),
                           qty := round(l_quantity, 1)),
               struct_pack(side := 'ask', idx := 2,
                           price := round(l_extendedprice + 2, 2),
                           qty := round(l_quantity + 1, 1)),
               struct_pack(side := 'bid', idx := 1,
                           price := round(l_extendedprice - 1, 2),
                           qty := round(l_quantity, 1)),
               struct_pack(side := 'bid', idx := 2,
                           price := round(l_extendedprice - 2, 2),
                           qty := round(l_quantity + 1, 1))
             ]) AS o
      FROM src)
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           {_SQL_SPOT_PAIR} AS pair,
           l_orderkey * 100 + l_linenumber AS seq_id,
           -- pu is never -1 here (orderkey >= 1), so no NULL arm needed
           l_orderkey * 100 + l_linenumber - 1 AS prev_seq_id,
           o.side AS side, o.idx AS idx,
           o.price AS price,
           o.qty AS quantity_base,
           round(o.qty * o.price * 1000000000) / 1000000000 AS quantity_quote
    FROM lv
    """,
    doc="binance depth (L2) parse: from_json nested level arrays -> order "
    "structs with spot quantity math; levels exploded for checking.",
)
def parse_binance_l2_levels(spark, sf_dir):
    raw = _l2_msgs(spark, sf_dir)
    parsed = binance.parse_l2(raw)
    # seq_id = orderkey*100 + linenumber (linenumber < 100)
    back = _recover_msg_id(parsed, "seq_id", radix=100)
    asks = back.select(
        "msg_id",
        "pair",
        "seq_id",
        "prev_seq_id",
        F.lit("ask").alias("side"),
        F.posexplode("asks"),
    )
    bids = back.select(
        "msg_id",
        "pair",
        "seq_id",
        "prev_seq_id",
        F.lit("bid").alias("side"),
        F.posexplode("bids"),
    )
    both = asks.unionByName(bids)
    return both.select(
        "msg_id",
        "pair",
        "seq_id",
        "prev_seq_id",
        "side",
        (F.col("pos") + 1).cast("int").alias("idx"),
        F.col("col.price").alias("price"),
        F.col("col.quantity_base").alias("quantity_base"),
        F.col("col.quantity_quote").alias("quantity_quote"),
    )


@query(
    "l2_seq_gap_detect",
    oracle=f"""
    WITH src AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             l_orderkey * 100 + l_linenumber AS seq_id,
             l_orderkey * 100 + l_linenumber - 1 AS prev_seq_id
      FROM lineitem WHERE l_orderkey % 7 = 0),
    w AS (
      SELECT symbol, seq_id, prev_seq_id,
             lag(seq_id) OVER (PARTITION BY symbol ORDER BY seq_id)
               AS prev_in_stream
      FROM src)
    SELECT symbol, seq_id, prev_seq_id, prev_in_stream
    FROM w
    WHERE prev_in_stream IS NOT NULL AND prev_seq_id <> prev_in_stream
    """,
    doc="seq-id gap detection over the parsed binance depth stream "
    "(SURVEY §2.6: binance pu must equal the previous update's u, "
    "binance_all.rs:215-220 / deribit change_id chaining): per-symbol "
    "lag(seq_id) vs the message's own prev_seq_id flags every continuity "
    "break — the signal that triggers a REST snapshot re-sync in the "
    "reference's consumers. Scale note: the window partitions by symbol "
    "(thousands of keys in production — here 4); a production job adds a "
    "time-bucket to the partition key and chains the per-bucket boundary "
    "rows, the same two-level trick as pack_sequences.",
)
def l2_seq_gap_detect(spark, sf_dir):
    from pyspark.sql import Window as W

    raw = _l2_msgs(spark, sf_dir)
    parsed = binance.parse_l2(raw)
    heads = parsed.select("symbol", "seq_id", "prev_seq_id")
    w = W.partitionBy("symbol").orderBy("seq_id")
    out = heads.withColumn("prev_in_stream", F.lag("seq_id").over(w))
    return out.filter(
        F.col("prev_in_stream").isNotNull()
        & (F.col("prev_seq_id") != F.col("prev_in_stream"))
    )


@query(
    "l2_book_reconstruct",
    oracle=f"""
    WITH src AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             l_orderkey * 100 + l_linenumber AS seq_id,
             l_extendedprice AS p, CAST(l_quantity AS DOUBLE) AS q
      FROM lineitem WHERE l_orderkey % 7 = 0),
    lv AS (
      SELECT symbol, seq_id, 'bid' AS side, round(p - 1, 2) AS price, q AS qty
      FROM src
      UNION ALL SELECT symbol, seq_id, 'bid', round(p - 2, 2), q + 1 FROM src
      UNION ALL SELECT symbol, seq_id, 'ask', round(p + 1, 2), q FROM src
      UNION ALL SELECT symbol, seq_id, 'ask', round(p + 2, 2), q + 1 FROM src),
    eff AS (
      SELECT symbol, side, price, seq_id,
             CASE WHEN seq_id % 10 = 3 THEN 0 ELSE qty END AS qty
      FROM lv),
    last AS (
      SELECT symbol, side, price,
             arg_max(qty, seq_id) AS qty,
             max(seq_id) AS last_seq
      FROM eff GROUP BY symbol, side, price)
    SELECT symbol, side, price, qty, last_seq FROM last WHERE qty > 0
    """,
    doc="order-book reconstruction from the parsed incremental depth "
    "stream — the stateful consumer loop of every reference user "
    "(apply each delta; qty 0 deletes the level; binance_all.rs depth "
    "semantics), re-expressed Spark-first as a LAST-WRITE-WINS "
    "aggregation: explode levels, keep max_by(qty, seq_id) per "
    "(symbol, side, price), drop zero-qty levels. One shuffle on the "
    "book key, full map-side partial aggregation, no per-row state, no "
    "ordering requirement on the input — the property that makes the "
    "same plan correct over an out-of-order 100 TB replay where a "
    "sequential fold would need a total sort. Deletions are modeled "
    "deterministically (seq_id % 10 = 3 => qty 0) so the delete path is "
    "exercised at every SF.",
)
def l2_book_reconstruct(spark, sf_dir):
    raw = _l2_msgs(spark, sf_dir)
    parsed = binance.parse_l2(raw)
    asks = parsed.select(
        "symbol", "seq_id", F.lit("ask").alias("side"),
        F.explode("asks").alias("lv"),
    )
    bids = parsed.select(
        "symbol", "seq_id", F.lit("bid").alias("side"),
        F.explode("bids").alias("lv"),
    )
    lv = asks.unionByName(bids).select(
        "symbol",
        "side",
        F.col("lv.price").alias("price"),
        "seq_id",
        F.when(F.col("seq_id") % 10 == 3, F.lit(0.0))
        .otherwise(F.col("lv.quantity_base"))
        .alias("qty"),
    )
    book = lv.groupBy("symbol", "side", "price").agg(
        F.max_by("qty", "seq_id").alias("qty"),
        F.max("seq_id").alias("last_seq"),
    )
    return book.filter(F.col("qty") > 0)


@query(
    "binance_router",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           CASE l_linenumber % 3 WHEN 0 THEN 'trade' WHEN 1 THEN 'l2_event'
                ELSE 'candlestick' END AS msg_type,
           {_SQL_SPOT_SYMBOL} AS symbol,
           {_BASE_TS} + l_orderkey AS ts_ms
    FROM lineitem
    """,
    doc="routing triple (get_msg_type/extract_symbol/extract_timestamp, "
    "SURVEY §3 EP3) over a mixed synthesized stream.",
)
def binance_router(spark, sf_dir):
    # _msg_source, not a bare load_table: the sf0.1 lineitem parquet is
    # 1-2 row groups, and without the repartition the three routing
    # probes run near-serial (measured: 10.5 s warm_min at quiet load vs
    # ~1-2 s with input parallelism restored — the exact trap the
    # _msg_source docstring documents; this row predated the helper)
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    suffix = (
        F.when(F.col("l_linenumber") % 3 == 0, "@aggTrade")
        .when(F.col("l_linenumber") % 3 == 1, "@depth")
        .otherwise("@kline_1m")
    )
    msg = F.format_string(
        '{"stream":"%s%s","data":{"e":"x","E":%d,"s":"%s"}}',
        F.lower(_spot_symbol()),
        suffix,
        ts,
        _spot_symbol(),
    )
    raw = li.select(
        _msg_id().alias("msg_id"), msg.alias("msg")
    ).localCheckpoint(eager=False)
    return raw.select(
        "msg_id",
        binance.get_msg_type(F.col("msg")).alias("msg_type"),
        binance.extract_symbol(F.col("msg")).alias("symbol"),
        binance.extract_timestamp(F.col("msg")).alias("ts_ms"),
    )


def _bbo_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    p = F.col("l_extendedprice")
    q = F.col("l_quantity")
    msg = F.format_string(
        '{"stream":"%s@bookTicker","data":{"u":%d,"s":"%s",'
        '"b":"%.2f","B":"%.1f","a":"%.2f","A":"%.1f"}}',
        F.lower(_spot_symbol()),
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        _spot_symbol(),
        p - 1,
        q,
        p + 1,
        q + 1,
    )
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    return _raw_msgs(li, "binance", "spot", msg, received_at=ts)


@query(
    "parse_binance_bbo",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           {_SQL_SPOT_SYMBOL} AS symbol,
           {_SQL_SPOT_PAIR} AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           round(l_extendedprice - 1, 2) AS bid_price,
           round(l_quantity, 1) AS bid_quantity_base,
           round(round(l_quantity, 1) * round(l_extendedprice - 1, 2)
                 * 1000000000) / 1000000000 AS bid_quantity_quote,
           round(l_extendedprice + 1, 2) AS ask_price,
           round(l_quantity + 1, 1) AS ask_quantity_base,
           round(round(l_quantity + 1, 1) * round(l_extendedprice + 1, 2)
                 * 1000000000) / 1000000000 AS ask_quantity_quote,
           l_orderkey * 10 + l_linenumber AS id
    FROM lineitem
    """,
    doc="binance spot bookTicker -> BboMsg: best-level quantity math per "
    "side, received_at as the timestamp (spot bookTicker carries no E — "
    "binance_all.rs parse_bbo).",
)
def parse_binance_bbo(spark, sf_dir):
    raw = _bbo_msgs(spark, sf_dir)
    parsed = binance.parse_bbo(raw)
    return _recover_msg_id(parsed, "id").select(
        "msg_id", "symbol", "pair", "timestamp",
        "bid_price", "bid_quantity_base", "bid_quantity_quote",
        "ask_price", "ask_quantity_base", "ask_quantity_quote", "id",
    )


def _kline_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ts = F.lit(_BASE_TS) + F.col("o_orderkey")
    t0 = F.lit(_BASE_TS) + F.col("o_orderkey") * 60000  # minute-aligned
    p = F.col("o_totalprice")
    msg = F.format_string(
        '{"stream":"%s@kline_1m","data":{"e":"kline","E":%d,"s":"%s",'
        '"k":{"t":%d,"T":%d,"s":"%s","i":"1m","o":"%.2f","c":"%.2f",'
        '"h":"%.2f","l":"%.2f","v":"%.1f","q":"%.2f"}}}',
        F.lower(_fsymbol()),
        ts,
        _fsymbol(),
        t0,
        t0 + 59999,
        _fsymbol(),
        p,
        p + 1,
        p + 2,
        p - 1,
        (F.col("o_orderkey") % 100 + 1).cast("double"),
        p * 2,
    )
    return _raw_msgs(
        o, "binance", "spot", msg, msg_id=F.col("o_orderkey").cast("string")
    )


@query(
    "parse_binance_candlestick",
    oracle=f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS msg_id,
           CASE WHEN o_orderkey % 2 = 0 THEN 'BTCUSD_PERP' ELSE 'ETHUSD_PERP' END
             AS symbol,
           {_BASE_TS} + o_orderkey AS timestamp,
           ({_BASE_TS} + o_orderkey * 60000) // 1000 AS begin_time,
           round(o_totalprice, 2) AS open,
           round(o_totalprice + 2, 2) AS high,
           round(o_totalprice - 1, 2) AS low,
           round(o_totalprice + 1, 2) AS close,
           CAST(o_orderkey % 100 + 1 AS DOUBLE) AS volume,
           '1m' AS period,
           round(o_totalprice * 2, 2) AS quote_volume
    FROM orders
    """,
    doc="binance kline -> CandlestickMsg: nested k-struct extraction, "
    "begin_time floored to SECONDS (lib.rs:200), spot volume semantics "
    "(v = base, q = quote — binance_all.rs parse_candlestick).",
)
def parse_binance_candlestick(spark, sf_dir):
    raw = _kline_msgs(spark, sf_dir)
    parsed = binance.parse_candlestick(raw)
    # begin_time = (BASE_TS + orderkey*60000)/1000: msg_id by projection
    back = parsed.withColumn(
        "msg_id",
        ((F.col("begin_time") - _BASE_TS // 1000) / 60).cast("long").cast("string"),
    )
    return back.select(
        "msg_id", "symbol", "timestamp", "begin_time",
        "open", "high", "low", "close", "volume", "period", "quote_volume",
    )


# ---------------------------------------------------------------- gate

def _gate_swap_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    signed = F.col("l_quantity").cast("long") * F.when(
        F.col("l_linenumber") % 2 == 0, -1
    ).otherwise(1)
    msg = F.format_string(
        '{"time":%d,"channel":"futures.trades","event":"update","result":'
        '[{"size":%d,"id":%d,"create_time":%d,"create_time_ms":%d,'
        '"price":"%.2f","contract":"BTC_USDT"}]}',
        (ts / 1000).cast("long"),
        signed,
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        (ts / 1000).cast("long"),
        ts,
        F.col("l_extendedprice"),
    )
    return _raw_msgs(li, "gate", "linear_swap", msg)


@query(
    "parse_gate_linear_swap_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           'BTC_USDT' AS symbol,
           'BTC/USDT' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           round(CAST(l_quantity AS BIGINT) * 0.0001 * 1000000000)
             / 1000000000 AS quantity_base,
           round(CAST(l_quantity AS BIGINT) * 0.0001
                 * round(l_extendedprice, 2) * 1000000000)
             / 1000000000 AS quantity_quote,
           CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS quantity_contract
    FROM lineitem
    """,
    doc="gate linear-swap trade: broadcast contract-value dict (BTC/USDT "
    "quanto multiplier 0.0001, crypto-contract-value gate.rs) + signed-size "
    "side + round9 linear quantity triple + create_time_ms timestamps.",
)
def parse_gate_linear_swap_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import gate

    raw = _gate_swap_trade_msgs(spark, sf_dir)
    parsed = gate.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id", "symbol", "pair", "timestamp", "side", "price",
        "quantity_base", "quantity_quote", "quantity_contract",
    )


@query(
    "compact_trade_contract",
    oracle=f"""
    SELECT 'gate' AS exchange,
           'linear_swap' AS market_type,
           'trade' AS msg_type,
           {_BASE_TS} + l_orderkey AS timestamp,
           round(l_extendedprice, 2) AS price,
           CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS quantity,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side
    FROM lineitem
    """,
    doc="compact sink QuantityChoice::Contract projection "
    "(compact/message.rs:222-241) over the parsed gate swap stream: the "
    "quantity triple collapses to the chosen field and identity drops to "
    "the interned symbol, so rows compare as a multiset. The xxhash64 "
    "symbol hash itself is pytest-covered (DuckDB lacks the hash).",
)
def compact_trade_contract(spark, sf_dir):
    from crypto_msg_parser_spark.parser import gate
    from crypto_msg_parser_spark.sinks import compact_trade

    raw = _gate_swap_trade_msgs(spark, sf_dir)
    parsed = gate.parse_trade(raw)
    return compact_trade(parsed, quantity_choice="contract").drop("symbol")


# ---------------------------------------------------------------- kucoin

def _kucoin_spot_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    ns = ts * 1000000 + F.col("l_linenumber") * 137
    msg = F.format_string(
        '{"type":"message","topic":"/market/match:BTC-USDT",'
        '"subject":"trade.l3match","data":{"symbol":"BTC-USDT",'
        '"sequence":"%d","side":"%s","size":"%.1f","price":"%.2f",'
        '"time":"%d"}}',
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.when(F.col("l_linenumber") % 2 == 0, "sell").otherwise("buy"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        ns,
    )
    return _raw_msgs(li, "kucoin", "spot", msg)


@query(
    "parse_kucoin_spot_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           'BTC-USDT' AS symbol,
           'BTC/USDT' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_quantity, 1) AS quantity_base,
           round(l_extendedprice, 2) * round(l_quantity, 1) AS quantity_quote,
           CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS trade_id
    FROM lineitem
    """,
    doc="kucoin spot match: nanosecond timestamps floored to ms "
    "(kucoin_spot.rs:98), plain price*size quote (no round9), sequence ids.",
)
def parse_kucoin_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import kucoin

    raw = _kucoin_spot_trade_msgs(spark, sf_dir)
    parsed = kucoin.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id", "symbol", "pair", "timestamp", "side",
        "quantity_base", "quantity_quote", "trade_id",
    )


# ------------------------------------------- wider exchange coverage
# (one driver-checked trade query per additional dispatch arm; fixture
# replay in tests/ covers the full matrix, these put the quantity math
# and envelope handling under the driver's value-hash gate too)


_TRADE_OUT = [
    "msg_id", "symbol", "pair", "timestamp", "side", "price",
    "quantity_base", "quantity_quote",
]


@query(
    "parse_huobi_spot_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           'btcusdt' AS symbol, 'BTC/USDT' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           round(l_quantity, 1) AS quantity_base,
           round(l_extendedprice, 2) * round(l_quantity, 1) AS quantity_quote
    FROM lineitem
    """,
    doc="huobi spot trade.detail: symbol from the channel path, plain "
    "price*amount quote (huobi_spot.rs:81-114 — no round9), tradeId ids.",
)
def parse_huobi_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import huobi

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    msg = F.format_string(
        '{"ch":"market.btcusdt.trade.detail","ts":%d,"tick":{"id":1,"ts":%d,'
        '"data":[{"id":%d,"ts":%d,"tradeId":%d,"amount":%.1f,"price":%.2f,'
        '"direction":"%s"}]}}',
        ts, ts,
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        ts,
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        F.when(F.col("l_linenumber") % 2 == 0, "sell").otherwise("buy"),
    )
    raw = _raw_msgs(li, "huobi", "spot", msg)
    return _recover_msg_id(huobi.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_bybit_inverse_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           'BTCUSD' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           CAST(CAST(l_quantity AS BIGINT) * 10 AS DOUBLE)
             / round(l_extendedprice, 2) AS quantity_base,
           CAST(CAST(l_quantity AS BIGINT) * 10 AS DOUBLE) AS quantity_quote
    FROM lineitem
    """,
    doc="bybit inverse-swap trade: 1-USD contracts, qb = size/price, "
    "qq = size (bybit.rs:222-305), Buy/Sell side capitalization.",
)
def parse_bybit_inverse_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bybit

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    msg = F.format_string(
        '{"topic":"trade.BTCUSD","data":[{"trade_time_ms":%d,'
        '"timestamp":"x","symbol":"BTCUSD","side":"%s","size":%d,'
        '"price":%.2f,"trade_id":"%d"}]}',
        ts,
        F.when(F.col("l_linenumber") % 2 == 0, "Sell").otherwise("Buy"),
        F.col("l_quantity").cast("long") * 10,
        F.col("l_extendedprice"),
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    raw = _raw_msgs(li, "bybit", "inverse_swap", msg)
    return _recover_msg_id(bybit.parse_trade(raw)).select(*_TRADE_OUT)


_SEC_BASE = _BASE_TS // 1000


@query(
    "parse_kraken_spot_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           'XBT/USD' AS symbol, 'BTC/USD' AS pair,
           ({_SEC_BASE} + l_orderkey * 10 + l_linenumber) * 1000 AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           round(l_quantity, 1) AS quantity_base,
           round(l_extendedprice, 2) * round(l_quantity, 1) AS quantity_quote
    FROM lineitem
    """,
    doc="kraken spot trade: positional array frames, XBT->BTC pair "
    "normalization, float-second timestamps, trade_id = timestamp "
    "(kraken_spot.rs:198-240).",
)
def parse_kraken_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import kraken

    li = _msg_source(spark, sf_dir)
    sec = F.lit(_SEC_BASE) + F.col("l_orderkey") * 10 + F.col("l_linenumber")
    msg = F.format_string(
        '[321,[["%.2f","%.1f","%d.000000","%s","m",""]],"trade","XBT/USD"]',
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        sec,
        F.when(F.col("l_linenumber") % 2 == 0, "s").otherwise("b"),
    )
    raw = _raw_msgs(li, "kraken", "spot", msg)
    parsed = kraken.parse_trade(raw)
    k = F.col("timestamp") / 1000 - _SEC_BASE
    return _recover_msg_id(parsed, k).select(*_TRADE_OUT)


@query(
    "parse_bitfinex_spot_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           'tBTCUSD' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           round(l_quantity, 1) AS quantity_base,
           round(round(l_quantity, 1) * round(l_extendedprice, 2)
                 * 1000000000) / 1000000000 AS quantity_quote
    FROM lineitem
    """,
    doc="bitfinex spot te frame: side from the sign of the amount, "
    "quantity = |amount|, round9 quote (bitfinex.rs:78-141).",
)
def parse_bitfinex_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bitfinex

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    signed = F.when(F.col("l_linenumber") % 2 == 0, "-").otherwise("")
    msg = F.format_string(
        '[{"symbol":"tBTCUSD","channel":"trades"},"te",[%d,%d,%s%.1f,%.2f]]',
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        ts,
        signed,
        F.col("l_quantity"),
        F.col("l_extendedprice"),
    )
    raw = _raw_msgs(li, "bitfinex", "spot", msg)
    return _recover_msg_id(bitfinex.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_bitget_spot_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           -- mix spot instIds get the _SPBL product suffix (bitget_mix.rs)
           'BTCUSDT_SPBL' AS symbol, 'BTC/USDT' AS pair,
           {_BASE_TS} + l_orderkey * 10 + l_linenumber AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(l_extendedprice, 2) AS price,
           round(l_quantity, 1) AS quantity_base,
           round(l_quantity, 1) * round(l_extendedprice, 2) AS quantity_quote
    FROM lineitem
    """,
    doc="bitget current (mix) spot trade: positional [ts, price, size, "
    "side] rows, trade_id = timestamp (bitget_mix.rs:128-170).",
)
def parse_bitget_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bitget

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey") * 10 + F.col("l_linenumber")
    msg = F.format_string(
        '{"action":"update","arg":{"instType":"sp","channel":"trade",'
        '"instId":"BTCUSDT"},"data":[["%d","%.2f","%.1f","%s"]]}',
        ts,
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        F.when(F.col("l_linenumber") % 2 == 0, "sell").otherwise("buy"),
    )
    raw = _raw_msgs(li, "bitget", "spot", msg)
    parsed = bitget.parse_trade(raw)
    k = F.col("timestamp") - _BASE_TS
    return _recover_msg_id(parsed, k).select(*_TRADE_OUT)


def _rfc3339(ts_col):
    return F.date_format(
        F.timestamp_millis(ts_col), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    )


_K = lambda: F.col("l_orderkey") * 10 + F.col("l_linenumber")  # noqa: E731
_SIDE = lambda s, b: F.when(F.col("l_linenumber") % 2 == 0, s).otherwise(b)  # noqa: E731
_SQL_SIDE = "CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END"
_SQL_K = "l_orderkey * 10 + l_linenumber"
_SQL_MSGID = "l_orderkey || ':' || l_linenumber AS msg_id"
_SQL_PQ_PLAIN = (
    "round(l_extendedprice, 2) AS price, "
    "round(l_quantity, 1) AS quantity_base, "
    "round(l_extendedprice, 2) * round(l_quantity, 1) AS quantity_quote"
)


@query(
    "parse_mexc_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'BTC_USDT' AS symbol, 'BTC/USDT' AS pair,
           {_BASE_TS} + {_SQL_K} AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="mexc spot push.deal: deals fan-out, trade_id = t, T==2 sell "
    "(mexc_spot.rs:50-104).",
)
def parse_mexc_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import mexc

    li = _msg_source(spark, sf_dir)
    t = F.lit(_BASE_TS) + _K()
    msg = F.format_string(
        '{"symbol":"BTC_USDT","data":{"deals":[{"t":%d,"p":"%.2f",'
        '"q":"%.1f","T":%d}]},"channel":"push.deal"}',
        t,
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        F.when(F.col("l_linenumber") % 2 == 0, 2).otherwise(1),
    )
    raw = _raw_msgs(li, "mexc", "spot", msg)
    parsed = mexc.parse_trade(raw)
    k = F.col("timestamp") - _BASE_TS
    return _recover_msg_id(parsed, k).select(*_TRADE_OUT)


@query(
    "parse_zb_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'btcusdt' AS symbol, 'BTC/USDT' AS pair,
           ({_SEC_BASE} + l_orderkey) * 1000 AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="zb spot trades: second-precision dates, tid ids, symbol from the "
    "channel prefix (zb_spot.rs:104-140).",
)
def parse_zb_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import zb

    li = _msg_source(spark, sf_dir)
    msg = F.format_string(
        '{"channel":"btcusdt_trades","data":[{"date":%d,"amount":"%.1f",'
        '"price":"%.2f","trade_type":"x","type":"%s","tid":%d}],'
        '"dataType":"trades"}',
        F.lit(_SEC_BASE) + F.col("l_orderkey"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        _SIDE("sell", "buy"),
        _K(),
    )
    raw = _raw_msgs(li, "zb", "spot", msg)
    return _recover_msg_id(zb.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_zbg_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'btc_usdt' AS symbol, 'BTC/USDT' AS pair,
           ({_SEC_BASE} + {_SQL_K}) * 1000 AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="zbg spot positional tuple frames; trade_id = timestamp "
    "(zbg_spot.rs parse_trade).",
)
def parse_zbg_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import zbg

    li = _msg_source(spark, sf_dir)
    msg = F.format_string(
        '["T","329","%d","BTC_USDT","%s","%.2f","%.1f"]',
        F.lit(_SEC_BASE) + _K(),
        _SIDE("ask", "bid"),
        F.col("l_extendedprice"),
        F.col("l_quantity"),
    )
    raw = _raw_msgs(li, "zbg", "spot", msg)
    parsed = zbg.parse_trade(raw)
    k = F.col("timestamp") / 1000 - _SEC_BASE
    return _recover_msg_id(parsed, k).select(*_TRADE_OUT)


@query(
    "parse_ftx_swap_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'BTC-PERP' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp, {_SQL_SIDE} AS side,
           round(l_extendedprice, 2) AS price,
           round(l_quantity, 1) AS quantity_base,
           round(round(l_quantity, 1) * round(l_extendedprice, 2)
                 * 1000000000) / 1000000000 AS quantity_quote
    FROM lineitem
    """,
    doc="ftx linear-swap trades: 1-coin contracts (cv=1, round9 quote), "
    "microsecond RFC3339 timestamps with offset (ftx.rs:157-208).",
)
def parse_ftx_swap_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import ftx

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    rfc = F.date_format(
        F.timestamp_millis(ts), "yyyy-MM-dd'T'HH:mm:ss.SSS'000+00:00'"
    )
    msg = F.format_string(
        '{"channel": "trades", "market": "BTC-PERP", "type": "update", '
        '"data": [{"id": %d, "price": %.2f, "size": %.1f, "side": "%s", '
        '"liquidation": false, "time": "%s"}]}',
        _K(),
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        _SIDE("sell", "buy"),
        rfc,
    )
    raw = _raw_msgs(li, "ftx", "linear_swap", msg)
    return _recover_msg_id(ftx.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_dydx_swap_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'BTC-USD' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + {_SQL_K} AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="dydx v3_trades: BUY/SELL sides, createdAt RFC3339, trade_id = "
    "timestamp (dydx_swap.rs:100-140).",
)
def parse_dydx_swap_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import dydx

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + _K()
    msg = F.format_string(
        '{"type":"channel_data","id":"BTC-USD","channel":"v3_trades",'
        '"contents":{"trades":[{"size":"%.1f","side":"%s","price":"%.2f",'
        '"createdAt":"%s"}]}}',
        F.col("l_quantity"),
        _SIDE("SELL", "BUY"),
        F.col("l_extendedprice"),
        _rfc3339(ts),
    )
    raw = _raw_msgs(li, "dydx", "linear_swap", msg)
    parsed = dydx.parse_trade(raw)
    k = F.col("timestamp") - _BASE_TS
    return _recover_msg_id(parsed, k).select(*_TRADE_OUT)


@query(
    "parse_coinbase_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'BTC-USD' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="coinbase_pro match/last_match events (coinbase_pro.rs:96-130).",
)
def parse_coinbase_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import coinbase_pro

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    msg = F.format_string(
        '{"type":"last_match","trade_id":%d,"side":"%s","size":"%.1f",'
        '"price":"%.2f","product_id":"BTC-USD","sequence":1,"time":"%s"}',
        _K(),
        _SIDE("sell", "buy"),
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        _rfc3339(ts),
    )
    raw = _raw_msgs(li, "coinbase_pro", "spot", msg)
    return _recover_msg_id(coinbase_pro.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_bitstamp_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'btcusd' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + {_SQL_K} AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="bitstamp live_trades: microsecond timestamps floored to ms, "
    "numeric type 1 = sell (bitstamp.rs:79-109).",
)
def parse_bitstamp_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bitstamp

    li = _msg_source(spark, sf_dir)
    micro = (F.lit(_BASE_TS) + _K()) * 1000
    msg = F.format_string(
        '{"channel": "live_trades_btcusd", "data": {"amount": %.1f, '
        '"id": %d, "microtimestamp": "%d", "price": %.2f, "type": %d}}',
        F.col("l_quantity"),
        _K(),
        micro,
        F.col("l_extendedprice"),
        F.when(F.col("l_linenumber") % 2 == 0, 1).otherwise(0),
    )
    raw = _raw_msgs(li, "bitstamp", "spot", msg)
    return _recover_msg_id(bitstamp.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_bithumb_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'BTC-USDT' AS symbol, 'BTC/USDT' AS pair,
           ({_SEC_BASE} + l_orderkey) * 1000 AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="bithumb code-00007 single trade: second timestamps, ver ids "
    "(bithumb.rs:78-131).",
)
def parse_bithumb_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bithumb

    li = _msg_source(spark, sf_dir)
    msg = F.format_string(
        '{"code":"00007","data":{"p":"%.2f","s":"%s","symbol":"BTC-USDT",'
        '"t":"%d","v":"%.1f","ver":"%d"},"timestamp":1}',
        F.col("l_extendedprice"),
        _SIDE("sell", "buy"),
        F.lit(_SEC_BASE) + F.col("l_orderkey"),
        F.col("l_quantity"),
        _K(),
    )
    raw = _raw_msgs(li, "bithumb", "spot", msg)
    return _recover_msg_id(bithumb.parse_trade(raw)).select(*_TRADE_OUT)


@query(
    "parse_bitz_spot_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'btc_usdt' AS symbol, 'BTC/USDT' AS pair,
           {_BASE_TS} + {_SQL_K} AS timestamp, {_SQL_SIDE} AS side,
           {_SQL_PQ_PLAIN}
    FROM lineitem
    """,
    doc="bitz Pushdata.order: id carries the ms timestamp, fallback T*1000 "
    "(bitz.rs:70-115).",
)
def parse_bitz_spot_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bitz

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + _K()
    msg = F.format_string(
        '{"msgId":0,"params":{"symbol":"btc_usdt"},"action":"Pushdata.order",'
        '"data":[{"id":"%d","t":"x","T":%d,"p":"%.2f","n":"%.1f","s":"%s"}]}',
        ts,
        (ts / 1000).cast("long"),
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        _SIDE("sell", "buy"),
    )
    raw = _raw_msgs(li, "bitz", "spot", msg)
    parsed = bitz.parse_trade(raw)
    k = F.col("timestamp") - _BASE_TS
    return _recover_msg_id(parsed, k).select(*_TRADE_OUT)


@query(
    "parse_bitmex_inverse_trade",
    oracle=f"""
    SELECT {_SQL_MSGID}, 'XBTUSD' AS symbol, 'BTC/USD' AS pair,
           {_BASE_TS} + l_orderkey AS timestamp, {_SQL_SIDE} AS side,
           round(l_extendedprice, 2) AS price,
           round(CAST(l_quantity AS BIGINT) / 100.0, 4) AS quantity_base,
           CAST(CAST(l_quantity AS BIGINT) * 10 AS DOUBLE) AS quantity_quote,
           CAST(CAST(l_quantity AS BIGINT) * 10 AS DOUBLE)
             AS quantity_contract
    FROM lineitem
    """,
    doc="bitmex trade table: quantities come straight from homeNotional / "
    "foreignNotional / size — the one exchange where qq != round9(p*qb) "
    "(bitmex.rs:660-700, tests/utils.rs:29-31); XBT -> BTC pair rule.",
)
def parse_bitmex_inverse_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import bitmex

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    msg = F.format_string(
        '{"table":"trade","action":"insert","data":[{"timestamp":"%s",'
        '"symbol":"XBTUSD","side":"%s","size":%d,"price":%.2f,'
        '"trdMatchID":"%d","homeNotional":%.4f,"foreignNotional":%d}]}',
        _rfc3339(ts),
        _SIDE("Sell", "Buy"),
        F.col("l_quantity").cast("long") * 10,
        F.col("l_extendedprice"),
        _K(),
        F.col("l_quantity").cast("long") / 100.0,
        F.col("l_quantity").cast("long") * 10,
    )
    raw = _raw_msgs(li, "bitmex", "inverse_swap", msg)
    parsed = bitmex.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        *_TRADE_OUT, "quantity_contract"
    )


# ---------------------------------------------------------------- routing

@query(
    "route_mixed_exchanges",
    oracle=f"""
    WITH src AS (
        SELECT l_orderkey, l_linenumber, l_orderkey % 3 AS fam,
               {_BASE_TS} + l_orderkey AS ts
        FROM lineitem
    )
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           CASE fam WHEN 0 THEN 'huobi' WHEN 1 THEN 'okx' ELSE 'gate' END
             AS exchange,
           CASE fam WHEN 0 THEN 'trade' WHEN 1 THEN 'trade' ELSE 'other' END
             AS routed_msg_type,
           CASE fam WHEN 0 THEN 'btcusdt' WHEN 1 THEN 'BTC-USDT'
                ELSE 'BTC_USDT' END AS routed_symbol,
           ts AS routed_ts
    FROM src
    """,
    doc="pre-parse routing triple over a mixed huobi/okx/gate stream — the "
    "classifier the crawler shards on (SURVEY §3 EP3); gate routes to "
    "'other' because the reference has no gate get_msg_type (lib.rs:327).",
)
def route_mixed_exchanges(spark, sf_dir):
    from crypto_msg_parser_spark.parser import api

    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    fam = F.col("l_orderkey") % 3
    huobi_msg = F.format_string(
        '{"ch":"market.btcusdt.trade.detail","ts":%d,"tick":{"id":1,'
        '"ts":%d,"data":[{"id":7,"ts":%d,"tradeId":9,"amount":1.0,'
        '"price":2.0,"direction":"buy"}]}}',
        ts, ts, ts,
    )
    okx_msg = F.format_string(
        '{"arg":{"channel":"trades","instId":"BTC-USDT"},"data":'
        '[{"instId":"BTC-USDT","tradeId":"1","px":"2.0","sz":"1.0",'
        '"side":"buy","ts":"%d"}]}',
        ts,
    )
    gate_msg = F.format_string(
        '{"time":%d,"channel":"spot.trades","event":"update","result":'
        '{"id":1,"create_time":%d,"create_time_ms":"%d","side":"buy",'
        '"currency_pair":"BTC_USDT","amount":"1.0","price":"2.0"}}',
        (ts / 1000).cast("long"), (ts / 1000).cast("long"), ts,
    )
    raw = li.select(
        _msg_id().alias("msg_id"),
        F.when(fam == 0, "huobi").when(fam == 1, "okx").otherwise("gate").alias("exchange"),
        F.lit("spot").alias("market_type"),
        F.lit(None).cast("long").alias("received_at"),
        F.when(fam == 0, huobi_msg).when(fam == 1, okx_msg).otherwise(gate_msg).alias("msg"),
    ).localCheckpoint(eager=False)
    routed = api.route(raw)
    return routed.select(
        "msg_id", "exchange", "routed_msg_type", "routed_symbol", "routed_ts"
    )


# ---------------------------------------------------------------- okx

def _okx_swap_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    inst = F.when(F.col("l_partkey") % 2 == 0, "BTC-USDT-SWAP").otherwise(
        "ETH-USDT-SWAP"
    )
    msg = F.format_string(
        '{"arg":{"channel":"trades","instId":"%s"},"data":'
        '[{"instId":"%s","tradeId":"%d","px":"%.2f","sz":"%d",'
        '"side":"%s","ts":"%d"}]}',
        inst,
        inst,
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.col("l_extendedprice"),
        F.col("l_quantity").cast("long"),
        F.when(F.col("l_linenumber") % 2 == 0, "sell").otherwise("buy"),
        ts,
    )
    return _raw_msgs(li, "okx", "linear_swap", msg)


@query(
    "parse_okx_swap_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USDT-SWAP'
                ELSE 'ETH-USDT-SWAP' END AS symbol,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC/USDT' ELSE 'ETH/USDT' END
             AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(CAST(l_quantity AS BIGINT)
                 * (CASE WHEN l_partkey % 2 = 0 THEN 0.01 ELSE 0.1 END)
                 * 1000000000) / 1000000000 AS quantity_base,
           round(CAST(l_quantity AS BIGINT)
                 * (CASE WHEN l_partkey % 2 = 0 THEN 0.01 ELSE 0.1 END)
                 * round(l_extendedprice, 2) * 1000000000) / 1000000000
             AS quantity_quote,
           CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS quantity_contract
    FROM lineitem
    """,
    doc="okx v5 linear-swap trade: data[] fan-out + broadcast contract "
    "multipliers (BTC 0.01 / ETH 0.1 coin per contract, "
    "crypto-contract-value okx.rs) + round9 linear quantity triple.",
)
def parse_okx_swap_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import okx

    raw = _okx_swap_trade_msgs(spark, sf_dir)
    parsed = okx.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id", "symbol", "pair", "timestamp", "side",
        "quantity_base", "quantity_quote", "quantity_contract",
    )


def _okx_v3_swap_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    inst = F.when(F.col("l_partkey") % 2 == 0, "BTC-USDT-SWAP").otherwise(
        "ETH-USDT-SWAP"
    )
    rfc = F.date_format(
        F.timestamp_millis(ts), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    )
    msg = F.format_string(
        '{"table":"swap/trade","data":[{"side":"%s","trade_id":"%d",'
        '"price":"%.2f","size":"%d","instrument_id":"%s","timestamp":"%s"}]}',
        F.when(F.col("l_linenumber") % 2 == 0, "sell").otherwise("buy"),
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        F.col("l_extendedprice"),
        F.col("l_quantity").cast("long"),
        inst,
        rfc,
    )
    return _raw_msgs(li, "okx", "linear_swap", msg)


@query(
    "parse_okx_v3_swap_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC-USDT-SWAP'
                ELSE 'ETH-USDT-SWAP' END AS symbol,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC/USDT' ELSE 'ETH/USDT' END
             AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           round(CAST(l_quantity AS BIGINT)
                 * (CASE WHEN l_partkey % 2 = 0 THEN 0.01 ELSE 0.1 END)
                 * 1000000000) / 1000000000 AS quantity_base,
           round(CAST(l_quantity AS BIGINT)
                 * (CASE WHEN l_partkey % 2 = 0 THEN 0.01 ELSE 0.1 END)
                 * round(l_extendedprice, 2) * 1000000000) / 1000000000
             AS quantity_quote,
           CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS quantity_contract
    FROM lineitem
    """,
    doc="okx legacy v3 linear-swap trade: table-keyed envelope sniffing "
    "(okx/mod.rs:15-28) + RFC3339-ms timestamp normalization "
    "(okx_v3.rs:134-184) through the same single-pass superset-schema "
    "parser as v5; quantity math must agree with parse_okx_swap_trade.",
)
def parse_okx_v3_swap_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import okx

    raw = _okx_v3_swap_trade_msgs(spark, sf_dir)
    parsed = okx.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id", "symbol", "pair", "timestamp", "side",
        "quantity_base", "quantity_quote", "quantity_contract",
    )


# ---------------------------------------------------------------- deribit

def _deribit_trade_msgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _msg_source(spark, sf_dir)
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    inst = F.when(F.col("l_partkey") % 2 == 0, "BTC-PERPETUAL").otherwise(
        "ETH-PERPETUAL"
    )
    # deribit amounts are USD notionals in multiples of the 10/1 USD tick
    amount = F.col("l_quantity").cast("long") * 10
    msg = F.format_string(
        '{"jsonrpc":"2.0","method":"subscription","params":{"channel":'
        '"trades.%s.raw","data":[{"trade_seq":%d,"trade_id":"%d",'
        '"timestamp":%d,"price":%.2f,"instrument_name":"%s",'
        '"direction":"%s","amount":%d}]}}',
        inst,
        F.col("l_orderkey"),
        F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        ts,
        F.col("l_extendedprice"),
        inst,
        F.when(F.col("l_linenumber") % 2 == 0, "sell").otherwise("buy"),
        amount,
    )
    return _raw_msgs(li, "deribit", "inverse_swap", msg)


@query(
    "parse_deribit_inverse_trade",
    oracle=f"""
    SELECT l_orderkey || ':' || l_linenumber AS msg_id,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC-PERPETUAL'
                ELSE 'ETH-PERPETUAL' END AS symbol,
           CASE WHEN l_partkey % 2 = 0 THEN 'BTC/USD' ELSE 'ETH/USD' END
             AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           (CAST(l_quantity AS BIGINT) * 10 *
            (CASE WHEN l_partkey % 2 = 0 THEN 10.0 ELSE 1.0 END))
             / round(l_extendedprice, 2) AS quantity_base,
           CAST(l_quantity AS BIGINT) * 10 *
            (CASE WHEN l_partkey % 2 = 0 THEN 10.0 ELSE 1.0 END)
             AS quantity_quote,
           CAST(CAST(l_quantity AS BIGINT) * 10 AS DOUBLE)
             AS quantity_contract
    FROM lineitem
    """,
    doc="deribit inverse-swap trade: closed-form contract value (BTC 10 "
    "USD, others 1 USD — crypto-contract-value deribit.rs) + inverse "
    "quantity triple over JSON-RPC envelopes.",
)
def parse_deribit_inverse_trade(spark, sf_dir):
    from crypto_msg_parser_spark.parser import deribit

    raw = _deribit_trade_msgs(spark, sf_dir)
    parsed = deribit.parse_trade(raw)
    return _recover_msg_id(parsed).select(
        "msg_id", "symbol", "pair", "timestamp", "side",
        "quantity_base", "quantity_quote", "quantity_contract",
    )


@query(
    "proto_trade_roundtrip",
    oracle=f"""
    SELECT {_SQL_SPOT_SYMBOL} AS symbol,
           {_SQL_SPOT_PAIR} AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
           CAST(CAST(round(l_extendedprice, 2) AS REAL) AS DOUBLE) AS price,
           CAST(CAST(round(l_quantity, 1) AS REAL) AS DOUBLE)
             AS quantity_base,
           CAST(CAST(round(round(l_quantity, 1) * round(l_extendedprice, 2)
                           * 1000000000) / 1000000000 AS REAL) AS DOUBLE)
             AS quantity_quote,
           CAST(NULL AS DOUBLE) AS quantity_contract
    FROM lineitem
    """,
    doc="protobuf WIRE-FORMAT round trip as a correctness row: the real "
    "parse pipeline's TradeMsg rows encoded to proto3 bytes and decoded "
    "back (TradeMsg::to_proto/from_proto, crypto-message/src/lib.rs:"
    "283-331) through the Arrow-batched mapInPandas codec stages. The "
    "oracle reproduces the wire's float32 precision in closed form — "
    "CAST(x AS REAL) is the same IEEE round-to-nearest-even conversion "
    "as the codec's struct.pack('<f'), widened back to double — so the "
    "value-hash gate covers varint/fixed32 encode+decode, proto3 "
    "default-omission (side=buy, zero quantities), optional-field "
    "presence (spot qc absent -> NULL), and ms->(s,ns)->ms timestamp "
    "exactness. Scale shape: two narrow mapInPandas stages, no shuffle.",
)
def proto_trade_roundtrip(spark, sf_dir):
    from crypto_msg_parser_spark.proto_sink import (
        from_proto_trades,
        to_proto_trades,
    )

    raw = _spot_trade_msgs(spark, sf_dir)
    parsed = binance.parse_trade(raw)
    back = from_proto_trades(to_proto_trades(parsed))
    return back.select(
        "symbol", "pair", "timestamp", "side", "price",
        "quantity_base", "quantity_quote", "quantity_contract",
    )


@query(
    "proto_orderbook_roundtrip",
    oracle=f"""
    WITH src AS (SELECT * FROM lineitem WHERE l_orderkey % 7 = 0),
    lv AS (
      SELECT l_orderkey, l_partkey, l_extendedprice, l_quantity,
             unnest([
               struct_pack(side := 'ask', idx := 1,
                           price := round(l_extendedprice + 1, 2),
                           qty := round(l_quantity, 1)),
               struct_pack(side := 'ask', idx := 2,
                           price := round(l_extendedprice + 2, 2),
                           qty := round(l_quantity + 1, 1)),
               struct_pack(side := 'bid', idx := 1,
                           price := round(l_extendedprice - 1, 2),
                           qty := round(l_quantity, 1)),
               struct_pack(side := 'bid', idx := 2,
                           price := round(l_extendedprice - 2, 2),
                           qty := round(l_quantity + 1, 1))
             ]) AS o
      FROM src)
    SELECT {_SQL_SPOT_SYMBOL} AS symbol,
           {_SQL_SPOT_PAIR} AS pair,
           {_BASE_TS} + l_orderkey AS timestamp,
           FALSE AS snapshot,
           o.side AS side, o.idx AS idx,
           CAST(CAST(o.price AS REAL) AS DOUBLE) AS price,
           CAST(CAST(o.qty AS REAL) AS DOUBLE) AS quantity_base,
           CAST(CAST(round(o.qty * o.price * 1000000000) / 1000000000
                     AS REAL) AS DOUBLE) AS quantity_quote,
           CAST(NULL AS DOUBLE) AS quantity_contract
    FROM lv
    """,
    doc="orderbook protobuf WIRE-FORMAT round trip as a correctness row — "
    "the OrderBookMsg twin of proto_trade_roundtrip (OrderBookMsg::"
    "to_proto/from_proto, crypto-message/src/lib.rs:385-469): the real "
    "binance depth parse's OrderBookMsg rows encoded to proto3 bytes and "
    "decoded back through the Arrow-batched mapInPandas codec stages, "
    "then posexploded so the value-hash gate checks REPEATED-field "
    "semantics the trade row cannot: per-level submessage framing, "
    "level ORDER preservation within each side (idx from posexplode), "
    "snapshot=false default-omission, spot quantity_contract absent -> "
    "NULL, and per-level f32 precision (oracle wraps every level value "
    "in CAST(x AS REAL) — IEEE round-to-nearest-even, identical to the "
    "codec's struct.pack('<f')). Scale shape: two narrow mapInPandas "
    "stages + Generate, no shuffle until the checking union.",
)
def proto_orderbook_roundtrip(spark, sf_dir):
    from crypto_msg_parser_spark.proto_sink import (
        from_proto_orderbooks,
        to_proto_orderbooks,
    )

    raw = _l2_msgs(spark, sf_dir)
    parsed = binance.parse_l2(raw)
    back = from_proto_orderbooks(to_proto_orderbooks(parsed))
    sides = [
        back.select(
            "symbol", "pair", "timestamp", "snapshot",
            F.lit(name).alias("side"), F.posexplode(name + "s"),
        )
        for name in ("ask", "bid")
    ]
    both = sides[0].unionByName(sides[1])
    return both.select(
        "symbol", "pair", "timestamp", "snapshot", "side",
        (F.col("pos") + 1).cast("int").alias("idx"),
        F.col("col.price").alias("price"),
        F.col("col.quantity_base").alias("quantity_base"),
        F.col("col.quantity_quote").alias("quantity_quote"),
        F.col("col.quantity_contract").alias("quantity_contract"),
    )


@query(
    "stream_candles_1m",
    streaming=True,
    oracle=f"""
    WITH trades AS (
        SELECT {_SQL_SPOT_SYMBOL} AS symbol,
               {_BASE_TS} + l_orderkey * 997 AS ts,
               round(l_extendedprice, 2) AS price,
               round(l_quantity, 1) AS qty,
               (l_orderkey * 10 + l_linenumber) * 1000000000.0
                 + round(l_extendedprice, 2) * 100 AS seq
        FROM lineitem
    )
    SELECT symbol,
           ts - ts % 60000 AS window_start,
           min(price) AS low,
           max(price) AS high,
           CAST(sum(CAST(round(qty * 10) AS BIGINT)) AS BIGINT) / 10.0 AS volume,
           CAST(sum(CAST(round(price * 100) AS BIGINT)
                    * CAST(round(qty * 10) AS BIGINT)) AS BIGINT)
             / 1000.0 AS quote_volume,
           arg_min(price, seq) AS open,
           arg_max(price, seq) AS close,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM trades
    GROUP BY symbol, ts - ts % 60000
    """,
    doc="STREAMING OHLCV candles fed by the REAL parse pipeline: raw "
    "binance aggTrade wire messages arrive as a 3-micro-batch file "
    "stream, flow through the full parse_trade plan (from_json + "
    "broadcast pair/contract dicts + quantity math — stream-static "
    "joins, zero per-row Python), then a 1-minute event-time tumbling "
    "window with a 1h watermark aggregates OHLCV in append mode under "
    "Trigger.availableNow. Append mode only emits a window once the "
    "watermark passes its end, so the last micro-batch is a single "
    "sentinel-symbol FLUSHER trade 2h past the global max event time "
    "(built in-plan from the same table — no collect); it advances the "
    "watermark past every real window while its OWN window is never "
    "emitted (the watermark stops 1h short of it, so it dies in state "
    "when availableNow terminates). The sentinel must NOT be filtered "
    "between withWatermark and the aggregation: Catalyst pushes that "
    "deterministic filter below the EventTimeWatermark node, removing "
    "the row before it can advance the watermark — measured as "
    "eventTime.max=None in the sentinel micro-batch and 61 unflushed "
    "trailing windows per symbol. The oracle is the closed-form batch "
    "recompute "
    "(candles_recompute_1m's shape): a correct run emits EXACTLY the "
    "batch result — an unflushed (stuck-watermark) or dropped-late run "
    "fails the row count. open/close via arg_min/arg_max on a seq key "
    "that totals-orders trades within a minute in both engines; "
    "volume/quote_volume are summed in exact integer minor units "
    "(price on a cent grid, qty on a deci grid by construction) so "
    "streaming partial-agg order cannot drift the last float bits.",
)
def stream_candles_1m(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    ts = F.lit(_BASE_TS) + F.col("l_orderkey") * 997

    def wire(df, sym, t):
        msg = F.format_string(
            '{"stream":"%s@aggTrade","data":{"e":"aggTrade","E":%d,"s":"%s",'
            '"a":%d,"p":"%.2f","q":"%.1f","f":1,"l":2,"T":%d,"m":%s}}',
            F.lower(sym),
            t,
            sym,
            F.col("l_orderkey") * 10 + F.col("l_linenumber"),
            F.col("l_extendedprice"),
            F.col("l_quantity"),
            t - 2,
            F.when(F.col("l_linenumber") % 2 == 0, "true").otherwise("false"),
        )
        return df.select(
            F.lit("spot").alias("market_type"),
            msg.alias("msg"),
            F.lit(None).cast("long").alias("received_at"),
        )

    b1 = wire(li.filter(F.col("l_orderkey") % 2 == 1), _spot_symbol(), ts)
    b2 = wire(li.filter(F.col("l_orderkey") % 2 == 0), _spot_symbol(), ts)
    # flusher: ONE far-future sentinel trade, built in-plan from the same
    # table's max ts (agg -> 1 row; no driver-side collect)
    flush = wire(
        li.agg(
            F.max(F.col("l_orderkey")).alias("l_orderkey"),
            F.lit(1).alias("l_linenumber"),
            F.lit(1.0).alias("l_extendedprice"),
            F.lit(1.0).alias("l_quantity"),
        ),
        F.lit("ZZZUSDT"),
        ts + 7200000,
    )

    def candles(stream):
        parsed = binance.parse_trade(stream)
        tid = F.col("trade_id").cast("long")
        evt = parsed.select(
            "symbol",
            "price",
            F.col("quantity_base").alias("qty"),
            (tid * 1000000000.0 + F.col("price") * 100).alias("seq"),
            F.timestamp_millis(F.col("timestamp")).alias("evt"),
        )
        # NO symbol filter here: a deterministic filter between
        # withWatermark and groupBy is pushed below the
        # EventTimeWatermark node by Catalyst, deleting the sentinel
        # before it can advance the watermark (last hour of windows
        # then never flushes). The sentinel window self-excludes: the
        # watermark ends 1h short of it, so append mode never emits it.
        return (
            evt.withWatermark("evt", "1 hour")
            .groupBy(F.window("evt", "1 minute").alias("w"), F.col("symbol"))
            .agg(
                F.min("price").alias("low"),
                F.max("price").alias("high"),
                # exact integer minor-unit sums (see candles_recompute_1m):
                # a 1e-9 post-round cannot repair the ~1.5e-8 ulp of an
                # order-dependent float sum at sf0.01 magnitudes
                (F.sum(F.round(F.col("qty") * 10).cast("long")) / 10.0)
                .alias("volume"),
                (
                    F.sum(
                        (
                            F.round(F.col("price") * 100)
                            * F.round(F.col("qty") * 10)
                        ).cast("long")
                    )
                    / 1000.0
                ).alias("quote_volume"),
                F.min_by("price", F.col("seq")).alias("open"),
                F.max_by("price", F.col("seq")).alias("close"),
                F.count(F.lit(1)).alias("n_trades"),
            )
            .select(
                "symbol",
                (F.unix_millis(F.col("w.start"))).alias("window_start"),
                "low", "high", "volume", "quote_volume",
                "open", "close", "n_trades",
            )
        )

    return drain_available_now(
        spark,
        [b1, b2, flush],
        candles,
        schema="market_type string, msg string, received_at long",
        max_files_per_trigger=1,
        name="stream_candles",
    )


# ------------------------------------- streaming L2 book maintenance
#
# The stateful consumer loop every reference user runs LIVE (apply each
# depth delta to a held book; crypto-crawler's order-book mode), as a
# Structured Streaming job: l2_book_reconstruct is the batch/replay twin
# (order-insensitive LWW aggregation); this is the incremental twin whose
# book SURVIVES across micro-batches in keyed state. Prices live on a
# bounded 200-slot-per-side grid so cross-batch updates to the SAME level
# are guaranteed at every SF, and the three micro-batches INTERLEAVE
# seq_ids (batch = (orderkey DIV 7) % 3, not a seq-range split): a state
# update that overwrites a level in arrival order instead of merging by
# LWW(seq) is wrong from epoch 1 on (tested negative arm in
# tests/test_streaming.py).

_BOOK_EPOCHS = 3


def _sql_stream_book_oracle() -> str:
    # dedupe duplicate (l_orderkey, l_linenumber) rows identically to the
    # generator (per-column min) so seq is unique per wire message
    src = (
        f"src AS (SELECT {_SQL_SPOT_SYMBOL} AS symbol, "
        "l_orderkey*100 + l_linenumber AS seq, "
        "(l_orderkey // 7) % 3 AS batch_id, "
        "CAST(l_quantity AS DOUBLE) AS q "
        "FROM (SELECT l_orderkey, l_linenumber, "
        "min(l_quantity) AS l_quantity, min(l_partkey) AS l_partkey "
        "FROM lineitem WHERE l_orderkey % 7 = 0 "
        "GROUP BY l_orderkey, l_linenumber))"
    )
    # the four grid levels per message; qty 0 when seq % 10 = 3 (delete)
    lv_arms = []
    for side, slot, base, dq in (
        ("bid", "((seq*7)%100)*2", 100, "q"),
        ("bid", "((seq*11)%100)*2+1", 100, "q+1"),
        ("ask", "((seq*13)%100)*2", 300, "q"),
        ("ask", "((seq*17)%100)*2+1", 300, "q+1"),
    ):
        lv_arms.append(
            f"SELECT symbol, seq, batch_id, '{side}' AS side, "
            f"{base} + ({slot})*0.25 AS price, "
            f"CASE WHEN seq%10=3 THEN 0.0 ELSE {dq} END AS qty FROM src"
        )
    lv = "lv AS (" + " UNION ALL ".join(lv_arms) + ")"
    epochs = []
    for b in range(_BOOK_EPOCHS):
        epochs.append(
            f"""
            SELECT bk.symbol, {b} AS epoch,
                   CAST(count(*) FILTER (WHERE side='bid' AND qty>0) AS INT)
                     AS n_bids,
                   CAST(count(*) FILTER (WHERE side='ask' AND qty>0) AS INT)
                     AS n_asks,
                   max(price) FILTER (WHERE side='bid' AND qty>0) AS best_bid,
                   min(price) FILTER (WHERE side='ask' AND qty>0) AS best_ask,
                   COALESCE(CAST(sum(CAST(round(qty*10) AS BIGINT))
                     FILTER (WHERE side='bid' AND qty>0) AS BIGINT), 0)
                     AS bid_qty_deci,
                   COALESCE(CAST(sum(CAST(round(qty*10) AS BIGINT))
                     FILTER (WHERE side='ask' AND qty>0) AS BIGINT), 0)
                     AS ask_qty_deci,
                   (SELECT max(seq) FROM lv x WHERE x.batch_id <= {b}
                      AND x.symbol = bk.symbol) AS last_seq
            FROM (SELECT symbol, side, price, arg_max(qty, seq) AS qty
                  FROM lv WHERE batch_id <= {b}
                  GROUP BY symbol, side, price) bk
            WHERE bk.symbol IN (SELECT symbol FROM lv WHERE batch_id = {b})
            GROUP BY bk.symbol
            """
        )
    return (
        "WITH " + src + ", " + lv + " "
        + " UNION ALL ".join(epochs)
    )


@query(
    "stream_book_reconstruct",
    streaming=True,
    oracle=_sql_stream_book_oracle(),
    doc="STREAMING order-book maintenance through the real parse plan "
    "(the live twin of l2_book_reconstruct; binance_all.rs:198-238 "
    "depth semantics carried into OrderBookMsg seq ids, "
    "crypto-message/src/lib.rs:117-121; qty-0 deletes): 3-micro-batch file stream of wire "
    "depthUpdate messages -> full parse_l2 (from_json, dict broadcasts, "
    "central snapshot sort — all JVM-side) -> one explode to level rows "
    "-> per-symbol book state in applyInPandasWithState, merged by "
    "LWW(seq_id) so out-of-order arrival cannot corrupt the book (the "
    "three batches deliberately interleave seqs). Each epoch emits the "
    "held book's summary (level counts, best bid/ask, integer deci-qty "
    "depth, max seq) — the oracle recomputes every epoch's prefix "
    "closed-form with arg_max(qty, seq), so a book that loses state "
    "across batches, applies deltas in arrival order, or mishandles "
    "deletes fails from epoch 1 on. Scale shape: state is keyed by "
    "symbol and bounded by the live level count (the grid caps it at "
    "400/symbol; real books are similarly bounded by exchange depth "
    "limits), per-batch work is one shuffle to the state key; at 1000 "
    "executors each symbol's book lives on exactly one state partition "
    "— the same layout RocksDB state stores use. Emission is per-batch "
    "append (observability rows), not a full-book dump.",
)
def stream_book_reconstruct(spark, sf_dir):
    import json as _json

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # The synthetic lineitem carries duplicate (l_orderkey, l_linenumber)
    # pairs with differing l_quantity; seq = orderkey*100 + linenumber
    # would assign ONE sequence id to two depth messages with different
    # level qtys, making the LWW(seq) winner engine-/arrival-dependent.
    # Dedupe the source rows deterministically (per-column min) before
    # message generation — the oracle dedupes identically — so every
    # wire message owns a unique seq at every SF by construction.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 7 == 0)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.min("l_quantity").alias("l_quantity"),
            F.min("l_partkey").alias("l_partkey"),
        )
    )
    seq = (F.col("l_orderkey") * 100 + F.col("l_linenumber")).cast("long")
    ts = F.lit(_BASE_TS) + F.col("l_orderkey")
    q = F.col("l_quantity")
    zero = F.col("l_orderkey") * 100 + F.col("l_linenumber")

    def qty(base):
        return F.when(zero % 10 == 3, F.lit(0.0)).otherwise(base)

    def grid(mult, base, odd):
        slot = (seq * mult) % 100 * 2 + (1 if odd else 0)
        return F.lit(float(base)) + slot.cast("double") * 0.25

    msg = F.format_string(
        '{"stream":"%s@depth","data":{"e":"depthUpdate","E":%d,"s":"%s",'
        '"U":%d,"u":%d,"pu":%d,'
        '"b":[["%.2f","%.1f"],["%.2f","%.1f"]],'
        '"a":[["%.2f","%.1f"],["%.2f","%.1f"]]}}',
        F.lower(_spot_symbol()),
        ts,
        _spot_symbol(),
        seq,
        seq,
        seq - 1,
        grid(7, 100, False), qty(q),
        grid(11, 100, True), qty(q + 1),
        grid(13, 300, False), qty(q),
        grid(17, 300, True), qty(q + 1),
    )
    wire = li.select(
        F.lit("spot").alias("market_type"),
        msg.alias("msg"),
        F.lit(None).cast("long").alias("received_at"),
        (F.expr("l_orderkey DIV 7") % 3).alias("batch_id"),
    )

    out_ddl = (
        "symbol string, epoch int, n_bids int, n_asks int, "
        "best_bid double, best_ask double, "
        "bid_qty_deci bigint, ask_qty_deci bigint, last_seq bigint"
    )

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            blob, last_seq = state.get
            book = {tuple(k.split("|", 1)): v for k, v in _json.loads(blob).items()}
        else:
            book, last_seq = {}, -1
        epoch = -1
        for pdf in pdfs:
            for r in pdf.itertuples():
                epoch = max(epoch, int(r.batch_id))
                lk = (r.side, repr(float(r.price)))
                cur = book.get(lk)
                # LWW by seq: batches interleave seqs, so arrival order
                # is NOT update order — only a newer seq may overwrite
                if cur is None or r.seq_id > cur[1]:
                    book[lk] = [float(r.qty), int(r.seq_id)]
                if r.seq_id > last_seq:
                    last_seq = int(r.seq_id)
        state.update(
            (_json.dumps({f"{s}|{p}": v for (s, p), v in book.items()}), last_seq)
        )
        live = [(s, float(p), v[0]) for (s, p), v in book.items() if v[0] > 0]
        bids = [(p, qv) for s, p, qv in live if s == "bid"]
        asks = [(p, qv) for s, p, qv in live if s == "ask"]
        yield pd.DataFrame(
            [
                {
                    "symbol": key[0],
                    "epoch": epoch,
                    "n_bids": len(bids),
                    "n_asks": len(asks),
                    "best_bid": max(p for p, _ in bids) if bids else None,
                    "best_ask": min(p for p, _ in asks) if asks else None,
                    "bid_qty_deci": sum(int(round(qv * 10)) for _, qv in bids),
                    "ask_qty_deci": sum(int(round(qv * 10)) for _, qv in asks),
                    "last_seq": last_seq,
                }
            ]
        )

    def book(stream):
        parsed = binance.parse_l2(stream)
        lv = parsed.select(
            "symbol",
            "seq_id",
            # batch_id is a pure projection of seq_id — no join-back
            (F.expr("(seq_id DIV 100) DIV 7") % 3).alias("batch_id"),
            F.explode(
                F.concat(
                    F.transform(
                        "asks",
                        lambda x: F.struct(
                            F.lit("ask").alias("side"),
                            x["price"].alias("price"),
                            x["quantity_base"].alias("qty"),
                        ),
                    ),
                    F.transform(
                        "bids",
                        lambda x: F.struct(
                            F.lit("bid").alias("side"),
                            x["price"].alias("price"),
                            x["quantity_base"].alias("qty"),
                        ),
                    ),
                )
            ).alias("lv"),
        ).select(
            "symbol",
            "seq_id",
            "batch_id",
            F.col("lv.side").alias("side"),
            F.col("lv.price").alias("price"),
            F.col("lv.qty").alias("qty"),
        )
        return lv.groupBy("symbol").applyInPandasWithState(
            update,
            outputStructType=out_ddl,
            stateStructType="book string, last_seq bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return drain_available_now(
        spark,
        [wire.filter(F.col("batch_id") == i) for i in range(_BOOK_EPOCHS)],
        book,
        schema="market_type string, msg string, received_at long, batch_id bigint",
        max_files_per_trigger=1,
        name="stream_book",
    )


# --------------------------------- streaming book resync after seq gap
#
# The reference's LIVE failure-recovery protocol (binance depth chain:
# apply only pu == last_u; on mismatch the client is OUT OF SYNC, must
# discard deltas and re-seed from a REST snapshot whose lastUpdateId
# bridges the gap). l2_seq_gap_detect FLAGS gaps; this row ACTS on one:
# a 20-message hole is punched into one symbol's second micro-batch, the
# keyed state machine desyncs at the break, discards the tail, accepts
# the snapshot that opens batch 3 (prev_seq_id NULL = snapshot marker;
# it REPLACES the book), and chains cleanly on the post-snapshot deltas.
# The healed final book equals the no-gap truth — including the effects
# of the never-delivered messages, which arrive via the snapshot — and
# the oracle checks every epoch's book, sync flag, and cumulative
# discard count closed-form.

_RESYNC_GAP_SYMBOL = "BTCUSDT"


def _sql_resync_oracle() -> str:
    # k = per-symbol dense message index; bounds b0/b1 are the batch
    # edges, the gap is (b0+10, b0+30] for the gapped symbol only
    return f"""
    WITH src AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             row_number() OVER (
               PARTITION BY {_SQL_SPOT_SYMBOL}
               ORDER BY l_orderkey, l_linenumber, l_quantity) AS k,
             CAST(l_quantity AS DOUBLE) AS q
      FROM lineitem WHERE l_orderkey % 7 = 0),
    bounds AS (
      SELECT symbol, max(k) AS n,
             (max(k) * 2) // 5 AS b0, (max(k) * 7) // 10 AS b1
      FROM src GROUP BY symbol),
    lv AS (
      SELECT symbol, k, 'bid' AS side, 100 + ((k*7)%100)*2*0.25 AS price,
             CASE WHEN k%10=3 THEN 0.0 ELSE q END AS qty FROM src
      UNION ALL SELECT symbol, k, 'bid', 100 + (((k*11)%100)*2+1)*0.25,
             CASE WHEN k%10=3 THEN 0.0 ELSE q+1 END FROM src
      UNION ALL SELECT symbol, k, 'ask', 300 + ((k*13)%100)*2*0.25,
             CASE WHEN k%10=3 THEN 0.0 ELSE q END FROM src
      UNION ALL SELECT symbol, k, 'ask', 300 + (((k*17)%100)*2+1)*0.25,
             CASE WHEN k%10=3 THEN 0.0 ELSE q+1 END FROM src),
    epochs AS (SELECT * FROM (VALUES (0), (1), (2)) e(epoch)),
    -- messages APPLIED by the correct state machine at each epoch end
    applied AS (
      SELECT l.symbol, e.epoch, l.side, l.price, l.qty, l.k
      FROM lv l JOIN bounds b ON l.symbol = b.symbol
      CROSS JOIN epochs e
      WHERE l.k <= CASE e.epoch
          WHEN 0 THEN b.b0
          WHEN 1 THEN CASE WHEN l.symbol = '{_RESYNC_GAP_SYMBOL}'
                           THEN b.b0 + 10 ELSE b.b1 END
          ELSE b.n END),
    book AS (
      SELECT symbol, epoch, side, price, arg_max(qty, k) AS qty
      FROM applied GROUP BY symbol, epoch, side, price)
    SELECT bk.symbol, bk.epoch,
           CAST(NOT (bk.symbol = '{_RESYNC_GAP_SYMBOL}' AND bk.epoch = 1)
                AS BOOLEAN) AS in_sync,
           CAST(count(*) FILTER (WHERE side='bid' AND qty>0) AS INT)
             AS n_bids,
           CAST(count(*) FILTER (WHERE side='ask' AND qty>0) AS INT)
             AS n_asks,
           max(price) FILTER (WHERE side='bid' AND qty>0) AS best_bid,
           min(price) FILTER (WHERE side='ask' AND qty>0) AS best_ask,
           COALESCE(CAST(sum(CAST(round(qty*10) AS BIGINT))
             FILTER (WHERE side='bid' AND qty>0) AS BIGINT), 0)
             AS bid_qty_deci,
           COALESCE(CAST(sum(CAST(round(qty*10) AS BIGINT))
             FILTER (WHERE side='ask' AND qty>0) AS BIGINT), 0)
             AS ask_qty_deci,
           CAST(CASE WHEN bk.symbol = '{_RESYNC_GAP_SYMBOL}'
                     AND bk.epoch >= 1
                THEN b.b1 - (b.b0 + 30) ELSE 0 END AS BIGINT)
             AS n_discarded,
           CAST(CASE bk.epoch WHEN 0 THEN b.b0
                WHEN 1 THEN CASE WHEN bk.symbol = '{_RESYNC_GAP_SYMBOL}'
                                 THEN b.b0 + 10 ELSE b.b1 END
                ELSE b.n END AS BIGINT) AS last_seq
    FROM book bk JOIN bounds b ON bk.symbol = b.symbol
    GROUP BY bk.symbol, bk.epoch, b.b0, b.b1, b.n
    """


@query(
    "stream_book_resync",
    streaming=True,
    oracle=_sql_resync_oracle(),
    doc="STREAMING sequence-gap recovery — the reference client's "
    "binance depth resync protocol (the pu/prev_seq_id chain the "
    "reference carries for exactly this purpose: binance_all.rs:68 "
    "documents pu as the previous event's u, parse_l2 maps it to "
    "prev_seq_id at binance_all.rs:216, and OrderBookMsg persists both "
    "ids through every codec, crypto-message/src/lib.rs:117-121) as a "
    "keyed state machine: apply a "
    "delta only when prev_seq_id == held last_seq; on mismatch DESYNC "
    "(discard deltas, count them); accept a snapshot (prev_seq_id "
    "NULL, seq_id > last_seq) by REPLACING the book and re-chaining. A "
    "20-message hole is punched into one symbol's batch-1 tail; batch "
    "2 opens with a snapshot whose levels are the closed-form LWW book "
    "through batch 1 (built in-plan by the generator — it contains the "
    "never-delivered messages' effects, exactly like the exchange's "
    "REST book), so the healed epoch-2 book equals the no-gap truth "
    "while epoch 1 shows in_sync=false and the exact discard count. A "
    "client that ignored the chain break would keep a book missing the "
    "hole's effects — tests/test_streaming.py simulates both machines "
    "closed-form and pins their divergence. Scale shape: identical to "
    "stream_book_reconstruct (per-symbol keyed state, one shuffle per "
    "batch); the snapshot path adds only a per-desynced-symbol message.",
)
def stream_book_resync(spark, sf_dir):
    import json as _json

    import pandas as pd
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 7 == 0)
    # (l_orderkey, l_linenumber) DUPLICATES in the synthetic lineitem —
    # a bare row_number over it is engine-nondeterministic; l_quantity is
    # the only column that enters the message, so adding it to the order
    # makes every residual tie output-identical
    wk = W.partitionBy(_spot_symbol()).orderBy(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    base = li.select(
        _spot_symbol().alias("symbol"),
        F.row_number().over(wk).cast("long").alias("k"),
        F.col("l_quantity").cast("double").alias("q"),
    ).localCheckpoint(eager=False)
    wb = W.partitionBy("symbol")
    bounded = base.select(
        "symbol", "k", "q",
        F.max("k").over(wb).alias("n"),
        F.expr("(max(k) OVER (PARTITION BY symbol) * 2) DIV 5").alias("b0"),
        F.expr("(max(k) OVER (PARTITION BY symbol) * 7) DIV 10").alias("b1"),
    )

    k = F.col("k")

    def qty(basecol):
        return F.when(k % 10 == 3, F.lit(0.0)).otherwise(basecol)

    def grid(mult, basep, odd):
        slot = (k * mult) % 100 * 2 + (1 if odd else 0)
        return F.lit(float(basep)) + slot.cast("double") * 0.25

    ts = F.lit(_BASE_TS) + k
    delta_msg = F.format_string(
        '{"stream":"%s@depth","data":{"e":"depthUpdate","E":%d,"s":"%s",'
        '"U":%d,"u":%d,"pu":%d,'
        '"b":[["%.2f","%.1f"],["%.2f","%.1f"]],'
        '"a":[["%.2f","%.1f"],["%.2f","%.1f"]]}}',
        F.lower(F.col("symbol")), ts, F.col("symbol"),
        k, k, k - 1,
        grid(7, 100, False), qty(F.col("q")),
        grid(11, 100, True), qty(F.col("q") + 1),
        grid(13, 300, False), qty(F.col("q")),
        grid(17, 300, True), qty(F.col("q") + 1),
    )
    gap = (
        (F.col("symbol") == _RESYNC_GAP_SYMBOL)
        & (k > F.col("b0") + 10)
        & (k <= F.col("b0") + 30)
    )
    deltas = bounded.filter(~gap).select(
        F.lit("spot").alias("market_type"),
        delta_msg.alias("msg"),
        F.lit(None).cast("long").alias("received_at"),
        F.when(k <= F.col("b0"), 0)
        .when(k <= F.col("b1"), 1)
        .otherwise(2)
        .cast("int")
        .alias("batch_id"),
    )

    # snapshot for the gapped symbol: LWW book through batch 1 (zeros
    # kept — applying it is then equivalent to replacing), u = b1,
    # pu = -1 -> parses to NULL prev_seq_id (the snapshot marker)
    lv = None
    for side, mult, basep, odd, qcol in (
        ("bid", 7, 100, False, F.col("q")),
        ("bid", 11, 100, True, F.col("q") + 1),
        ("ask", 13, 300, False, F.col("q")),
        ("ask", 17, 300, True, F.col("q") + 1),
    ):
        part = bounded.filter(
            (F.col("symbol") == _RESYNC_GAP_SYMBOL) & (k <= F.col("b1"))
        ).select(
            "symbol", "k", "b1",
            F.lit(side).alias("side"),
            grid(mult, basep, odd).alias("price"),
            qty(qcol).alias("qty"),
        )
        lv = part if lv is None else lv.unionByName(part)
    last = lv.groupBy("symbol", "b1", "side", "price").agg(
        F.max_by("qty", "k").alias("qty")
    )
    sides = (
        last.groupBy("symbol", "b1")
        .pivot("side", ["bid", "ask"])
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("price", "qty"))
                    ),
                    lambda x: F.format_string(
                        '["%.2f","%.1f"]', x["price"], x["qty"]
                    ),
                ),
                ",",
            )
        )
    )
    snap_msg = F.format_string(
        '{"stream":"%s@depth","data":{"e":"depthUpdate","E":%d,"s":"%s",'
        '"U":%d,"u":%d,"pu":%d,"b":[%s],"a":[%s]}}',
        F.lower(F.col("symbol")),
        F.lit(_BASE_TS) + F.col("b1"),
        F.col("symbol"),
        F.col("b1"),
        F.col("b1"),
        F.lit(-1),
        F.col("bid"),
        F.col("ask"),
    )
    snapshot = sides.select(
        F.lit("spot").alias("market_type"),
        snap_msg.alias("msg"),
        F.lit(None).cast("long").alias("received_at"),
        F.lit(2).cast("int").alias("batch_id"),
    )
    wire = deltas.unionByName(snapshot)

    out_ddl = (
        "symbol string, epoch int, in_sync boolean, n_bids int, n_asks int, "
        "best_bid double, best_ask double, "
        "bid_qty_deci bigint, ask_qty_deci bigint, "
        "n_discarded bigint, last_seq bigint"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            blob, last_u, synced, dropped, n_batches = state.get
            book = {
                tuple(kk.split("|", 1)): v for kk, v in _json.loads(blob).items()
            }
        else:
            book, last_u, synced, dropped, n_batches = {}, 0, True, 0, 0
        # epoch = per-symbol invocation count: batch_id does not survive
        # parse_l2, and every symbol has messages in every micro-batch by
        # construction (the hole is punched mid-batch), so the counter
        # equals the global batch index
        epoch = int(n_batches)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        for seq_id, msg in sorted(pdf.groupby("seq_id"), key=lambda t: t[0]):
            pu_raw = msg["prev_seq_id"].iloc[0]
            is_snap = pd.isna(pu_raw)
            if synced:
                if is_snap or int(pu_raw) != last_u:
                    synced = False
                    dropped += 1
                    continue
            else:
                if not (is_snap and int(seq_id) > last_u):
                    dropped += 1
                    continue
                book = {}  # snapshot REPLACES the book
                synced = True
            for r in msg.itertuples():
                book[(r.side, repr(float(r.price)))] = [float(r.qty), int(seq_id)]
            last_u = int(seq_id)
        state.update(
            (
                _json.dumps({f"{s}|{p}": v for (s, p), v in book.items()}),
                last_u,
                synced,
                dropped,
                n_batches + 1,
            )
        )
        live = [(s, float(p), v[0]) for (s, p), v in book.items() if v[0] > 0]
        bids = [(p, qv) for s, p, qv in live if s == "bid"]
        asks = [(p, qv) for s, p, qv in live if s == "ask"]
        yield pd.DataFrame(
            [
                {
                    "symbol": key[0],
                    "epoch": epoch,
                    "in_sync": synced,
                    "n_bids": len(bids),
                    "n_asks": len(asks),
                    "best_bid": max(p for p, _ in bids) if bids else None,
                    "best_ask": min(p for p, _ in asks) if asks else None,
                    "bid_qty_deci": sum(int(round(qv * 10)) for _, qv in bids),
                    "ask_qty_deci": sum(int(round(qv * 10)) for _, qv in asks),
                    "n_discarded": dropped,
                    "last_seq": last_u,
                }
            ]
        )

    def resync(stream):
        parsed = binance.parse_l2(stream)
        lvs = parsed.select(
            "symbol",
            "seq_id",
            "prev_seq_id",
            F.explode(
                F.concat(
                    F.transform(
                        "asks",
                        lambda x: F.struct(
                            F.lit("ask").alias("side"),
                            x["price"].alias("price"),
                            x["quantity_base"].alias("qty"),
                        ),
                    ),
                    F.transform(
                        "bids",
                        lambda x: F.struct(
                            F.lit("bid").alias("side"),
                            x["price"].alias("price"),
                            x["quantity_base"].alias("qty"),
                        ),
                    ),
                )
            ).alias("lv"),
        ).select(
            "symbol",
            "seq_id",
            "prev_seq_id",
            F.col("lv.side").alias("side"),
            F.col("lv.price").alias("price"),
            F.col("lv.qty").alias("qty"),
        )
        return lvs.groupBy("symbol").applyInPandasWithState(
            update,
            outputStructType=out_ddl,
            stateStructType=(
                "book string, last_u bigint, synced boolean, dropped bigint, "
                "n_batches bigint"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return drain_available_now(
        spark,
        [wire.filter(F.col("batch_id") == i) for i in range(3)],
        resync,
        schema="market_type string, msg string, received_at long, batch_id int",
        max_files_per_trigger=1,
        name="stream_resync",
    )


# ---------------------------------------- streaming consolidated tape
#
# The reference's LIVE topology: one ws feed per exchange, one consumer
# consolidating them. Here BOTH venues' wire messages travel in the same
# micro-batch files; the streaming plan BRANCHES into the binance and
# kraken parse arms (each filtering its own venue tag) and unions the
# two BBO outputs back into one stream — the multi-arm union topology
# none of the single-arm streaming rows exercise — before a per-pair
# keyed state holds each venue's freshest quote (LWW by timestamp with
# a deterministic tie key) across batches.


def _sql_stream_nbbo_oracle() -> str:
    # final NBBO over ALL quotes, venue-last-quote first (the state holds
    # one freshest quote per venue, NOT a global max — a venue whose last
    # quote is WORSE than an earlier one must surface the later quote)
    return f"""
    WITH b AS (
      SELECT {_SQL_SPOT_PAIR} AS pair, 'binance' AS ex,
             l_orderkey AS ts,
             l_orderkey * 10 + l_linenumber AS tie,
             CAST(round(round(l_extendedprice - 1, 2) * 100) AS BIGINT)
               AS bid_cents,
             CAST(round(round(l_extendedprice + 1, 2) * 100) AS BIGINT)
               AS ask_cents
      FROM lineitem),
    k AS (
      SELECT CASE l_partkey % 4 WHEN 0 THEN 'BTC/USDT'
                  WHEN 1 THEN 'ETH/USDT' WHEN 2 THEN 'DOGE/USDT'
                  ELSE 'BTC/USDT' END AS pair, 'kraken' AS ex,
             (l_orderkey // 1000) * 1000 AS ts,
             l_orderkey * 10 + l_linenumber AS tie,
             CAST(round(round(l_extendedprice - 1
               + CASE WHEN l_orderkey % 2 = 0 THEN 0.01 ELSE -0.01 END,
               2) * 100) AS BIGINT) AS bid_cents,
             CAST(round(round(l_extendedprice + 1
               - CASE WHEN l_orderkey % 2 = 0 THEN 0.01 ELSE -0.01 END,
               2) * 100) AS BIGINT) AS ask_cents
      FROM lineitem),
    q AS (SELECT * FROM b UNION ALL SELECT * FROM k),
    freshest AS (
      -- tie refines ts on both venues (see the Spark okey comment);
      -- folding bid_cents into the low digits makes the key TOTAL over
      -- the synthetic duplicates of (l_orderkey, l_linenumber), and
      -- same key => same price => same (bid, ask) pair
      SELECT pair, ex,
             arg_max(bid_cents, tie * 100000000 + bid_cents) AS bid_cents,
             arg_max(ask_cents, tie * 100000000 + bid_cents) AS ask_cents,
             CAST(count(*) AS BIGINT) AS n_seen
      FROM q GROUP BY pair, ex)
    SELECT pair,
           max(bid_cents) AS nbbo_bid_cents,
           arg_max(ex, bid_cents * 2
             + CASE WHEN ex = 'kraken' THEN 1 ELSE 0 END) AS bid_venue,
           min(ask_cents) AS nbbo_ask_cents,
           arg_min(ex, ask_cents * 2
             + CASE WHEN ex = 'kraken' THEN 1 ELSE 0 END) AS ask_venue,
           CAST(sum(n_seen) AS BIGINT) AS n_quotes_seen
    FROM freshest GROUP BY pair
    """


@query(
    "stream_nbbo_tape",
    streaming=True,
    oracle=_sql_stream_nbbo_oracle(),
    doc="STREAMING consolidated tape — the reference's live multi-feed "
    "topology in one plan: both venues' wire messages arrive in the "
    "same micro-batch files, the stream BRANCHES into the binance "
    "bookTicker and kraken spread parse arms (each filters its venue "
    "tag) and their BBO outputs union back into one stream — the "
    "multi-arm streaming union no single-arm row exercises — then a "
    "per-pair keyed state holds each venue's FRESHEST quote (LWW by an "
    "event-id key that refines the venue timestamp, with the quote's "
    "integer cents folded into the low digits so the key stays total "
    "over the synthetic data's duplicate (orderkey, linenumber) rows) "
    "across micro-batches and "
    "emits the consolidated NBBO after every batch. The result keeps "
    "each pair's LAST emission (max cumulative quote count — monotone "
    "per key, so the selection is batch-alignment-agnostic), and the "
    "oracle recomputes the final per-venue freshest quotes and their "
    "consolidation closed-form: a state that loses a venue's quote "
    "across batches, takes a global best instead of venue-freshest, "
    "or drops one branch of the union fails. Venue attribution uses "
    "the integer cents*2+venue-bit key (tie-free both engines). Scale "
    "shape: two parse branches over the same scan, one stream union "
    "(no shuffle), one shuffle to the pair-keyed state; state is two "
    "quotes per pair — constant.",
)
def stream_nbbo_tape(spark, sf_dir):
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from crypto_msg_parser_spark.parser import kraken
    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    tie = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    p = F.col("l_extendedprice")

    bmsg = F.format_string(
        '{"stream":"%s@bookTicker","data":{"u":%d,"s":"%s",'
        '"b":"%.2f","B":"%.1f","a":"%.2f","A":"%.1f"}}',
        F.lower(_spot_symbol()),
        tie,
        _spot_symbol(),
        F.round(p - 1, 2),
        F.col("l_quantity"),
        F.round(p + 1, 2),
        F.col("l_quantity") + 1,
    )
    delta = F.when(F.col("l_orderkey") % 2 == 0, F.lit(0.01)).otherwise(
        F.lit(-0.01)
    )
    kpair = F.col("l_partkey") % 4
    ksym = (
        F.when(kpair == 0, "XBT/USDT")
        .when(kpair == 1, "ETH/USDT")
        .when(kpair == 2, "XDG/USDT")
        .otherwise("XBT/USDT")
    )
    # the spread frame's bidVol carries the tie key (tie*0.1, one
    # decimal): kraken's second-resolution ts collapses ~1000 orderkeys
    # onto one timestamp, and the arm surfaces no event id, so the
    # freshest-quote pick needs a key that SURVIVES parse_bbo —
    # bid_quantity_base*10 recovers it exactly
    kmsg = F.format_string(
        '[340,["%.2f","%.2f","%d.000000","%.1f","%.1f"],"spread","%s"]',
        F.round(p - 1 + delta, 2),
        F.round(p + 1 - delta, 2),
        F.lit(_SEC_BASE) + F.expr("l_orderkey DIV 1000"),
        tie.cast("double") * 0.1,
        F.col("l_quantity") + 1,
        ksym,
    )
    both = li.select(
        F.lit("spot").alias("market_type"),
        (F.lit(_BASE_TS) + F.col("l_orderkey")).alias("received_at"),
        tie.alias("tie"),
        (F.col("l_orderkey") % 3).cast("int").alias("batch_id"),
        F.lit("binance").alias("venue"),
        bmsg.alias("msg"),
    ).unionByName(
        li.select(
            F.lit("spot").alias("market_type"),
            F.lit(None).cast("long").alias("received_at"),
            tie.alias("tie"),
            (F.col("l_orderkey") % 3).cast("int").alias("batch_id"),
            F.lit("kraken").alias("venue"),
            kmsg.alias("msg"),
        )
    )

    out_ddl = (
        "pair string, nbbo_bid_cents bigint, bid_venue string, "
        "nbbo_ask_cents bigint, ask_venue string, n_quotes_seen bigint"
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (
                b_ts, b_bid, b_ask, k_ts, k_bid, k_ask, n_seen,
            ) = state.get
        else:
            b_ts = k_ts = -1
            b_bid = b_ask = k_bid = k_ask = None
            n_seen = 0
        for pdf in pdfs:
            for r in pdf.itertuples():
                n_seen += 1
                okey = int(r.okey)
                if r.ex == "binance":
                    if okey > b_ts:
                        b_ts, b_bid, b_ask = okey, int(r.bid_cents), int(r.ask_cents)
                else:
                    if okey > k_ts:
                        k_ts, k_bid, k_ask = okey, int(r.bid_cents), int(r.ask_cents)
        state.update((b_ts, b_bid, b_ask, k_ts, k_bid, k_ask, n_seen))
        quotes = []
        if b_bid is not None:
            quotes.append(("binance", b_bid, b_ask))
        if k_bid is not None:
            quotes.append(("kraken", k_bid, k_ask))
        best_bid = max(q[1] * 2 + (q[0] == "kraken") for q in quotes)
        best_ask = min(q[2] * 2 + (q[0] == "kraken") for q in quotes)
        yield pd.DataFrame(
            [
                {
                    "pair": key[0],
                    "nbbo_bid_cents": best_bid // 2,
                    "bid_venue": "kraken" if best_bid % 2 else "binance",
                    "nbbo_ask_cents": best_ask // 2,
                    "ask_venue": "kraken" if best_ask % 2 else "binance",
                    "n_quotes_seen": n_seen,
                }
            ]
        )

    def tape(stream):
        bz = binance.parse_bbo(
            stream.filter(F.col("venue") == "binance")
        ).select(
            "pair",
            F.lit("binance").alias("ex"),
            "timestamp",
            F.col("id").cast("long").alias("tie"),
            cents(F.col("bid_price")).alias("bid_cents"),
            cents(F.col("ask_price")).alias("ask_cents"),
        )
        kz = kraken.parse_bbo(
            stream.filter(F.col("venue") == "kraken")
        ).select(
            "pair",
            F.lit("kraken").alias("ex"),
            "timestamp",
            # recover the tie key smuggled through bidVol (see kmsg)
            F.round(F.col("bid_quantity_base") * 10).cast("long").alias("tie"),
            cents(F.col("bid_price")).alias("bid_cents"),
            cents(F.col("ask_price")).alias("ask_cents"),
        )
        quotes = bz.unionByName(kz).select(
            "pair",
            "ex",
            "bid_cents",
            "ask_cents",
            # Freshness key. tie = l_orderkey*10 + l_linenumber strictly
            # REFINES both venues' timestamps (binance ts = base +
            # orderkey; kraken ts = second-of-orderkey), so max-by-tie is
            # max-by-(ts, tie). The synthetic lineitem carries duplicate
            # (l_orderkey, l_linenumber) pairs with DIFFERENT prices, so
            # tie alone is not total — fold the quote's integer bid cents
            # into the low digits (the realized_volatility_1h pattern):
            # same okey => same bid => same price => same ask, so the
            # winner's (bid, ask) is deterministic in both engines.
            (
                F.col("tie") * F.lit(100000000).cast("long")
                + F.col("bid_cents")
            ).alias("okey"),
        )
        return quotes.groupBy("pair").applyInPandasWithState(
            update,
            outputStructType=out_ddl,
            stateStructType=(
                "b_ts bigint, b_bid bigint, b_ask bigint, "
                "k_ts bigint, k_bid bigint, k_ask bigint, n_seen bigint"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    # keep each pair's LAST emission: n_quotes_seen is monotone per key,
    # so this selection is batch-alignment-agnostic
    def last_emission(sink):
        return sink.groupBy("pair").agg(
            F.max_by("nbbo_bid_cents", "n_quotes_seen").alias("nbbo_bid_cents"),
            F.max_by("bid_venue", "n_quotes_seen").alias("bid_venue"),
            F.max_by("nbbo_ask_cents", "n_quotes_seen").alias("nbbo_ask_cents"),
            F.max_by("ask_venue", "n_quotes_seen").alias("ask_venue"),
            F.max("n_quotes_seen").alias("n_quotes_seen"),
        )

    return drain_available_now(
        spark,
        [both.filter(F.col("batch_id") == i) for i in range(3)],
        tape,
        schema=(
            "market_type string, received_at long, tie long, "
            "batch_id int, venue string, msg string"
        ),
        max_files_per_trigger=1,
        project=last_emission,
        name="stream_nbbo",
    )
