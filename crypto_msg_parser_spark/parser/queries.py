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
from crypto_msg_parser_spark.session import finalize_memory_sink
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("binance").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )


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
    # msg_id is recoverable from the synthesized trade_id
    # (= orderkey*10 + linenumber) — a pure projection instead of a
    # join-back on the ~300-byte json provenance string, which at sf0.1
    # was a 600k x 600k string-keyed shuffle costing ~20s of the bench
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("binance").alias("exchange"),
        F.lit("inverse_swap").alias("market_type"),
        "received_at",
        "msg",
    )


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
    # msg_id recovered by projection from the synthesized trade_id
    # (= orderkey*10 + linenumber) — no join-back on the json string
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
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
    return o.select(
        F.col("o_orderkey").cast("string").alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("binance").alias("exchange"),
        F.lit("inverse_swap").alias("market_type"),
        "received_at",
        "msg",
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("binance").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )


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
    # seq_id = orderkey*100 + linenumber (linenumber < 100): msg_id is a
    # projection, not a join-back
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":",
            F.floor(F.col("seq_id") / 100).cast("string"),
            (F.col("seq_id") % 100).cast("string"),
        ),
    )
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
    return li.select(
        _msg_id().alias("msg_id"),
        # spot bookTicker has no event time: crawl receive time is the ts
        ts.alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("binance").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )


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
    bid = F.col("id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(bid / 10).cast("string"), (bid % 10).cast("string")
        ),
    )
    return back.select(
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
    return o.select(
        F.col("o_orderkey").cast("string").alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("binance").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("gate").alias("exchange"),
        F.lit("linear_swap").alias("market_type"),
        "received_at",
        "msg",
    )


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
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("kucoin").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )


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
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
        "msg_id", "symbol", "pair", "timestamp", "side",
        "quantity_base", "quantity_quote", "trade_id",
    )


# ------------------------------------------- wider exchange coverage
# (one driver-checked trade query per additional dispatch arm; fixture
# replay in tests/ covers the full matrix, these put the quantity math
# and envelope handling under the driver's value-hash gate too)


def _recover_msg_id(df, tid=None):
    """msg_id from a synthesized trade_id = orderkey*10 + linenumber."""
    t = (tid if tid is not None else F.col("trade_id")).cast("long")
    return df.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(t / 10).cast("string"), (t % 10).cast("string")),
    )


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
    raw = li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("huobi").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )
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
    raw = li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("bybit").alias("exchange"),
        F.lit("inverse_swap").alias("market_type"),
        "received_at",
        "msg",
    )
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
    raw = li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("kraken").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )
    parsed = kraken.parse_trade(raw)
    k = (F.col("timestamp") / 1000 - _SEC_BASE).cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(k / 10).cast("string"), (k % 10).cast("string")),
    )
    return back.select(*_TRADE_OUT)


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
    raw = li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("bitfinex").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )
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
    raw = li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("bitget").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )
    parsed = bitget.parse_trade(raw)
    k = (F.col("timestamp") - _BASE_TS).cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(k / 10).cast("string"), (k % 10).cast("string")),
    )
    return back.select(*_TRADE_OUT)


def _rfc3339(ts_col):
    return F.date_format(
        F.timestamp_millis(ts_col), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    )


def _raw5(exchange, market_type, msg):
    # exchange/market_type ride ABOVE the checkpoint as literals so the
    # parse dispatchers' dead branches still constant-fold to empty
    # relations; only (msg_id, received_at, msg) — the per-row data — is
    # materialized.
    def build(li):
        return li.select(
            _msg_id().alias("msg_id"),
            F.lit(None).cast("long").alias("received_at"),
            msg.alias("msg"),
        ).localCheckpoint(eager=False).select(
            "msg_id",
            F.lit(exchange).alias("exchange"),
            F.lit(market_type).alias("market_type"),
            "received_at",
            "msg",
        )

    return build


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
    raw = _raw5("mexc", "spot", msg)(li)
    parsed = mexc.parse_trade(raw)
    k = (F.col("timestamp") - _BASE_TS).cast("long")
    return parsed.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(k / 10).cast("string"), (k % 10).cast("string")),
    ).select(*_TRADE_OUT)


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
    raw = _raw5("zb", "spot", msg)(li)
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
    raw = _raw5("zbg", "spot", msg)(li)
    parsed = zbg.parse_trade(raw)
    k = (F.col("timestamp") / 1000 - _SEC_BASE).cast("long")
    return parsed.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(k / 10).cast("string"), (k % 10).cast("string")),
    ).select(*_TRADE_OUT)


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
    raw = _raw5("ftx", "linear_swap", msg)(li)
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
    raw = _raw5("dydx", "linear_swap", msg)(li)
    parsed = dydx.parse_trade(raw)
    k = (F.col("timestamp") - _BASE_TS).cast("long")
    return parsed.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(k / 10).cast("string"), (k % 10).cast("string")),
    ).select(*_TRADE_OUT)


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
    raw = _raw5("coinbase_pro", "spot", msg)(li)
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
    raw = _raw5("bitstamp", "spot", msg)(li)
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
    raw = _raw5("bithumb", "spot", msg)(li)
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
    raw = _raw5("bitz", "spot", msg)(li)
    parsed = bitz.parse_trade(raw)
    k = (F.col("timestamp") - _BASE_TS).cast("long")
    return parsed.withColumn(
        "msg_id",
        F.concat_ws(":", F.floor(k / 10).cast("string"), (k % 10).cast("string")),
    ).select(*_TRADE_OUT)


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
    raw = _raw5("bitmex", "inverse_swap", msg)(li)
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


# ------------------------------------------------------- analytic layer

@query(
    "candles_recompute_1m",
    oracle=f"""
    WITH trades AS (
        SELECT CASE l_partkey % 4 WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT'
                    WHEN 2 THEN 'DOGEUSDT' ELSE 'BNBBTC' END AS symbol,
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
           count(*) AS n_trades
    FROM trades
    GROUP BY symbol, ts - ts % 60000
    """,
    doc="the engine's analytic layer (SURVEY §2.5): recompute 1-minute "
    # seq is a strict total order consistent with (ts, linenumber, price),
    # so arg_min/arg_max on seq == first/last trade of the minute
    "OHLCV candles from the normalized trade stream with a tumbling window "
    "groupBy — the recomputation path the reference only passes through "
    "pre-aggregated.",
)
def candles_recompute_1m(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    ts = (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts")
    trades = li.select(
        _spot_symbol().alias("symbol"),
        ts,
        F.round("l_extendedprice", 2).alias("price"),
        F.round("l_quantity", 1).alias("qty"),
        # the synthetic lineitem is TPC-H-ISH: (orderkey, linenumber) is
        # NOT unique, so the order key folds in the price (x100 keeps it
        # integer-valued in f64) to make open/close deterministic in both
        # engines
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")) * 1000000000.0
            + F.round("l_extendedprice", 2) * 100
        ).alias("seq"),
    )
    win = (F.col("ts") - F.col("ts") % 60000).alias("window_start")
    out = trades.groupBy("symbol", win).agg(
        F.min("price").alias("low"),
        F.max("price").alias("high"),
        # volume/quote_volume in exact integer minor units (qty is on a
        # 0.1 grid, price on a cent grid by construction): the shuffled
        # partial-agg sums are associative BIGINTs, so partitioning and
        # accumulation order cannot drift the last float bits vs the
        # oracle — a float sum at ~1e8 magnitude has ulp ~1.5e-8, which a
        # 1e-9 post-round cannot repair (observed at sf0.01)
        (F.sum(F.round(F.col("qty") * 10).cast("long")) / 10.0).alias("volume"),
        (
            F.sum(
                (
                    F.round(F.col("price") * 100) * F.round(F.col("qty") * 10)
                ).cast("long")
            )
            / 1000.0
        ).alias("quote_volume"),
        F.min_by("price", F.col("seq")).alias("open"),
        F.max_by("price", F.col("seq")).alias("close"),
        F.count(F.lit(1)).alias("n_trades"),
    )
    return out


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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("okx").alias("exchange"),
        F.lit("linear_swap").alias("market_type"),
        "received_at",
        "msg",
    )


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
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("okx").alias("exchange"),
        F.lit("linear_swap").alias("market_type"),
        "received_at",
        "msg",
    )


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
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
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
    return li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        msg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("deribit").alias("exchange"),
        F.lit("inverse_swap").alias("market_type"),
        "received_at",
        "msg",
    )


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
    tid = F.col("trade_id").cast("long")
    back = parsed.withColumn(
        "msg_id",
        F.concat_ws(
            ":", F.floor(tid / 10).cast("string"), (tid % 10).cast("string")
        ),
    )
    return back.select(
        "msg_id", "symbol", "pair", "timestamp", "side",
        "quantity_base", "quantity_quote", "quantity_contract",
    )


_SQL_BOOK_CTES = f"""
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
      FROM eff GROUP BY symbol, side, price),
    book AS (SELECT symbol, side, price, qty, last_seq FROM last WHERE qty > 0)
"""


@query(
    "l2_spread_stats",
    oracle=f"""
    {_SQL_BOOK_CTES}
    SELECT symbol,
           max(CASE WHEN side = 'bid' THEN price END) AS best_bid,
           min(CASE WHEN side = 'ask' THEN price END) AS best_ask,
           min(CASE WHEN side = 'ask' THEN price END)
             - max(CASE WHEN side = 'bid' THEN price END) AS spread,
           (min(CASE WHEN side = 'ask' THEN price END)
             + max(CASE WHEN side = 'bid' THEN price END)) / 2.0 AS mid,
           CAST(sum(CASE WHEN side = 'bid' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bid_levels,
           CAST(sum(CASE WHEN side = 'ask' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ask_levels
    FROM book GROUP BY symbol
    """,
    doc="top-of-book analytics over the RECONSTRUCTED order book "
    "(composition on l2_book_reconstruct): best bid/ask, spread, mid and "
    "level depth per symbol — one more partial-agg groupBy on the same "
    "book key, zero extra shuffles beyond it. Numeric determinism: "
    "best-of = max/min (order-independent), spread/mid are single IEEE "
    "ops on those scalars; level depth is an integer count. No float "
    "SUM over rows anywhere — that would drift with aggregation order.",
)
def l2_spread_stats(spark, sf_dir):
    book = l2_book_reconstruct(spark, sf_dir)
    is_bid = F.col("side") == "bid"
    best_bid = F.max(F.when(is_bid, F.col("price")))
    best_ask = F.min(F.when(~is_bid, F.col("price")))
    return book.groupBy("symbol").agg(
        best_bid.alias("best_bid"),
        best_ask.alias("best_ask"),
        (best_ask - best_bid).alias("spread"),
        ((best_ask + best_bid) / F.lit(2.0)).alias("mid"),
        F.sum(is_bid.cast("long")).alias("n_bid_levels"),
        F.sum((~is_bid).cast("long")).alias("n_ask_levels"),
    )


@query(
    "candles_rollup_5m",
    oracle=f"""
    WITH trades AS (
        SELECT CASE l_partkey % 4 WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT'
                    WHEN 2 THEN 'DOGEUSDT' ELSE 'BNBBTC' END AS symbol,
               {_BASE_TS} + l_orderkey * 997 AS ts,
               round(l_extendedprice, 2) AS price,
               round(l_quantity, 1) AS qty,
               (l_orderkey * 10 + l_linenumber) * 1000000000.0
                 + round(l_extendedprice, 2) * 100 AS seq
        FROM lineitem
    ),
    c1 AS (
      SELECT symbol,
             ts - ts % 60000 AS window_start,
             min(price) AS low,
             max(price) AS high,
             sum(qty) AS volume,
             arg_min(price, seq) AS open,
             arg_max(price, seq) AS close,
             count(*) AS n_trades
      FROM trades
      GROUP BY symbol, ts - ts % 60000
    )
    SELECT symbol,
           window_start - window_start % 300000 AS window5_start,
           arg_min(open, window_start) AS open,
           max(high) AS high,
           min(low) AS low,
           arg_max(close, window_start) AS close,
           sum(volume) AS volume,
           CAST(sum(n_trades) AS BIGINT) AS n_trades,
           CAST(count(*) AS BIGINT) AS n_1m_candles
    FROM c1 GROUP BY symbol, window_start - window_start % 300000
    """,
    doc="hierarchical candle rollup (the hypertable continuous-aggregate "
    "pattern): 5-minute OHLCV derived FROM the 1-minute candles, not from "
    "raw trades — open/close select by earliest/latest child window "
    "(min_by/max_by on window_start, unique per child so no tie), "
    "high/low fold as max/min, volume and trade counts sum (the "
    "synthetic qty values are integer-valued doubles, so the sum is "
    "exact; a real pipeline quantizes to minor units first — "
    "plans/money.py). Quote mass is deliberately NOT rolled up from the "
    "rounded per-minute values: summing already-rounded doubles "
    "reintroduces order-dependence — recompute it from trades or carry "
    "integer cents. Two cascaded partial-agg groupBys, the second over "
    "5x fewer rows.",
)
def candles_rollup_5m(spark, sf_dir):
    c1 = candles_recompute_1m(spark, sf_dir).drop("quote_volume")
    win5 = (
        F.col("window_start") - F.col("window_start") % 300000
    ).alias("window5_start")
    return c1.groupBy("symbol", win5).agg(
        F.min_by("open", "window_start").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", "window_start").alias("close"),
        F.sum("volume").alias("volume"),
        F.sum("n_trades").cast("long").alias("n_trades"),
        F.count(F.lit(1)).alias("n_1m_candles"),
    )


@query(
    "vwap_1m",
    oracle=f"""
    WITH trades AS (
        SELECT CASE l_partkey % 4 WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT'
                    WHEN 2 THEN 'DOGEUSDT' ELSE 'BNBBTC' END AS symbol,
               {_BASE_TS} + l_orderkey * 997 AS ts,
               CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
                 AS price_cents,
               CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS qty_deci
        FROM lineitem
    )
    SELECT symbol,
           ts - ts % 60000 AS window_start,
           CAST(sum(price_cents * qty_deci) AS BIGINT) AS notional_milli,
           CAST(sum(qty_deci) AS BIGINT) AS qty_deci_total,
           sum(price_cents * qty_deci) / sum(qty_deci) / 100.0 AS vwap
    FROM trades
    GROUP BY symbol, ts - ts % 60000
    """,
    doc="volume-weighted average price per symbol-minute, the canonical "
    "float-aggregation trap solved with the plans/money.py convention: "
    "price quantizes to integer cents, quantity to integer deci-units "
    "BEFORE aggregation, so every sum is an exact associative integer "
    "sum; VWAP itself is two IEEE ops on identical scalars at the very "
    "end. A naive sum(price*qty)/sum(qty) in doubles drifts with "
    "partial-agg order and fails value-hash comparison at any scale.",
)
def vwap_1m(spark, sf_dir):
    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    ts = (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts")
    trades = li.select(
        _spot_symbol().alias("symbol"),
        ts,
        cents(F.round("l_extendedprice", 2)).alias("price_cents"),
        F.round(F.round("l_quantity", 1) * 10).cast("long").alias("qty_deci"),
    )
    win = (F.col("ts") - F.col("ts") % 60000).alias("window_start")
    return trades.groupBy("symbol", win).agg(
        F.sum(F.col("price_cents") * F.col("qty_deci"))
        .cast("long")
        .alias("notional_milli"),
        F.sum("qty_deci").cast("long").alias("qty_deci_total"),
        (
            F.sum(F.col("price_cents") * F.col("qty_deci"))
            / F.sum("qty_deci")
            / F.lit(100.0)
        ).alias("vwap"),
    )


@query(
    "order_flow_imbalance_1m",
    oracle=f"""
    WITH t AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey AS ts,
             CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
             CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS qty_deci
      FROM lineitem)
    SELECT symbol,
           ts - ts % 60000 AS window_start,
           CAST(sum(CASE WHEN side = 'buy' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_buys,
           CAST(sum(CASE WHEN side = 'sell' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sells,
           CAST(sum(CASE WHEN side = 'buy' THEN qty_deci ELSE 0 END)
                AS BIGINT) AS buy_qty_deci,
           CAST(sum(CASE WHEN side = 'sell' THEN qty_deci ELSE 0 END)
                AS BIGINT) AS sell_qty_deci,
           (sum(CASE WHEN side = 'buy' THEN qty_deci ELSE 0 END)
            - sum(CASE WHEN side = 'sell' THEN qty_deci ELSE 0 END))
           / (sum(CASE WHEN side = 'buy' THEN qty_deci ELSE 0 END)
              + sum(CASE WHEN side = 'sell' THEN qty_deci ELSE 0 END))
             AS imbalance
    FROM t GROUP BY symbol, ts - ts % 60000
    """,
    doc="order-flow imbalance per symbol-minute FED BY THE REAL PARSE "
    "PIPELINE (binance.parse_trade output, not a re-synthesis): buy/sell "
    "trade counts and deci-unit quantity mass as exact integer sums, "
    "imbalance = one IEEE division on the two integer scalars. The "
    "composition the reference's consumers run downstream of "
    "normalization; one partial-agg groupBy on (symbol, minute).",
)
def order_flow_imbalance_1m(spark, sf_dir):
    raw = _spot_trade_msgs(spark, sf_dir)
    parsed = binance.parse_trade(raw)
    t = parsed.select(
        "symbol",
        (F.col("timestamp") - F.col("timestamp") % 60000).alias("window_start"),
        "side",
        F.round(F.col("quantity_base") * 10).cast("long").alias("qty_deci"),
    )
    is_buy = F.col("side") == "buy"
    buy_q = F.sum(F.when(is_buy, F.col("qty_deci")).otherwise(0)).cast("long")
    sell_q = F.sum(F.when(~is_buy, F.col("qty_deci")).otherwise(0)).cast("long")
    return t.groupBy("symbol", "window_start").agg(
        F.sum(is_buy.cast("long")).alias("n_buys"),
        F.sum((~is_buy).cast("long")).alias("n_sells"),
        buy_q.alias("buy_qty_deci"),
        sell_q.alias("sell_qty_deci"),
        ((buy_q - sell_q) / (buy_q + sell_q)).alias("imbalance"),
    )


@query(
    "funding_accrual_8h",
    oracle=f"""
    WITH fr AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'BTCUSD_PERP'
                  ELSE 'ETHUSD_PERP' END AS symbol,
             1617321600000 + (o_orderkey % 10) * 28800000 AS funding_time,
             CAST(round(round(CAST(o_orderkey % 200 - 100 AS DOUBLE)
                              / 100000.0, 5) * 1000000000) AS BIGINT)
               AS rate_nano
      FROM orders),
    per AS (
      SELECT symbol, funding_time,
             CAST(count(*) AS BIGINT) AS n_updates,
             CAST(sum(rate_nano) AS BIGINT) AS rate_nano_sum
      FROM fr GROUP BY symbol, funding_time)
    SELECT symbol, funding_time, n_updates, rate_nano_sum,
           CAST(sum(rate_nano_sum) OVER (PARTITION BY symbol
                ORDER BY funding_time ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_rate_nano,
           sum(rate_nano_sum) OVER (PARTITION BY symbol
                ORDER BY funding_time ROWS UNBOUNDED PRECEDING)
             / 1000000000.0 AS accrued_rate
    FROM per
    """,
    doc="8h funding accrual per perpetual symbol FED BY THE REAL PARSE "
    "PIPELINE (binance.parse_funding_rate): rates quantize to integer "
    "nano-units (5-decimal rates are exact at 1e9), per-period sums and "
    "the running cross-period accrual are associative integer sums under "
    "a per-symbol window ordered by funding_time (bounded partitions: "
    "one row per 8h period), and the published accrued rate is one IEEE "
    "division at the end. The position-cost computation every perp "
    "consumer runs downstream of the reference's FundingRateMsg.",
)
def funding_accrual_8h(spark, sf_dir):
    from pyspark.sql.window import Window

    raw = _funding_msgs(spark, sf_dir)
    parsed = binance.parse_funding_rate(raw)
    fr = parsed.select(
        "symbol",
        "funding_time",
        F.round(F.col("funding_rate") * 1e9).cast("long").alias("rate_nano"),
    )
    per = fr.groupBy("symbol", "funding_time").agg(
        F.count(F.lit(1)).alias("n_updates"),
        F.sum("rate_nano").cast("long").alias("rate_nano_sum"),
    )
    w = (
        Window.partitionBy("symbol")
        .orderBy("funding_time")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rate_nano_sum").over(w)
    return per.select(
        "*",
        cum.cast("long").alias("cum_rate_nano"),
        (cum / F.lit(1e9)).alias("accrued_rate"),
    )


@query(
    "market_analytics_full",
    oracle=f"""
    {_SQL_BOOK_CTES},
    spread AS (
      SELECT symbol,
             max(CASE WHEN side = 'bid' THEN price END) AS best_bid,
             min(CASE WHEN side = 'ask' THEN price END) AS best_ask,
             min(CASE WHEN side = 'ask' THEN price END)
               - max(CASE WHEN side = 'bid' THEN price END) AS spread,
             (min(CASE WHEN side = 'ask' THEN price END)
               + max(CASE WHEN side = 'bid' THEN price END)) / 2.0 AS mid,
             CAST(sum(CASE WHEN side = 'bid' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bid_levels,
             CAST(sum(CASE WHEN side = 'ask' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ask_levels
      FROM book GROUP BY symbol),
    t AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             CASE WHEN l_linenumber % 2 = 0 THEN 'sell' ELSE 'buy' END AS side,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS qty_deci
      FROM lineitem),
    ta AS (
      SELECT symbol,
             CAST(sum(price_cents * qty_deci) AS BIGINT) AS notional_milli,
             CAST(sum(qty_deci) AS BIGINT) AS qty_deci_total,
             sum(price_cents * qty_deci) / sum(qty_deci) / 100.0 AS vwap,
             CAST(sum(CASE WHEN side = 'buy' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buys,
             CAST(sum(CASE WHEN side = 'sell' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sells,
             (sum(CASE WHEN side = 'buy' THEN qty_deci ELSE 0 END)
              - sum(CASE WHEN side = 'sell' THEN qty_deci ELSE 0 END))
             / (sum(CASE WHEN side = 'buy' THEN qty_deci ELSE 0 END)
                + sum(CASE WHEN side = 'sell' THEN qty_deci ELSE 0 END))
               AS imbalance
      FROM t GROUP BY symbol)
    SELECT s.symbol AS symbol, best_bid, best_ask, spread, mid,
           n_bid_levels, n_ask_levels, notional_milli, qty_deci_total,
           vwap, n_buys, n_sells, imbalance
    FROM spread s JOIN ta ON s.symbol = ta.symbol
    """,
    doc="the market-data composed FLAGSHIP: raw messages -> the real "
    "binance parse pipeline (depth AND aggTrade arms) -> order-book "
    "reconstruction -> top-of-book spread stats, joined per symbol with "
    "whole-run trade analytics (VWAP / order-flow imbalance in exact "
    "integer minor units) — the analytics twin of web_corpus_prep_full, "
    "exercising stage COUPLING (parse -> book -> spread on one subtree, "
    "parse -> trade-mass on the other, equi-join at the top) that "
    "single-operator rows can't catch. Plan: each subtree is "
    "partial-agg'd down to one row per symbol before the join, so the "
    "join sides are bounded by the symbol universe (thousands in "
    "production) regardless of input scale; AQE picks the join strategy. "
    "Float determinism: best-of = max/min, money sums are integer "
    "cents x deci-units, the published vwap/imbalance/mid are single "
    "IEEE ops on identical scalars — hash-stable cross-engine.",
)
def market_analytics_full(spark, sf_dir):
    from crypto_msg_parser_spark.plans.money import cents

    spread = l2_spread_stats(spark, sf_dir)

    parsed = binance.parse_trade(_spot_trade_msgs(spark, sf_dir))
    t = parsed.select(
        "symbol",
        "side",
        cents(F.col("price")).alias("price_cents"),
        F.round(F.col("quantity_base") * 10).cast("long").alias("qty_deci"),
    )
    is_buy = F.col("side") == "buy"
    buy_q = F.sum(F.when(is_buy, F.col("qty_deci")).otherwise(0)).cast("long")
    sell_q = F.sum(F.when(~is_buy, F.col("qty_deci")).otherwise(0)).cast("long")
    ta = t.groupBy("symbol").agg(
        F.sum(F.col("price_cents") * F.col("qty_deci"))
        .cast("long")
        .alias("notional_milli"),
        F.sum("qty_deci").cast("long").alias("qty_deci_total"),
        (
            F.sum(F.col("price_cents") * F.col("qty_deci"))
            / F.sum("qty_deci")
            / F.lit(100.0)
        ).alias("vwap"),
        F.sum(is_buy.cast("long")).alias("n_buys"),
        F.sum((~is_buy).cast("long")).alias("n_sells"),
        ((buy_q - sell_q) / (buy_q + sell_q)).alias("imbalance"),
    )
    return spread.join(ta, "symbol")


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
    import glob
    import os
    import shutil
    import tempfile
    import uuid

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

    src = tempfile.mkdtemp(prefix="candle_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="candle_stream_ckpt_")
    name = f"stream_candles_{uuid.uuid4().hex[:12]}"
    try:
        for i, part in enumerate((b1, b2, flush)):
            d = tempfile.mkdtemp(prefix="candle_stream_part_")
            part.coalesce(1).write.mode("overwrite").parquet(d)
            (pf,) = glob.glob(f"{d}/part-*.parquet")
            dest = os.path.join(src, f"{i}.parquet")
            shutil.move(pf, dest)
            os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            shutil.rmtree(d, ignore_errors=True)
        stream = (
            spark.readStream.schema(
                "market_type string, msg string, received_at long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
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
        agg = (
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
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # explicit timeout check: awaitTermination(t) returns False on
        # timeout WITHOUT stopping the query — reading the memory sink
        # then would silently return a partial (unflushed) result
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("stream_candles_1m did not drain in 600s")
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return finalize_memory_sink(spark.table(name), name)


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
    import glob
    import json as _json
    import os
    import shutil
    import tempfile
    import uuid

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

    src = tempfile.mkdtemp(prefix="book_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="book_stream_ckpt_")
    name = f"stream_book_{uuid.uuid4().hex[:12]}"
    try:
        for i in range(_BOOK_EPOCHS):
            d = tempfile.mkdtemp(prefix="book_stream_part_")
            wire.filter(F.col("batch_id") == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(d)
            (pf,) = glob.glob(f"{d}/part-*.parquet")
            dest = os.path.join(src, f"{i}.parquet")
            shutil.move(pf, dest)
            os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            shutil.rmtree(d, ignore_errors=True)
        stream = (
            spark.readStream.schema(
                "market_type string, msg string, received_at long, batch_id bigint"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
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
        booked = lv.groupBy("symbol").applyInPandasWithState(
            update,
            outputStructType=out_ddl,
            stateStructType="book string, last_seq bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        qh = (
            booked.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not qh.awaitTermination(600):
            qh.stop()
            raise RuntimeError("stream_book_reconstruct did not drain in 600s")
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return finalize_memory_sink(spark.table(name), name)


@query(
    "realized_volatility_1h",
    oracle=f"""
    WITH trades AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 AS ts,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             (l_orderkey * 10 + l_linenumber) * 100000000
               + CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT) AS seq
      FROM lineitem),
    m AS (
      SELECT symbol, ts - ts % 60000 AS minute,
             arg_max(price_cents, seq) AS close_cents
      FROM trades GROUP BY symbol, ts - ts % 60000),
    d AS (
      SELECT symbol, minute,
             close_cents - lag(close_cents) OVER (
               PARTITION BY symbol ORDER BY minute) AS diff
      FROM m)
    SELECT symbol,
           minute - minute % 3600000 AS hour_start,
           CAST(count(diff) AS INT) AS n_intervals,
           COALESCE(CAST(sum(diff * diff) AS BIGINT), 0) AS rv_cents2,
           sqrt(COALESCE(sum(diff * diff), 0)) / 100.0 AS vol_usd
    FROM d GROUP BY symbol, minute - minute % 3600000
    """,
    doc="hourly realized volatility per symbol from 1-minute closes — "
    "the risk metric every reference user computes downstream of the "
    "candle pipeline, built float-drift-free: closes quantize to "
    "integer cents (plans/money.py), minute close = arg_max(cents, "
    "key) with price folded into the key low digits for tie-freedom, squared "
    "close-to-close diffs sum as exact associative BIGINTs per hour, "
    "and the volatility scalar is two IEEE ops (sqrt, divide) on that "
    "identical integer — a double sum-of-squares would drift with "
    "partial-agg order and fail value-hash at any scale. The "
    "cross-hour diff assigns to the LATER minute's hour (lag runs "
    "over the full symbol history, then the hour rollup groups it). "
    "Scale shape: one shuffle to (symbol, minute) for the close agg, "
    "one per-symbol ordered window over MINUTES (bounded: 526k rows "
    "per symbol-year — a metadata-sized frame, not a data-sized one), "
    "then a partial-agg hour rollup on the same symbol partitioning.",
)
def realized_volatility_1h(spark, sf_dir):
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    ts = (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts")
    trades = li.select(
        _spot_symbol().alias("symbol"),
        ts,
        cents(F.round("l_extendedprice", 2)).alias("price_cents"),
        # (orderkey, linenumber) pairs COLLIDE as a bare orderkey*10+line
        # key (observed at sf0.001); folding price_cents into the low
        # digits makes arg_max tie-free in both engines — ties that
        # remain have equal price_cents, so the chosen close is equal
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            * F.lit(100000000).cast("long")
            + cents(F.round("l_extendedprice", 2))
        ).alias("seq"),
    )
    minute = (F.col("ts") - F.col("ts") % 60000).alias("minute")
    m = trades.groupBy("symbol", minute).agg(
        F.max_by("price_cents", "seq").alias("close_cents")
    )
    w = W.partitionBy("symbol").orderBy("minute")
    d = m.select(
        "symbol",
        "minute",
        (F.col("close_cents") - F.lag("close_cents").over(w)).alias("diff"),
    )
    hour = (F.col("minute") - F.col("minute") % 3600000).alias("hour_start")
    return d.groupBy("symbol", hour).agg(
        F.count("diff").cast("int").alias("n_intervals"),
        F.coalesce(F.sum(F.col("diff") * F.col("diff")), F.lit(0))
        .cast("long")
        .alias("rv_cents2"),
        (
            F.sqrt(F.coalesce(F.sum(F.col("diff") * F.col("diff")), F.lit(0)))
            / F.lit(100.0)
        ).alias("vol_usd"),
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
    import glob
    import json as _json
    import os
    import shutil
    import tempfile
    import uuid

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

    src = tempfile.mkdtemp(prefix="resync_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="resync_stream_ckpt_")
    name = f"stream_resync_{uuid.uuid4().hex[:12]}"
    try:
        for i in range(3):
            d = tempfile.mkdtemp(prefix="resync_stream_part_")
            wire.filter(F.col("batch_id") == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(d)
            (pf,) = glob.glob(f"{d}/part-*.parquet")
            dest = os.path.join(src, f"{i}.parquet")
            shutil.move(pf, dest)
            os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            shutil.rmtree(d, ignore_errors=True)
        stream = (
            spark.readStream.schema(
                "market_type string, msg string, received_at long, batch_id int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
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
        booked = lvs.groupBy("symbol").applyInPandasWithState(
            update,
            outputStructType=out_ddl,
            stateStructType=(
                "book string, last_u bigint, synced boolean, dropped bigint, "
                "n_batches bigint"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        qh = (
            booked.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not qh.awaitTermination(600):
            qh.stop()
            raise RuntimeError("stream_book_resync did not drain in 600s")
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return finalize_memory_sink(spark.table(name), name)


# DuckDB twin of _two_venue_bbo_quotes below: CTEs b (binance bookTicker
# leg), k (kraken spread leg), q (the union) — shared by the
# nbbo_consolidated_1m and venue_arb_spread_1m oracles.
_SQL_TWO_VENUE_QUOTES = f"""
    b AS (
      SELECT {_SQL_SPOT_PAIR} AS pair,
             ({_BASE_TS} + l_orderkey)
               - ({_BASE_TS} + l_orderkey) % 60000 AS minute_start,
             CAST(round(round(l_extendedprice - 1, 2) * 100) AS BIGINT)
               AS bid_cents,
             CAST(round(round(l_extendedprice + 1, 2) * 100) AS BIGINT)
               AS ask_cents,
             'binance' AS ex
      FROM lineitem),
    k AS (
      SELECT CASE l_partkey % 4 WHEN 0 THEN 'BTC/USDT'
                  WHEN 1 THEN 'ETH/USDT' WHEN 2 THEN 'DOGE/USDT'
                  ELSE 'BTC/USDT' END AS pair,
             (({_SEC_BASE} + l_orderkey // 1000) * 1000)
               - (({_SEC_BASE} + l_orderkey // 1000) * 1000) % 60000
               AS minute_start,
             CAST(round(round(l_extendedprice - 1
               + CASE WHEN l_orderkey % 2 = 0 THEN 0.01 ELSE -0.01 END,
               2) * 100) AS BIGINT) AS bid_cents,
             CAST(round(round(l_extendedprice + 1
               - CASE WHEN l_orderkey % 2 = 0 THEN 0.01 ELSE -0.01 END,
               2) * 100) AS BIGINT) AS ask_cents,
             'kraken' AS ex
      FROM lineitem),
    q AS (SELECT * FROM b UNION ALL SELECT * FROM k)"""


def _two_venue_bbo_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-venue consolidated quote frame shared by the cross-exchange
    rows (`nbbo_consolidated_1m`, `venue_arb_spread_1m`): binance
    bookTicker and kraken spread wires through their OWN parse arms,
    pairs unified by normalize_pair onto one namespace, prices quantized
    to integer cents (plans/money.py) BEFORE any aggregation. Kraken
    quotes are deterministically ±1 cent around binance's so the better
    venue alternates; BNB/BTC is binance-only (single-venue edge case).
    Columns: pair, minute_start, bid_cents, ask_cents, ex."""
    from crypto_msg_parser_spark.parser import kraken
    from crypto_msg_parser_spark.plans.money import cents

    # ---- binance leg: the existing bookTicker wire + parse arm
    bz = binance.parse_bbo(_bbo_msgs(spark, sf_dir))

    # ---- kraken leg: spread frames through kraken.parse_bbo
    li = _msg_source(spark, sf_dir)
    delta = F.when(F.col("l_orderkey") % 2 == 0, F.lit(0.01)).otherwise(
        F.lit(-0.01)
    )
    kbid = F.round(F.col("l_extendedprice") - 1 + delta, 2)
    kask = F.round(F.col("l_extendedprice") + 1 - delta, 2)
    kpair = F.col("l_partkey") % 4
    ksym = (
        F.when(kpair == 0, "XBT/USDT")
        .when(kpair == 1, "ETH/USDT")
        .when(kpair == 2, "XDG/USDT")
        .otherwise("XBT/USDT")
    )
    sec = F.lit(_SEC_BASE) + F.expr("l_orderkey DIV 1000")
    kmsg = F.format_string(
        '[340,["%.2f","%.2f","%d.000000","%.1f","%.1f"],"spread","%s"]',
        kbid,
        kask,
        sec,
        F.col("l_quantity"),
        F.col("l_quantity") + 1,
        ksym,
    )
    kraw = li.select(
        _msg_id().alias("msg_id"),
        F.lit(None).cast("long").alias("received_at"),
        kmsg.alias("msg"),
    ).localCheckpoint(eager=False).select(
        "msg_id",
        F.lit("kraken").alias("exchange"),
        F.lit("spot").alias("market_type"),
        "received_at",
        "msg",
    )
    kz = kraken.parse_bbo(kraw)

    quotes = None
    for leg in (bz, kz):
        one = leg.select(
            "pair",
            (F.col("timestamp") - F.col("timestamp") % 60000).alias(
                "minute_start"
            ),
            cents(F.col("bid_price")).alias("bid_cents"),
            cents(F.col("ask_price")).alias("ask_cents"),
            F.col("exchange").alias("ex"),
        )
        quotes = one if quotes is None else quotes.unionByName(one)
    return quotes


@query(
    "nbbo_consolidated_1m",
    oracle=f"""
    WITH {_SQL_TWO_VENUE_QUOTES}
    SELECT pair, minute_start,
           max(bid_cents) AS nbbo_bid_cents,
           arg_max(ex, bid_cents * 2
             + CASE WHEN ex = 'kraken' THEN 1 ELSE 0 END) AS bid_venue,
           min(ask_cents) AS nbbo_ask_cents,
           arg_min(ex, ask_cents * 2
             + CASE WHEN ex = 'kraken' THEN 1 ELSE 0 END) AS ask_venue,
           CAST(count(*) AS BIGINT) AS n_quotes,
           max(bid_cents) >= min(ask_cents) AS crossed
    FROM q GROUP BY pair, minute_start
    """,
    doc="cross-exchange consolidated best bid/offer (the NBBO of the "
    "reference's unified-pair space): binance bookTicker and kraken "
    "spread frames flow through their OWN parse arms, land on the "
    "shared BBO schema with pairs normalized into one namespace "
    "(binance 'BTCUSDT' and kraken 'XBT/USDT' both -> 'BTC/USDT' — the "
    "whole point of normalize_pair), and a per (pair, minute) "
    "aggregate takes the best bid / best ask across venues with "
    "arg_max over an integer cents*2+venue-bit key so venue "
    "attribution is tie-free by construction. Kraken quotes are deterministically "
    "±1 cent around binance's so the winning venue alternates, and "
    "one pair (BNB/BTC) is binance-only — the single-venue NBBO edge "
    "case. Integer cents before aggregation (plans/money.py); "
    "crossed-book flag = one integer compare on the aggregates. Scale "
    "shape: two parse pipelines (zero per-row Python), one unionByName "
    "(no shuffle), one partial-agg groupBy on (pair, minute).",
)
def nbbo_consolidated_1m(spark, sf_dir):
    quotes = _two_venue_bbo_quotes(spark, sf_dir)
    return quotes.groupBy("pair", "minute_start").agg(
        F.max("bid_cents").alias("nbbo_bid_cents"),
        # venue folded into the integer order key: cents*2 + venue bit —
        # a cross-venue cents tie resolves to kraken on the bid (max) and
        # binance on the ask (min), deterministically in both engines
        F.max_by(
            "ex",
            F.col("bid_cents") * 2
            + (F.col("ex") == "kraken").cast("long"),
        ).alias("bid_venue"),
        F.min("ask_cents").alias("nbbo_ask_cents"),
        F.min_by(
            "ex",
            F.col("ask_cents") * 2
            + (F.col("ex") == "kraken").cast("long"),
        ).alias("ask_venue"),
        F.count(F.lit(1)).cast("long").alias("n_quotes"),
        (F.max("bid_cents") >= F.min("ask_cents")).alias("crossed"),
    )


@query(
    "candles_gap_fill",
    oracle=f"""
    WITH trades AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 AS ts,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             (l_orderkey * 10 + l_linenumber) * 100000000
               + CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT) AS seq
      FROM lineitem),
    m AS (
      SELECT symbol, ts - ts % 60000 AS minute,
             arg_max(price_cents, seq) AS close_cents
      FROM trades GROUP BY symbol, ts - ts % 60000),
    rng AS (SELECT symbol, min(minute) AS mn, max(minute) AS mx
            FROM m GROUP BY symbol),
    grid AS (
      SELECT symbol, unnest(generate_series(mn, mx, 60000)) AS minute
      FROM rng),
    j AS (
      SELECT g.symbol, g.minute, m.close_cents,
             m.close_cents IS NULL AS is_gap
      FROM grid g LEFT JOIN m ON g.symbol = m.symbol AND g.minute = m.minute)
    SELECT symbol, minute AS minute_start,
           CAST(last_value(close_cents IGNORE NULLS) OVER (
             PARTITION BY symbol ORDER BY minute
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS close_cents,
           is_gap
    FROM j
    """,
    doc="minute-grid gap fill over the candle series — the time-series "
    "repair every chart/backtest consumer needs (sparse trading leaves "
    "minutes with no candle; the filled series carries the last known "
    "close forward and flags synthetic rows): per symbol, the complete "
    "minute grid materializes in-plan via a TWO-LEVEL sequence()+"
    "explode (days first, then each day's <=1440 clipped minutes) "
    "bounded by the symbol's own [min, max] range, left-joins the "
    "observed closes, and forward-fills with last(ignorenulls) over an "
    "ordered per-symbol window. Closes are the rv row's tie-free "
    "integer-cents arg_max, so the fill is hash-exact. Scale shape: "
    "the grid is one row per symbol-MINUTE (526k/symbol-year — bounded "
    "metadata, not data) but no single in-plan ARRAY ever exceeds a "
    "day of minutes (the day rows redistribute between the explodes, "
    "so per-row memory is flat in the ts spread), the join is an "
    "equi-join on (symbol, minute) AQE handles, "
    "and the fill window frames the same bounded minute series; the "
    "first grid row per symbol is always observed (the range starts at "
    "an observed minute), so the fill is total.",
)
def candles_gap_fill(spark, sf_dir):
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    ts = (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts")
    trades = li.select(
        _spot_symbol().alias("symbol"),
        ts,
        cents(F.round("l_extendedprice", 2)).alias("price_cents"),
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            * F.lit(100000000).cast("long")
            + cents(F.round("l_extendedprice", 2))
        ).alias("seq"),
    )
    minute = (F.col("ts") - F.col("ts") % 60000).alias("minute")
    m = trades.groupBy("symbol", minute).agg(
        F.max_by("price_cents", "seq").alias("close_cents")
    )
    rng = m.groupBy("symbol").agg(
        F.min("minute").alias("mn"), F.max("minute").alias("mx")
    )
    # Two-level grid: a single sequence(mn, mx, 1min) would materialize
    # the symbol's ENTIRE minute range as one array in one row on one
    # executor (~526k elements per symbol-year, growing linearly with the
    # ts spread) — a per-row array-size/memory hazard, not a scale-free
    # plan. Instead explode a coarse DAY sequence (60*24x fewer elements
    # per array), then expand each day row into its <=1440 clipped
    # minutes; the day rows redistribute across partitions between the
    # two explodes, so no single row ever holds more than a day of grid.
    # mn/mx/day starts are all multiples of 60000, so the union of the
    # per-day sequences is exactly the minutes of [mn, mx].
    day_ms = F.lit(86_400_000).cast("long")
    days = rng.select(
        "symbol",
        "mn",
        "mx",
        F.explode(
            F.sequence(F.col("mn") - F.col("mn") % day_ms, F.col("mx"), day_ms)
        ).alias("day"),
    )
    grid = days.select(
        "symbol",
        F.explode(
            F.sequence(
                F.greatest(F.col("day"), F.col("mn")),
                F.least(F.col("day") + day_ms - 60000, F.col("mx")),
                F.lit(60000).cast("long"),
            )
        ).alias("minute"),
    )
    j = grid.join(m, ["symbol", "minute"], "left").select(
        "symbol",
        "minute",
        "close_cents",
        F.col("close_cents").isNull().alias("is_gap"),
    )
    w = (
        W.partitionBy("symbol")
        .orderBy("minute")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return j.select(
        "symbol",
        F.col("minute").alias("minute_start"),
        F.last("close_cents", ignorenulls=True)
        .over(w)
        .cast("long")
        .alias("close_cents"),
        "is_gap",
    )


# Lee-Ready CTE prefix shared by trade_sign_leeready_1m and
# trade_markout_5m: quotes q1 (±1-cent skewed mids 500 ms before their
# order's trades), trades t, the as-of mid carry, the tick-rule
# fallback, the final per-trade sign. `signed` retains mid_x2 so the
# markout row can difference against it (harmless extra column for
# the sign row's final aggregate).
_SQL_LEEREADY_SIGNED = f"""q1 AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 - 500 AS qts,
             CAST(round(round(l_extendedprice - 1
               + CASE l_orderkey % 3 WHEN 1 THEN 0.01
                      WHEN 2 THEN -0.01 ELSE 0.0 END, 2) * 100) AS BIGINT)
             + CAST(round(round(l_extendedprice + 1
               + CASE l_orderkey % 3 WHEN 1 THEN 0.01
                      WHEN 2 THEN -0.01 ELSE 0.0 END, 2) * 100) AS BIGINT)
               AS mid_x2
      FROM lineitem WHERE l_linenumber = 1),
    t AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 AS ts,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS qty_deci,
             (l_orderkey * 10 + l_linenumber) * 100000000
               + CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT) AS seq
      FROM lineitem),
    carried_src AS (
      SELECT symbol, qts AS ts, 0 AS kind, CAST(NULL AS BIGINT) AS price_cents,
             CAST(NULL AS BIGINT) AS qty_deci, mid_x2 AS seq,
             mid_x2 FROM q1
      UNION ALL
      SELECT symbol, ts, 1, price_cents, qty_deci, seq,
             CAST(NULL AS BIGINT) FROM t),
    carried AS (
      SELECT symbol, ts, kind, price_cents, qty_deci, seq,
             last_value(mid_x2 IGNORE NULLS) OVER (
               PARTITION BY symbol ORDER BY ts, kind, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid_x2
      FROM carried_src),
    trades AS (SELECT * FROM carried WHERE kind = 1),
    ticked AS (
      SELECT symbol, ts, seq, price_cents, qty_deci, mid_x2,
             CASE WHEN price_cents
                    > lag(price_cents) OVER w THEN CAST(1 AS BIGINT)
                  WHEN price_cents
                    < lag(price_cents) OVER w THEN CAST(-1 AS BIGINT)
                  ELSE CAST(NULL AS BIGINT) END AS raw_tick
      FROM trades WINDOW w AS (PARTITION BY symbol ORDER BY ts, seq)),
    signed AS (
      SELECT symbol, ts, price_cents, qty_deci, mid_x2,
             CASE WHEN price_cents * 2 > mid_x2 THEN CAST(1 AS BIGINT)
                  WHEN price_cents * 2 < mid_x2 THEN CAST(-1 AS BIGINT)
                  ELSE last_value(raw_tick IGNORE NULLS) OVER (
                    PARTITION BY symbol ORDER BY ts, seq
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  END AS sgn
      FROM ticked)"""


def _leeready_signed(spark, sf_dir):
    """Spark twin of _SQL_LEEREADY_SIGNED: per-trade Lee-Ready sign with
    the prevailing quote mid retained — (symbol, ts, price_cents,
    qty_deci, mid_x2, sgn)."""
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    skew = (
        F.when(F.col("l_orderkey") % 3 == 1, F.lit(0.01))
        .when(F.col("l_orderkey") % 3 == 2, F.lit(-0.01))
        .otherwise(F.lit(0.0))
    )
    q1 = li.filter(F.col("l_linenumber") == 1).select(
        _spot_symbol().alias("symbol"),
        (F.lit(_BASE_TS) + F.col("l_orderkey") * 997 - 500).alias("ts"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("price_cents"),
        F.lit(None).cast("long").alias("qty_deci"),
        # quote seq = the mid value itself: duplicate (l_orderkey,
        # l_linenumber=1) rows put TWO same-symbol quotes on one ts
        # (measured: 237/6000 downstream trades flipped between engines
        # on that untotalled order); sorting the tie by mid_x2 makes the
        # carry deterministic in both engines, and equal-mid ties are
        # output-identical
        (cents(F.round(p - 1 + skew, 2)) + cents(F.round(p + 1 + skew, 2)))
        .alias("seq"),
        (cents(F.round(p - 1 + skew, 2)) + cents(F.round(p + 1 + skew, 2)))
        .alias("mid_x2"),
    )
    t = li.select(
        _spot_symbol().alias("symbol"),
        (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts"),
        F.lit(1).alias("kind"),
        cents(F.round(p, 2)).alias("price_cents"),
        F.round(F.round("l_quantity", 1) * 10).cast("long").alias("qty_deci"),
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            * F.lit(100000000).cast("long")
            + cents(F.round(p, 2))
        ).alias("seq"),
        F.lit(None).cast("long").alias("mid_x2"),
    )
    merged = q1.unionByName(t)
    w_asof = (
        W.partitionBy("symbol")
        .orderBy("ts", "kind", "seq")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    asof = merged.select(
        "symbol", "ts", "kind", "price_cents", "qty_deci", "seq",
        F.last("mid_x2", ignorenulls=True).over(w_asof).alias("mid_x2"),
    )
    trades = asof.filter(F.col("kind") == 1)
    w_tick = W.partitionBy("symbol").orderBy("ts", "seq")
    prev = F.lag("price_cents").over(w_tick)
    ticked = trades.select(
        "symbol", "ts", "seq", "price_cents", "qty_deci", "mid_x2",
        F.when(F.col("price_cents") > prev, F.lit(1).cast("long"))
        .when(F.col("price_cents") < prev, F.lit(-1).cast("long"))
        .alias("raw_tick"),
    )
    # the tick-rule carry follows TRADE order — the same total (ts, seq)
    # order the lag used; anything weaker is engine-ambiguous on same-ts
    # duplicate trades
    w_carry = (
        W.partitionBy("symbol")
        .orderBy("ts", "seq")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return ticked.select(
        "symbol", "ts", "price_cents", "qty_deci", "mid_x2",
        F.when(F.col("price_cents") * 2 > F.col("mid_x2"), F.lit(1).cast("long"))
        .when(F.col("price_cents") * 2 < F.col("mid_x2"), F.lit(-1).cast("long"))
        .otherwise(F.last("raw_tick", ignorenulls=True).over(w_carry))
        .alias("sgn"),
    )


@query(
    "trade_sign_leeready_1m",
    oracle=f"""
    WITH {_SQL_LEEREADY_SIGNED}
    SELECT symbol, ts - ts % 60000 AS minute_start,
           CAST(count(*) FILTER (WHERE sgn = 1) AS BIGINT) AS n_buy,
           CAST(count(*) FILTER (WHERE sgn = -1) AS BIGINT) AS n_sell,
           CAST(count(*) FILTER (WHERE sgn IS NULL) AS BIGINT) AS n_unknown,
           COALESCE(CAST(sum(sgn * qty_deci) AS BIGINT), 0)
             AS signed_qty_deci
    FROM signed GROUP BY symbol, ts - ts % 60000
    """,
    doc="Lee-Ready trade-sign classification (Lee & Ready 1991, the "
    "standard aggressor-side inference when the feed carries no taker "
    "flag — several reference arms genuinely don't, e.g. dYdX/bitmex "
    "side-less frames): every trade joins AS-OF backward to the most "
    "recent quote midpoint of its symbol (union quotes+trades, one "
    "ordered window carrying last(mid ignorenulls) — the same merge "
    "the reference consumer does by interleaving ws channels), signs "
    "above/below mid in integer cents, and falls back to the tick rule "
    "at the midpoint (last non-zero price-change direction, a second "
    "ignorenulls carry; still-unknown leading trades stay NULL and are "
    "reported, not guessed). Quotes are deterministically skewed "
    "±1 cent (and unskewed every third order, forcing the tick-rule "
    "path) and sit 500 ms before their order's trades, so every branch "
    "runs at every SF. Output = per symbol-minute signed order flow in "
    "exact integer deci-units. Scale shape: one union (no shuffle), "
    "one shuffle to the symbol partitioning shared by BOTH carry "
    "windows and the tick lag, then a partial-agg minute rollup — the "
    "windows order symbol-local event streams, the same bounded frames "
    "the book operators use.",
)
def trade_sign_leeready_1m(spark, sf_dir):
    signed = _leeready_signed(spark, sf_dir)
    minute = (F.col("ts") - F.col("ts") % 60000).alias("minute_start")
    return signed.groupBy("symbol", minute).agg(
        F.count(F.when(F.col("sgn") == 1, 1)).cast("long").alias("n_buy"),
        F.count(F.when(F.col("sgn") == -1, 1)).cast("long").alias("n_sell"),
        F.count(F.when(F.col("sgn").isNull(), 1)).cast("long").alias("n_unknown"),
        F.coalesce(F.sum(F.col("sgn") * F.col("qty_deci")), F.lit(0))
        .cast("long")
        .alias("signed_qty_deci"),
    )


@query(
    "candles_sma_bands_5m",
    oracle=f"""
    WITH trades AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 AS ts,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             (l_orderkey * 10 + l_linenumber) * 100000000
               + CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT) AS seq
      FROM lineitem),
    m AS (
      SELECT symbol, ts - ts % 60000 AS minute,
             arg_max(price_cents, seq) AS close_cents
      FROM trades GROUP BY symbol, ts - ts % 60000),
    w AS (
      SELECT symbol, minute, close_cents,
             CAST(count(*) OVER win AS BIGINT) AS n,
             CAST(sum(close_cents) OVER win AS BIGINT) AS s,
             CAST(sum(close_cents * close_cents) OVER win AS BIGINT) AS s2
      FROM m WINDOW win AS (
        PARTITION BY symbol ORDER BY minute
        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT symbol, minute AS minute_start, close_cents, n,
           s AS sum_cents, n * s2 - s * s AS var_num,
           s / CAST(n AS DOUBLE) / 100.0 AS sma_usd,
           sqrt(n * s2 - s * s) / n / 100.0 AS band_halfwidth_usd
    FROM w
    """,
    doc="5-minute simple moving average + Bollinger-style band half-width "
    "over the minute closes, float-drift-free: the rolling window "
    "carries only integer sums (n, sum of cents, sum of squared cents), "
    "the population variance numerator n*s2 - s^2 stays an exact "
    "BIGINT, and the two reported doubles (sma, sqrt-based half-width) "
    "are short IEEE chains on those identical integers — the classic "
    "rolling-stddev float accumulation is never done in floating "
    "point. Scale shape: one (symbol, minute) shuffle then a 5-row "
    "bounded rows-frame per symbol over MINUTES; the frame never "
    "buffers more than 5 values regardless of corpus size.",
)
def candles_sma_bands_5m(spark, sf_dir):
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    ts = (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts")
    trades = li.select(
        _spot_symbol().alias("symbol"),
        ts,
        cents(F.round("l_extendedprice", 2)).alias("price_cents"),
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            * F.lit(100000000).cast("long")
            + cents(F.round("l_extendedprice", 2))
        ).alias("seq"),
    )
    minute = (F.col("ts") - F.col("ts") % 60000).alias("minute")
    m = trades.groupBy("symbol", minute).agg(
        F.max_by("price_cents", "seq").alias("close_cents")
    )
    win = W.partitionBy("symbol").orderBy("minute").rowsBetween(-4, 0)
    n = F.count(F.lit(1)).over(win).cast("long")
    s = F.sum("close_cents").over(win).cast("long")
    s2 = F.sum(F.col("close_cents") * F.col("close_cents")).over(win).cast(
        "long"
    )
    w = m.select(
        "symbol",
        F.col("minute").alias("minute_start"),
        "close_cents",
        n.alias("n"),
        s.alias("sum_cents"),
        (n * s2 - s * s).alias("var_num"),
    )
    return w.select(
        "symbol", "minute_start", "close_cents", "n", "sum_cents", "var_num",
        (F.col("sum_cents") / F.col("n").cast("double") / F.lit(100.0))
        .alias("sma_usd"),
        (F.sqrt(F.col("var_num")) / F.col("n") / F.lit(100.0))
        .alias("band_halfwidth_usd"),
    )


@query(
    "price_impact_kyle_lambda",
    oracle=f"""
    WITH q1 AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 - 500 AS qts,
             CAST(round(round(l_extendedprice - 1
               + CASE l_orderkey % 3 WHEN 1 THEN 0.01
                      WHEN 2 THEN -0.01 ELSE 0.0 END, 2) * 100) AS BIGINT)
             + CAST(round(round(l_extendedprice + 1
               + CASE l_orderkey % 3 WHEN 1 THEN 0.01
                      WHEN 2 THEN -0.01 ELSE 0.0 END, 2) * 100) AS BIGINT)
               AS mid_x2
      FROM lineitem WHERE l_linenumber = 1),
    t AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 AS ts,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS qty_deci,
             (l_orderkey * 10 + l_linenumber) * 100000000
               + CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT) AS seq
      FROM lineitem),
    carried_src AS (
      SELECT symbol, qts AS ts, 0 AS kind, CAST(NULL AS BIGINT) AS price_cents,
             CAST(NULL AS BIGINT) AS qty_deci, mid_x2 AS seq, mid_x2 FROM q1
      UNION ALL
      SELECT symbol, ts, 1, price_cents, qty_deci, seq,
             CAST(NULL AS BIGINT) FROM t),
    carried AS (
      SELECT symbol, ts, kind, price_cents, qty_deci, seq,
             last_value(mid_x2 IGNORE NULLS) OVER (
               PARTITION BY symbol ORDER BY ts, kind, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid_x2
      FROM carried_src),
    trades AS (SELECT * FROM carried WHERE kind = 1),
    ticked AS (
      SELECT symbol, ts, seq, price_cents, qty_deci, mid_x2,
             CASE WHEN price_cents
                    > lag(price_cents) OVER w THEN CAST(1 AS BIGINT)
                  WHEN price_cents
                    < lag(price_cents) OVER w THEN CAST(-1 AS BIGINT)
                  ELSE CAST(NULL AS BIGINT) END AS raw_tick
      FROM trades WINDOW w AS (PARTITION BY symbol ORDER BY ts, seq)),
    signed AS (
      SELECT symbol, ts, price_cents, qty_deci,
             CASE WHEN price_cents * 2 > mid_x2 THEN CAST(1 AS BIGINT)
                  WHEN price_cents * 2 < mid_x2 THEN CAST(-1 AS BIGINT)
                  ELSE last_value(raw_tick IGNORE NULLS) OVER (
                    PARTITION BY symbol ORDER BY ts, seq
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  END AS sgn
      FROM ticked),
    flow AS (
      SELECT symbol, ts - ts % 60000 AS minute,
             COALESCE(CAST(sum(sgn * qty_deci) AS BIGINT), 0) AS x
      FROM signed GROUP BY symbol, ts - ts % 60000),
    m AS (
      SELECT symbol, ts - ts % 60000 AS minute,
             arg_max(price_cents, seq) AS close_cents
      FROM t GROUP BY symbol, ts - ts % 60000),
    joined AS (
      SELECT f.symbol, f.minute, f.x,
             m.close_cents - lag(m.close_cents) OVER (
               PARTITION BY f.symbol ORDER BY f.minute) AS y
      FROM flow f JOIN m ON f.symbol = m.symbol AND f.minute = m.minute)
    SELECT symbol,
           CAST(count(*) AS BIGINT) AS n_minutes,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CASE WHEN sum(x * x) = 0 THEN NULL
                ELSE sum(x * y) / CAST(sum(x * x) AS DOUBLE) END AS lambda
    FROM joined WHERE y IS NOT NULL GROUP BY symbol
    """,
    doc="Kyle's lambda — per-symbol price impact, the through-origin "
    "regression of minute price changes on minute signed order flow "
    "(Kyle 1985): x = Lee-Ready signed volume in integer deci-units "
    "(the trade_sign_leeready_1m chain verbatim), y = close-to-close "
    "cents diff on the same minute grid, lambda = sum(xy)/sum(x^2) "
    "with BOTH regression sums exact associative BIGINTs — the final "
    "lambda is one integer-to-double division, so partial-agg order "
    "cannot drift it; a zero-flow symbol reports NULL instead of a "
    "divide artifact. Scale shape: inherits Lee-Ready's single symbol "
    "shuffle, adds one (symbol, minute) equi-join AQE plans and a "
    "per-symbol lag over bounded MINUTE frames, then a 4-row final "
    "partial agg.",
)
def price_impact_kyle_lambda(spark, sf_dir):
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    flow = trade_sign_leeready_1m(spark, sf_dir).select(
        "symbol",
        F.col("minute_start").alias("minute"),
        F.col("signed_qty_deci").alias("x"),
    )
    li = load_table(spark, sf_dir, "lineitem")
    ts = (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts")
    trades = li.select(
        _spot_symbol().alias("symbol"),
        ts,
        cents(F.round("l_extendedprice", 2)).alias("price_cents"),
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            * F.lit(100000000).cast("long")
            + cents(F.round("l_extendedprice", 2))
        ).alias("seq"),
    )
    minute = (F.col("ts") - F.col("ts") % 60000).alias("minute")
    m = trades.groupBy("symbol", minute).agg(
        F.max_by("price_cents", "seq").alias("close_cents")
    )
    w = W.partitionBy("symbol").orderBy("minute")
    joined = flow.join(m, ["symbol", "minute"]).select(
        "symbol",
        "minute",
        "x",
        (F.col("close_cents") - F.lag("close_cents").over(w)).alias("y"),
    )
    sxx = F.sum(F.col("x") * F.col("x"))
    sxy = F.sum(F.col("x") * F.col("y"))
    return (
        joined.filter(F.col("y").isNotNull())
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_minutes"),
            sxy.cast("long").alias("sxy"),
            sxx.cast("long").alias("sxx"),
            F.when(sxx == 0, F.lit(None).cast("double"))
            .otherwise(sxy / sxx.cast("double"))
            .alias("lambda"),
        )
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
    import glob
    import os
    import shutil
    import tempfile
    import uuid

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

    src = tempfile.mkdtemp(prefix="nbbo_stream_src_")
    ckpt = tempfile.mkdtemp(prefix="nbbo_stream_ckpt_")
    name = f"stream_nbbo_{uuid.uuid4().hex[:12]}"
    try:
        for i in range(3):
            d = tempfile.mkdtemp(prefix="nbbo_stream_part_")
            both.filter(F.col("batch_id") == i).coalesce(1).write.mode(
                "overwrite"
            ).parquet(d)
            (pf,) = glob.glob(f"{d}/part-*.parquet")
            dest = os.path.join(src, f"{i}.parquet")
            shutil.move(pf, dest)
            os.utime(dest, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            shutil.rmtree(d, ignore_errors=True)
        stream = (
            spark.readStream.schema(
                "market_type string, received_at long, tie long, "
                "batch_id int, venue string, msg string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
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
        tape = quotes.groupBy("pair").applyInPandasWithState(
            update,
            outputStructType=out_ddl,
            stateStructType=(
                "b_ts bigint, b_bid bigint, b_ask bigint, "
                "k_ts bigint, k_bid bigint, k_ask bigint, n_seen bigint"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        qh = (
            tape.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not qh.awaitTermination(600):
            qh.stop()
            raise RuntimeError("stream_nbbo_tape did not drain in 600s")
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    # keep each pair's LAST emission: n_quotes_seen is monotone per key,
    # so this selection is batch-alignment-agnostic
    return finalize_memory_sink(
        spark.table(name)
        .groupBy("pair")
        .agg(
            F.max_by("nbbo_bid_cents", "n_quotes_seen").alias(
                "nbbo_bid_cents"
            ),
            F.max_by("bid_venue", "n_quotes_seen").alias("bid_venue"),
            F.max_by("nbbo_ask_cents", "n_quotes_seen").alias("nbbo_ask_cents"),
            F.max_by("ask_venue", "n_quotes_seen").alias("ask_venue"),
            F.max("n_quotes_seen").alias("n_quotes_seen"),
        ),
        name,
    )

# --------------------------------- round-5 downstream market analytics
#
# Three more members of the post-parse analytics family every reference
# user runs on normalized trade/BBO frames (reference scope: the parser
# emits TradeMsg/BboMsg, lib.rs:76-162; everything downstream is engine
# work). All three follow the repo's float-determinism discipline: every
# AGGREGATE is an exact associative BIGINT (plans/money.py minor units),
# and each reported double is a short identical IEEE chain on those
# integers in both engines.


@query(
    "venue_arb_spread_1m",
    oracle=f"""
    WITH {_SQL_TWO_VENUE_QUOTES},
    pv AS (
      SELECT pair, minute_start,
             max(CASE WHEN ex = 'binance' THEN bid_cents END)
               AS binance_bid_cents,
             min(CASE WHEN ex = 'binance' THEN ask_cents END)
               AS binance_ask_cents,
             max(CASE WHEN ex = 'kraken' THEN bid_cents END)
               AS kraken_bid_cents,
             min(CASE WHEN ex = 'kraken' THEN ask_cents END)
               AS kraken_ask_cents,
             CAST(count(DISTINCT ex) AS INT) AS n_venues
      FROM q GROUP BY pair, minute_start)
    SELECT pair, minute_start, n_venues,
           binance_bid_cents, binance_ask_cents,
           kraken_bid_cents, kraken_ask_cents,
           CASE WHEN n_venues = 2 THEN
             greatest(binance_bid_cents - kraken_ask_cents,
                      kraken_bid_cents - binance_ask_cents)
           END AS arb_cents,
           CASE WHEN n_venues = 2 THEN
             greatest(binance_bid_cents - kraken_ask_cents,
                      kraken_bid_cents - binance_ask_cents) > 0
           END AS arb_open
    FROM pv
    """,
    doc="cross-venue arbitrage screen per (pair, minute) — the dislocation "
    "monitor that runs downstream of the consolidated tape: for every "
    "minute bar, each venue's best bid and best ask (integer cents, "
    "max/min aggregates — tie-free by construction, unlike a "
    "last-quote selection which needs a total order key), then the "
    "executable round-trip edge = max(bid_A - ask_B, bid_B - ask_A) "
    "across distinct venues. Positive arb_cents = a crossed market "
    "ACROSS venues (buy the cheap ask, sell the rich bid); NULL for "
    "single-venue pairs (BNB/BTC), where no cross-venue trade exists. "
    "Shares _two_venue_bbo_quotes with nbbo_consolidated_1m: both "
    "venues' wires flow through their OWN parse arms "
    "(binance.parse_bbo / kraken.parse_bbo) and meet in the unified "
    "pair namespace — the reference's normalize_pair promise is what "
    "makes the equi-grouping sound. Scale shape: two parse pipelines "
    "(zero per-row Python), one unionByName (no shuffle), ONE "
    "partial-agg groupBy on (pair, minute) — conditional min/max "
    "aggregates pivot the venues without a join, so adding a venue "
    "adds a parse leg, never a shuffle.",
)
def venue_arb_spread_1m(spark, sf_dir):
    quotes = _two_venue_bbo_quotes(spark, sf_dir)
    pv = quotes.groupBy("pair", "minute_start").agg(
        F.max(F.when(F.col("ex") == "binance", F.col("bid_cents"))).alias(
            "binance_bid_cents"
        ),
        F.min(F.when(F.col("ex") == "binance", F.col("ask_cents"))).alias(
            "binance_ask_cents"
        ),
        F.max(F.when(F.col("ex") == "kraken", F.col("bid_cents"))).alias(
            "kraken_bid_cents"
        ),
        F.min(F.when(F.col("ex") == "kraken", F.col("ask_cents"))).alias(
            "kraken_ask_cents"
        ),
        F.countDistinct("ex").cast("int").alias("n_venues"),
    )
    arb = F.greatest(
        F.col("binance_bid_cents") - F.col("kraken_ask_cents"),
        F.col("kraken_bid_cents") - F.col("binance_ask_cents"),
    )
    both = F.col("n_venues") == 2
    return pv.select(
        "pair",
        "minute_start",
        "n_venues",
        "binance_bid_cents",
        "binance_ask_cents",
        "kraken_bid_cents",
        "kraken_ask_cents",
        F.when(both, arb).alias("arb_cents"),
        F.when(both, arb > 0).alias("arb_open"),
    )


# shared trade synthesis for the two estimator rows below — identical to
# realized_volatility_1h's (one trade per lineitem row, ts spread by
# orderkey*997 ms, integer cents, tie-free arg_max key with the price
# folded into the low digits).
_SQL_EST_TRADES = f"""
    trades AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey * 997 AS ts,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             CAST(round(l_quantity * 10) AS BIGINT) AS qty_deci,
             (l_orderkey * 10 + l_linenumber) * 100000000
               + CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS seq
      FROM lineitem),
    m AS (
      SELECT symbol, ts - ts % 60000 AS minute,
             arg_max(price_cents, seq) AS close_cents
      FROM trades GROUP BY symbol, ts - ts % 60000)"""


def _est_trades(spark, sf_dir):
    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        _spot_symbol().alias("symbol"),
        (F.lit(_BASE_TS) + F.col("l_orderkey") * 997).alias("ts"),
        cents(F.round("l_extendedprice", 2)).alias("price_cents"),
        F.round(F.col("l_quantity") * 10).cast("long").alias("qty_deci"),
        (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
            * F.lit(100000000).cast("long")
            + cents(F.round("l_extendedprice", 2))
        ).alias("seq"),
    )


def _minute_closes(spark, sf_dir):
    t = _est_trades(spark, sf_dir)
    minute = (F.col("ts") - F.col("ts") % 60000).alias("minute")
    return t.groupBy("symbol", minute).agg(
        F.max_by("price_cents", "seq").alias("close_cents")
    )


@query(
    "roll_spread_1h",
    oracle=f"""
    WITH {_SQL_EST_TRADES},
    d AS (
      SELECT symbol, minute,
             close_cents - lag(close_cents) OVER w AS diff,
             lag(close_cents) OVER w - lag(close_cents, 2) OVER w
               AS prev_diff
      FROM m WINDOW w AS (PARTITION BY symbol ORDER BY minute)),
    p AS (SELECT * FROM d
          WHERE diff IS NOT NULL AND prev_diff IS NOT NULL)
    SELECT symbol, minute - minute % 3600000 AS hour_start,
           CAST(count(*) AS INT) AS n_pairs,
           CAST(count(*) * sum(diff * prev_diff)
                - sum(diff) * sum(prev_diff) AS BIGINT) AS cov_num,
           CASE WHEN count(*) * sum(diff * prev_diff)
                     - sum(diff) * sum(prev_diff) < 0 THEN
             2.0 * sqrt(
               CAST(CAST(-(count(*) * sum(diff * prev_diff)
                           - sum(diff) * sum(prev_diff)) AS BIGINT)
                    AS DOUBLE)
               / CAST(count(*) * count(*) AS DOUBLE)) / 100.0
           END AS roll_spread_usd
    FROM p GROUP BY symbol, minute - minute % 3600000
    """,
    doc="Roll (1984) implicit effective-spread estimator per symbol-hour "
    "from 1-minute closes: spread = 2*sqrt(-cov(dp_t, dp_(t-1))) when "
    "the serial covariance of successive price changes is negative "
    "(bid-ask bounce), NULL otherwise (trending hour, estimator "
    "undefined) — the classic microstructure estimator computed without "
    "trade-sign data. Float-drift-free like realized_volatility_1h: "
    "closes are integer cents, the covariance NUMERATOR n*S(xy)-S(x)S(y) "
    "is an exact associative BIGINT (pairwise magnitudes bounded: "
    "|diff| <= 1e7 cents, <=59 pairs/hour, so n*S(xy) <= 3.6e17 < 2^63), "
    "and the reported double is the identical IEEE chain "
    "(int64->double cast, divide, sqrt, *2.0, /100.0) in both engines — "
    "the oracle casts its HUGEINT aggregate through BIGINT first so both "
    "sides convert the same int64. The diff pair (d_t, d_(t-1)) is "
    "assigned to the LATER minute's hour, same convention as the "
    "realized-vol row. Scale shape: one shuffle to (symbol, minute) for "
    "the close agg, one per-symbol ordered window over MINUTES (bounded "
    "metadata frame), one partial-agg hour rollup.",
)
def roll_spread_1h(spark, sf_dir):
    from pyspark.sql import Window as W

    m = _minute_closes(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("minute")
    d = m.select(
        "symbol",
        "minute",
        (F.col("close_cents") - F.lag("close_cents").over(w)).alias("diff"),
        (
            F.lag("close_cents").over(w) - F.lag("close_cents", 2).over(w)
        ).alias("prev_diff"),
    ).filter(F.col("diff").isNotNull() & F.col("prev_diff").isNotNull())
    hour = (F.col("minute") - F.col("minute") % 3600000).alias("hour_start")
    g = d.groupBy("symbol", hour).agg(
        F.count(F.lit(1)).cast("int").alias("n_pairs"),
        (
            F.count(F.lit(1)) * F.sum(F.col("diff") * F.col("prev_diff"))
            - F.sum("diff") * F.sum("prev_diff")
        )
        .cast("long")
        .alias("cov_num"),
    )
    return g.select(
        "symbol",
        "hour_start",
        "n_pairs",
        "cov_num",
        F.when(
            F.col("cov_num") < 0,
            F.lit(2.0)
            * F.sqrt(
                (-F.col("cov_num")).cast("double")
                / (
                    F.col("n_pairs").cast("long")
                    * F.col("n_pairs").cast("long")
                ).cast("double")
            )
            / F.lit(100.0),
        ).alias("roll_spread_usd"),
    )


@query(
    "amihud_illiquidity_daily",
    oracle=f"""
    WITH {_SQL_EST_TRADES},
    d AS (
      SELECT symbol, minute,
             close_cents - lag(close_cents) OVER (
               PARTITION BY symbol ORDER BY minute) AS diff
      FROM m),
    adr AS (
      SELECT symbol, minute - minute % 86400000 AS day_start,
             CAST(sum(abs(diff)) AS BIGINT) AS sum_abs_move_cents,
             CAST(count(*) AS INT) AS n_intervals
      FROM d WHERE diff IS NOT NULL
      GROUP BY symbol, minute - minute % 86400000),
    vol AS (
      SELECT symbol, ts - ts % 86400000 AS day_start,
             CAST(sum(price_cents * qty_deci) AS BIGINT)
               AS dollar_deci_cents,
             CAST(count(*) AS INT) AS n_trades
      FROM trades GROUP BY symbol, ts - ts % 86400000)
    SELECT v.symbol, v.day_start, v.n_trades,
           COALESCE(a.n_intervals, 0) AS n_intervals,
           COALESCE(a.sum_abs_move_cents, 0) AS sum_abs_move_cents,
           v.dollar_deci_cents,
           (CAST(COALESCE(a.sum_abs_move_cents, 0) AS DOUBLE)
            / CAST(v.dollar_deci_cents AS DOUBLE)) * 1e9
             AS amihud_nano
    FROM vol v LEFT JOIN adr a
      ON a.symbol = v.symbol AND a.day_start = v.day_start
    """,
    doc="Amihud (2002) illiquidity per symbol-day, in the aggregated "
    "ratio-of-sums form a distributed engine can make exact: "
    "sum(|close-to-close move|) over the day's minutes divided by the "
    "day's dollar volume (the per-minute average-of-ratios form sums "
    "DOUBLES and is partial-agg order-dependent — rejected for the same "
    "reason candles_recompute_1m dropped its double quote_volume sum). "
    "Numerator and denominator are exact associative BIGINTs (move in "
    "cents; volume in cents x deci-units, per-trade <= 5e9 so a "
    "symbol-day sum stays far under 2^53 and the int->double cast is "
    "EXACT in both engines); amihud_nano = one divide + one multiply on "
    "identical integers. Cross-day moves assign to the LATER minute's "
    "day; days whose volume exists but have no second minute report 0 "
    "moves via the LEFT join (never dropped). Scale shape: one shuffle "
    "to (symbol, minute), a bounded per-symbol minute window, two "
    "partial-agg day rollups, one equi-join on (symbol, day) — group "
    "cardinality = symbols x days, metadata-sized at any SF.",
)
def amihud_illiquidity_daily(spark, sf_dir):
    from pyspark.sql import Window as W

    t = _est_trades(spark, sf_dir)
    m = _minute_closes(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("minute")
    d = m.select(
        "symbol",
        "minute",
        (F.col("close_cents") - F.lag("close_cents").over(w)).alias("diff"),
    ).filter(F.col("diff").isNotNull())
    day_m = (F.col("minute") - F.col("minute") % 86400000).alias("day_start")
    adr = d.groupBy("symbol", day_m).agg(
        F.sum(F.abs(F.col("diff"))).cast("long").alias("sum_abs_move_cents"),
        F.count(F.lit(1)).cast("int").alias("n_intervals"),
    )
    day_t = (F.col("ts") - F.col("ts") % 86400000).alias("day_start")
    vol = t.groupBy("symbol", day_t).agg(
        F.sum(F.col("price_cents") * F.col("qty_deci"))
        .cast("long")
        .alias("dollar_deci_cents"),
        F.count(F.lit(1)).cast("int").alias("n_trades"),
    )
    j = vol.join(adr, ["symbol", "day_start"], "left")
    return j.select(
        "symbol",
        "day_start",
        "n_trades",
        F.coalesce("n_intervals", F.lit(0)).alias("n_intervals"),
        F.coalesce("sum_abs_move_cents", F.lit(0).cast("long")).alias(
            "sum_abs_move_cents"
        ),
        "dollar_deci_cents",
        (
            (
                F.coalesce("sum_abs_move_cents", F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.col("dollar_deci_cents").cast("double")
            )
            * F.lit(1e9)
        ).alias("amihud_nano"),
    )


@query(
    "trade_markout_5m",
    oracle=f"""
    WITH {_SQL_LEEREADY_SIGNED},
    qm AS (
      SELECT symbol, qts - qts % 60000 AS minute,
             arg_max(mid_x2,
                     ((qts - {_BASE_TS} + 500) // 997) * 100000000 + mid_x2)
               AS mid5_x2
      FROM q1 GROUP BY symbol, qts - qts % 60000),
    mt AS (
      SELECT s.symbol, s.ts, s.price_cents, s.mid_x2, s.sgn, q.mid5_x2
      FROM signed s LEFT JOIN qm q
        ON q.symbol = s.symbol
       AND q.minute = (s.ts - s.ts % 60000) + 300000)
    SELECT symbol, ts - ts % 3600000 AS hour_start,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(count(*) FILTER (WHERE sgn IS NOT NULL) AS BIGINT)
             AS n_signed,
           CAST(count(*) FILTER (
             WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL) AS BIGINT)
             AS n_matched,
           COALESCE(CAST(sum(sgn * (2 * price_cents - mid_x2)) FILTER (
             WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL) AS BIGINT), 0)
             AS sum_eff_spread_cents,
           COALESCE(CAST(sum(sgn * (2 * price_cents - mid5_x2)) FILTER (
             WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL) AS BIGINT), 0)
             AS sum_realized_5m_cents,
           COALESCE(CAST(sum(sgn * (mid5_x2 - mid_x2)) FILTER (
             WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL) AS BIGINT), 0)
             AS sum_impact_x2_cents,
           CASE WHEN count(*) FILTER (
                  WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL) > 0 THEN
             CAST(COALESCE(CAST(sum(sgn * (2 * price_cents - mid_x2))
               FILTER (WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL)
               AS BIGINT), 0) AS DOUBLE)
             / CAST(count(*) FILTER (
                 WHERE sgn IS NOT NULL AND mid_x2 IS NOT NULL AND mid5_x2 IS NOT NULL) AS DOUBLE)
             / 100.0
           END AS avg_eff_spread_usd
    FROM mt GROUP BY symbol, ts - ts % 3600000
    """,
    doc="5-minute trade markout / effective-vs-realized spread "
    "decomposition per symbol-hour — the canonical transaction-cost "
    "decomposition (Glosten; the TCA metric tick pipelines compute at "
    "scale): per Lee-Ready-signed trade, effective spread = "
    "2*sgn*(price - prevailing mid) and 5-minute realized spread = "
    "2*sgn*(price - reference mid 5 minutes later); the difference, "
    "2*sgn*(mid_5m - mid), is twice the permanent price impact, so "
    "sum_eff = sum_realized + sum_impact_x2 holds as an exact integer "
    "identity on every row (pytest pins it). Reuses the shared "
    "Lee-Ready prefix (_SQL_LEEREADY_SIGNED / _leeready_signed) for "
    "signing and the as-of mid; the 5m reference mid is each minute's "
    "last quote mid, selected arg_max-tie-free by folding the mid into "
    "the low digits of the orderkey-derived quote index (duplicate "
    "(l_orderkey, l_linenumber=1) source rows put two quotes on one "
    "ts — the same trap the sign row's seq solves). Trades whose "
    "t+5m minute has no quote are COUNTED (n_matched < n_signed), as are tick-rule-signed "
    "trades preceding their symbol's first quote (no prevailing mid, no "
    "effective spread), and excluded from all three sums, never guessed; all sums are exact "
    "associative BIGINTs in integer cents, the one double is a "
    "guarded two-op IEEE chain on those integers. Scale shape: the "
    "Lee-Ready symbol-partitioned windows, one partial-agg minute "
    "rollup of quotes, one equi-join on (symbol, minute+5m) — "
    "metadata-sized right side — then a partial-agg hour rollup.",
)
def trade_markout_5m(spark, sf_dir):
    signed = _leeready_signed(spark, sf_dir)
    # per-minute last quote mid: rebuild q1's (ts, mid_x2) pairs via the
    # shared helper's quote leg — signed carries trades only, so the
    # quote frame is re-derived here with the same construction
    from crypto_msg_parser_spark.plans.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    skew = (
        F.when(F.col("l_orderkey") % 3 == 1, F.lit(0.01))
        .when(F.col("l_orderkey") % 3 == 2, F.lit(-0.01))
        .otherwise(F.lit(0.0))
    )
    mid = (
        cents(F.round(p - 1 + skew, 2)) + cents(F.round(p + 1 + skew, 2))
    ).alias("mid_x2")
    q1 = li.filter(F.col("l_linenumber") == 1).select(
        _spot_symbol().alias("symbol"),
        (F.lit(_BASE_TS) + F.col("l_orderkey") * 997 - 500).alias("qts"),
        mid,
    )
    qkey = (
        F.expr(f"(qts - {_BASE_TS} + 500) DIV 997")
        * F.lit(100000000).cast("long")
        + F.col("mid_x2")
    )
    qminute = (F.col("qts") - F.col("qts") % 60000).alias("minute")
    qm = q1.groupBy("symbol", qminute).agg(
        F.max_by("mid_x2", qkey).alias("mid5_x2")
    )
    mt = signed.join(
        qm,
        (qm["symbol"] == signed["symbol"])
        & (
            qm["minute"]
            == (signed["ts"] - signed["ts"] % 60000) + F.lit(300000)
        ),
        "left",
    ).select(
        signed["symbol"],
        signed["ts"],
        "price_cents",
        "mid_x2",
        "sgn",
        "mid5_x2",
    )
    matched = (
        F.col("sgn").isNotNull()
        & F.col("mid_x2").isNotNull()
        & F.col("mid5_x2").isNotNull()
    )
    eff = F.col("sgn") * (2 * F.col("price_cents") - F.col("mid_x2"))
    real = F.col("sgn") * (2 * F.col("price_cents") - F.col("mid5_x2"))
    imp = F.col("sgn") * (F.col("mid5_x2") - F.col("mid_x2"))
    hour = (F.col("ts") - F.col("ts") % 3600000).alias("hour_start")
    g = mt.groupBy("symbol", hour).agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.count(F.when(F.col("sgn").isNotNull(), 1))
        .cast("long")
        .alias("n_signed"),
        F.count(F.when(matched, 1)).cast("long").alias("n_matched"),
        F.coalesce(F.sum(F.when(matched, eff)), F.lit(0))
        .cast("long")
        .alias("sum_eff_spread_cents"),
        F.coalesce(F.sum(F.when(matched, real)), F.lit(0))
        .cast("long")
        .alias("sum_realized_5m_cents"),
        F.coalesce(F.sum(F.when(matched, imp)), F.lit(0))
        .cast("long")
        .alias("sum_impact_x2_cents"),
    )
    return g.select(
        "symbol",
        "hour_start",
        "n_trades",
        "n_signed",
        "n_matched",
        "sum_eff_spread_cents",
        "sum_realized_5m_cents",
        "sum_impact_x2_cents",
        F.when(
            F.col("n_matched") > 0,
            F.col("sum_eff_spread_cents").cast("double")
            / F.col("n_matched").cast("double")
            / F.lit(100.0),
        ).alias("avg_eff_spread_usd"),
    )


def _tw_quote_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quote tape for time-weighted spread metrics.

    lineitem carries duplicate (l_orderkey, l_linenumber) pairs, so the
    msg id / orderkey clocks other wires use would collide here and make
    lead()-based durations tie-ambiguous. This wire assigns each quote a
    per-symbol row_number over (l_orderkey, l_linenumber, l_extendedprice,
    l_quantity) and clocks quotes 1 s apart on that rank (so the driver's sf0.01 tape spans multiple hour buckets per pair): rows still
    tied after the 4-column key are byte-identical in every field the
    spread computation reads, so whichever ordering either engine picks,
    the (ts, spread) multiset is invariant — the same neutralization
    stream_book_resync uses. The ranking window is SYNTH-side tape
    construction (a real tape arrives with real timestamps); the TWAS
    operator itself only ever windows per (pair, hour), which is bounded.
    Spread varies with l_orderkey %% 5 (200..208 cents) so the
    time-weighting is load-bearing, and the wire goes through the REAL
    binance bookTicker parse arm (reference: binance_all.rs bookTicker).
    """
    from pyspark.sql import Window as W

    li = _msg_source(spark, sf_dir)
    sym = _spot_symbol()
    w = W.partitionBy(F.col("l_partkey") % 4).orderBy(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"
    )
    ranked = li.withColumn("_rn", F.row_number().over(w))
    delta = F.round(F.lit(1.0) + (F.col("l_orderkey") % 5) * 0.01, 2)
    p = F.col("l_extendedprice")
    msg = F.format_string(
        '{"stream":"%s@bookTicker","data":{"u":%d,"s":"%s",'
        '"b":"%.2f","B":"%.1f","a":"%.2f","A":"%.1f"}}',
        F.lower(sym),
        F.col("_rn"),
        sym,
        F.round(p - delta, 2),
        F.col("l_quantity"),
        F.round(p + delta, 2),
        F.col("l_quantity") + 1,
    )
    ts = F.lit(_BASE_TS) + F.col("_rn") * 1000
    return (
        ranked.select(
            _msg_id().alias("msg_id"),
            ts.alias("received_at"),
            msg.alias("msg"),
        )
        .localCheckpoint(eager=False)
        .select(
            "msg_id",
            F.lit("binance").alias("exchange"),
            F.lit("spot").alias("market_type"),
            "received_at",
            "msg",
        )
    )


@query(
    "quoted_spread_tw_1h",
    oracle=f"""
    WITH r AS (
      SELECT {_SQL_SPOT_PAIR} AS pair,
             row_number() OVER (PARTITION BY l_partkey % 4
               ORDER BY l_orderkey, l_linenumber, l_extendedprice,
                        l_quantity) AS rn,
             CAST(round(round(l_extendedprice
                    + round(1 + (l_orderkey % 5) * 0.01, 2), 2) * 100)
                  AS BIGINT)
             - CAST(round(round(l_extendedprice
                    - round(1 + (l_orderkey % 5) * 0.01, 2), 2) * 100)
                    AS BIGINT) AS spread_cents
      FROM lineitem),
    q AS (
      SELECT pair, {_BASE_TS} + rn * 1000 AS ts, spread_cents FROM r),
    h AS (
      SELECT pair, ts, spread_cents,
             ts - ts % 3600000 AS hour_start FROM q),
    d AS (
      SELECT pair, hour_start, spread_cents,
             coalesce(lead(ts) OVER (PARTITION BY pair, hour_start
                                     ORDER BY ts),
                      hour_start + 3600000) - ts AS dur
      FROM h)
    SELECT pair, hour_start,
           CAST(count(*) AS BIGINT) AS n_quotes,
           CAST(sum(spread_cents * dur) AS BIGINT) AS sum_spread_dur,
           CAST(sum(dur) AS BIGINT) AS dur_ms_total,
           CAST((1000 * sum(spread_cents * dur)) // sum(dur) AS BIGINT)
             AS twas_millicents
    FROM d GROUP BY pair, hour_start
    """,
    doc="time-weighted average quoted spread per symbol-hour (the TCA "
    "companion to trade_markout_5m's trade-weighted effective spread: "
    "quoted liquidity is weighted by how LONG each quote stood, not by "
    "how often quotes ticked). Each parsed bookTicker quote (real "
    "binance parse arm over the rank-clocked wire, see _tw_quote_wire) "
    "holds until the next quote in its (pair, hour); the hour's last "
    "quote extends to the hour boundary, and carry-in across hours is "
    "deliberately truncated (each hour starts at its first quote — "
    "documented simplification, not a tie hazard). The statistic is the "
    "ratio-of-sums form a distributed engine can make exact: "
    "sum(spread_cents*dur_ms) and sum(dur_ms) are both exact BIGINTs "
    "(per-row product <= ~7.5e8, per-hour sums <= ~2.7e13, the *1000 "
    "display division still < 2^63), the average-of-ratios form is "
    "rejected for the same partial-agg-order reason as Amihud. Scale: "
    "one shuffle to (pair) for the lead() window partitioned per "
    "(pair, hour) — bounded at 3.6k quotes/hour by the tape cadence — "
    "then a partial-agg groupBy on the same key.",
)
def quoted_spread_tw_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    bbo = binance.parse_bbo(_tw_quote_wire(spark, sf_dir))
    q = bbo.select(
        "pair",
        F.col("timestamp").alias("ts"),
        (cents(F.col("ask_price")) - cents(F.col("bid_price"))).alias(
            "spread_cents"
        ),
        (F.col("timestamp") - F.col("timestamp") % 3600000).alias(
            "hour_start"
        ),
    )
    w = W.partitionBy("pair", "hour_start").orderBy("ts")
    d = q.select(
        "pair",
        "hour_start",
        "spread_cents",
        (
            F.coalesce(
                F.lead("ts").over(w), F.col("hour_start") + 3600000
            )
            - F.col("ts")
        ).alias("dur"),
    )
    return d.groupBy("pair", "hour_start").agg(
        F.count(F.lit(1)).cast("long").alias("n_quotes"),
        F.sum(F.col("spread_cents") * F.col("dur"))
        .cast("long")
        .alias("sum_spread_dur"),
        F.sum("dur").cast("long").alias("dur_ms_total"),
        F.expr(
            "(1000 * sum(spread_cents * dur)) DIV sum(dur)"
        )
        .cast("long")
        .alias("twas_millicents"),
    )


@query(
    "microprice_imbalance_1m",
    oracle=f"""
    WITH r AS (
      SELECT {_SQL_SPOT_PAIR} AS pair,
             row_number() OVER (PARTITION BY l_partkey % 4
               ORDER BY l_orderkey, l_linenumber, l_extendedprice,
                        l_quantity) AS rn,
             CAST(round(round(l_extendedprice
                    + round(1 + (l_orderkey % 5) * 0.01, 2), 2) * 100)
                  AS BIGINT) AS ask_cents,
             CAST(round(round(l_extendedprice
                    - round(1 + (l_orderkey % 5) * 0.01, 2), 2) * 100)
                  AS BIGINT) AS bid_cents,
             CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS bidq_deci,
             CAST(round(round(l_quantity + 1, 1) * 10) AS BIGINT) AS askq_deci
      FROM lineitem),
    q AS (
      SELECT pair, {_BASE_TS} + rn * 1000 AS ts,
             ask_cents * bidq_deci + bid_cents * askq_deci AS micro_num,
             bidq_deci + askq_deci AS micro_den,
             bid_cents + ask_cents AS mid_twice_cents,
             bidq_deci, askq_deci
      FROM r)
    SELECT pair,
           ts - ts % 60000 AS window_start,
           CAST(count(*) AS BIGINT) AS n_quotes,
           CAST(sum(bidq_deci) AS BIGINT) AS bid_depth_deci,
           CAST(sum(askq_deci) AS BIGINT) AS ask_depth_deci,
           CAST(sum(bidq_deci) - sum(askq_deci) AS DOUBLE)
             / (sum(bidq_deci) + sum(askq_deci)) AS depth_imbalance,
           CAST(arg_max(micro_num, ts) AS BIGINT) AS close_micro_num,
           CAST(arg_max(micro_den, ts) AS BIGINT) AS close_micro_den,
           CAST(arg_max(micro_num, ts) AS DOUBLE)
             / arg_max(micro_den, ts) / 100.0 AS close_microprice,
           CAST(arg_max(micro_num, ts) AS DOUBLE) / arg_max(micro_den, ts)
             - arg_max(mid_twice_cents, ts) / 2.0
             AS close_micro_premium_cents
    FROM q GROUP BY pair, ts - ts % 60000
    """,
    doc="Stoikov microprice + resting-depth imbalance per pair-minute "
    "over the REAL binance bookTicker parse arm (same rank-clocked "
    "quote tape as quoted_spread_tw_1h; reference: binance_all.rs "
    "parse_bbo). The microprice weights each side's price by the "
    "OPPOSITE side's resting size — micro = (ask*Qb + bid*Qa)/(Qb+Qa) "
    "— the standard short-horizon fair-value estimator; it is carried "
    "as an exact integer ratio (cents x deci-qty numerator, deci-qty "
    "denominator, per-quote products <= ~7e7 so minute sums are "
    "nowhere near int64) and the published doubles are single IEEE "
    "division chains on those integers, written in the same op order "
    "in both engines. Minute-close selection is arg_max/max_by on the "
    "quote ts, which the wire makes unique per pair (1 s rank clock), "
    "so the close is tie-free by construction; depth imbalance is the "
    "ratio-of-sums form (exact integer sums, one final division), not "
    "an average of per-quote ratios, for the usual partial-agg-order "
    "reason. Scale: one shuffle to (pair, minute) partial-agg groupBy; "
    "max_by rides the same aggregate — no window, no second shuffle.",
)
def microprice_imbalance_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from crypto_msg_parser_spark.plans.money import cents

    bbo = binance.parse_bbo(_tw_quote_wire(spark, sf_dir))
    q = bbo.select(
        "pair",
        F.col("timestamp").alias("ts"),
        cents(F.col("bid_price")).alias("bid_cents"),
        cents(F.col("ask_price")).alias("ask_cents"),
        F.round(F.col("bid_quantity_base") * 10)
        .cast("long")
        .alias("bidq_deci"),
        F.round(F.col("ask_quantity_base") * 10)
        .cast("long")
        .alias("askq_deci"),
    ).select(
        "pair",
        "ts",
        (
            F.col("ask_cents") * F.col("bidq_deci")
            + F.col("bid_cents") * F.col("askq_deci")
        ).alias("micro_num"),
        (F.col("bidq_deci") + F.col("askq_deci")).alias("micro_den"),
        (F.col("bid_cents") + F.col("ask_cents")).alias("mid_twice_cents"),
        "bidq_deci",
        "askq_deci",
    )
    sb = F.sum("bidq_deci").cast("long")
    sa = F.sum("askq_deci").cast("long")
    num = F.max_by("micro_num", "ts")
    den = F.max_by("micro_den", "ts")
    return q.groupBy(
        "pair", (F.col("ts") - F.col("ts") % 60000).alias("window_start")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_quotes"),
        sb.alias("bid_depth_deci"),
        sa.alias("ask_depth_deci"),
        ((sb - sa).cast("double") / (sb + sa)).alias("depth_imbalance"),
        num.cast("long").alias("close_micro_num"),
        den.cast("long").alias("close_micro_den"),
        (num.cast("double") / den / F.lit(100.0)).alias("close_microprice"),
        (
            num.cast("double") / den
            - F.max_by("mid_twice_cents", "ts") / F.lit(2.0)
        ).alias("close_micro_premium_cents"),
    )


@query(
    "vpin_toxicity",
    oracle=f"""
    WITH t AS (
      SELECT {_SQL_SPOT_SYMBOL} AS symbol,
             {_BASE_TS} + l_orderkey AS ts,
             l_orderkey * 10 + l_linenumber AS tid,
             {_SQL_SIDE} AS side,
             CAST(round(round(l_extendedprice, 2) * 100) AS BIGINT)
               AS price_cents,
             CAST(round(round(l_quantity, 1) * 10) AS BIGINT) AS qty_deci
      FROM lineitem),
    r AS (
      SELECT symbol, side, qty_deci,
             row_number() OVER (PARTITION BY symbol
               ORDER BY ts, tid, price_cents, qty_deci) AS rn
      FROM t),
    c AS (
      SELECT symbol, side, qty_deci,
             coalesce(sum(qty_deci) OVER (PARTITION BY symbol ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM r),
    b AS (
      SELECT symbol, cum_before // 2000 AS bucket_id,
             CASE WHEN side = 'buy' THEN qty_deci ELSE 0 END AS buy_deci,
             CASE WHEN side = 'sell' THEN qty_deci ELSE 0 END AS sell_deci,
             qty_deci
      FROM c),
    agg AS (
      SELECT symbol, bucket_id,
             sum(buy_deci) AS buy_deci, sum(sell_deci) AS sell_deci,
             sum(qty_deci) AS tot_deci
      FROM b GROUP BY symbol, bucket_id),
    mx AS (SELECT symbol, max(bucket_id) AS last_bucket FROM agg
           GROUP BY symbol)
    SELECT agg.symbol,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(abs(buy_deci - sell_deci)) AS BIGINT)
             AS abs_imb_deci,
           CAST(sum(tot_deci) AS BIGINT) AS vol_deci,
           CAST(sum(abs(buy_deci - sell_deci)) AS DOUBLE) / sum(tot_deci)
             AS vpin
    FROM agg JOIN mx ON mx.symbol = agg.symbol
    WHERE agg.bucket_id < mx.last_bucket
    GROUP BY agg.symbol
    """,
    doc="VPIN flow toxicity (Easley, Lopez de Prado & O'Hara 2012) per "
    "symbol over the REAL binance aggTrade parse arm: trades are laid "
    "on the volume clock — each fill joins bucket floor(cumulative "
    "deci-volume-before / 2000) — and VPIN is sum|buy-sell| / sum(vol) "
    "over COMPLETE buckets (the trailing partial bucket is excluded "
    "via a max(bucket_id) anti-filter; trades are not split across "
    "buckets — documented simplification, the bucket totals land in "
    "the denominator so no volume is double-counted). Every sum is an "
    "exact integer in deci-units; the published VPIN is one final IEEE "
    "division (ratio of sums, never an average of per-bucket ratios). "
    "The volume clock needs a per-symbol total order: rows are ranked "
    "by (ts, trade_id, price_cents, qty_deci) — lineitem's duplicate "
    "(l_orderkey, l_linenumber) pairs make (ts, trade_id) alone "
    "tie-ambiguous, and rows still tied after all four keys are "
    "byte-identical in every field the clock reads, so the cumulative "
    "trajectory is order-invariant (the stream_book_resync "
    "neutralization). Scale: one shuffle to symbol for the two "
    "same-key windows (rank + running sum reuse the partitioning), "
    "one partial-agg groupBy(symbol, bucket) riding it, and a "
    "broadcast-sized last-bucket join; a production deployment shards "
    "the clock per (symbol, session-epoch) so no single partition "
    "carries a symbol's full history — the composition is unchanged.",
)
def vpin_toxicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    parsed = binance.parse_trade(_spot_trade_msgs(spark, sf_dir))
    t = parsed.select(
        "symbol",
        F.col("timestamp").alias("ts"),
        F.col("trade_id").cast("long").alias("tid"),
        "side",
        cents(F.col("price")).alias("price_cents"),
        F.round(F.col("quantity_base") * 10).cast("long").alias("qty_deci"),
    )
    wrank = W.partitionBy("symbol").orderBy(
        "ts", "tid", "price_cents", "qty_deci"
    )
    r = t.withColumn("rn", F.row_number().over(wrank))
    wcum = (
        W.partitionBy("symbol")
        .orderBy("rn")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = r.select(
        "symbol",
        "side",
        "qty_deci",
        F.coalesce(F.sum("qty_deci").over(wcum), F.lit(0)).alias(
            "cum_before"
        ),
    )
    b = c.select(
        "symbol",
        F.expr("cum_before DIV 2000").alias("bucket_id"),
        F.when(F.col("side") == "buy", F.col("qty_deci"))
        .otherwise(0)
        .alias("buy_deci"),
        F.when(F.col("side") == "sell", F.col("qty_deci"))
        .otherwise(0)
        .alias("sell_deci"),
        "qty_deci",
    )
    agg = b.groupBy("symbol", "bucket_id").agg(
        F.sum("buy_deci").alias("buy_deci"),
        F.sum("sell_deci").alias("sell_deci"),
        F.sum("qty_deci").alias("tot_deci"),
    )
    mx = agg.groupBy("symbol").agg(F.max("bucket_id").alias("last_bucket"))
    abs_imb = F.sum(F.abs(F.col("buy_deci") - F.col("sell_deci")))
    return (
        agg.join(F.broadcast(mx), "symbol")
        .filter(F.col("bucket_id") < F.col("last_bucket"))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            abs_imb.cast("long").alias("abs_imb_deci"),
            F.sum("tot_deci").cast("long").alias("vol_deci"),
            (abs_imb.cast("double") / F.sum("tot_deci")).alias("vpin"),
        )
    )


@query(
    "book_slippage_curve",
    oracle=f"""
    {_SQL_BOOK_CTES},
    lvl AS (
      SELECT symbol,
             CAST(round(price * 100) AS BIGINT) AS px,
             CAST(round(qty * 10) AS BIGINT) AS deci
      FROM book WHERE side = 'ask'),
    t AS (SELECT * FROM (VALUES (1000), (5000), (20000)) AS t(target)),
    wk AS (
      SELECT symbol, t.target, px, deci,
             coalesce(sum(deci) OVER (PARTITION BY symbol, t.target
               ORDER BY px ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS cum_before
      FROM lvl CROSS JOIN t),
    f AS (
      SELECT symbol, target, px,
             least(deci, target - cum_before) AS filled
      FROM wk WHERE cum_before < target)
    SELECT symbol,
           CAST(target AS BIGINT) AS target_deci,
           CAST(sum(filled) AS BIGINT) AS filled_deci,
           CAST(sum(px * filled) AS BIGINT) AS notional_cents_deci,
           CAST(count(*) AS BIGINT) AS n_levels_touched,
           CAST(min(px) AS BIGINT) AS best_ask_cents,
           (sum(filled) = target) AS fully_filled,
           CAST((1000 * sum(px * filled)) // sum(filled) AS BIGINT)
             AS avg_px_millicents,
           CAST((1000 * sum(px * filled)) // sum(filled)
                - 1000 * min(px) AS BIGINT) AS slippage_millicents
    FROM f GROUP BY symbol, target
    """,
    doc="execution slippage curve over the RECONSTRUCTED ask book "
    "(composition on l2_book_reconstruct, the same book l2_spread_stats "
    "reads): for standard order sizes (100/500/2000 units in deci), "
    "walk price levels best-first, fill greedily, and report the "
    "volume-weighted average execution price and its slippage vs the "
    "touch — the pre-trade TCA estimate an execution desk derives from "
    "every normalized L2 snapshot. The walk is one cumulative-depth "
    "window per (symbol, target) ordered by price — a TOTAL order, "
    "since the book frame is already grouped per (symbol, side, price) "
    "so px is unique within the partition — and fills are exact "
    "integers: filled = least(deci, target - cum_before), notional in "
    "cents x deci-units, average price one integer millicent division, "
    "partial fills reported with fully_filled = false (thin books are "
    "the signal, never an error). The 3-row size ladder CROSS JOINs "
    "broadcast-style (documented bounded crossJoin, same convention as "
    "the grand-total rows). Scale: the book is bounded by live price "
    "levels per symbol, the window partitions on (symbol, target) — "
    "no global sort, no driver state.",
)
def book_slippage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from crypto_msg_parser_spark.plans.money import cents

    book = l2_book_reconstruct(spark, sf_dir)
    lvl = book.filter(F.col("side") == "ask").select(
        "symbol",
        cents(F.col("price")).alias("px"),
        F.round(F.col("qty") * 10).cast("long").alias("deci"),
    )
    # The 3-size order ladder is generated per level row with explode —
    # a Generate operator, not a join. The earlier crossJoin(broadcast(
    # 3-row df)) form compiled to BroadcastNestedLoopJoin; a 3-row build
    # side is bounded at any scale, but the explode removes even that
    # exchange and keeps the plan join-free up to the window.
    w = (
        W.partitionBy("symbol", "target")
        .orderBy("px")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wk = lvl.withColumn(
        "target",
        F.explode(
            F.array(F.lit(1000), F.lit(5000), F.lit(20000)).cast("array<long>")
        ),
    ).withColumn("cum_before", F.coalesce(F.sum("deci").over(w), F.lit(0)))
    f = wk.filter(F.col("cum_before") < F.col("target")).select(
        "symbol",
        "target",
        "px",
        F.least(
            F.col("deci"), F.col("target") - F.col("cum_before")
        ).alias("filled"),
    )
    agg = f.groupBy("symbol", "target").agg(
        F.sum("filled").cast("long").alias("filled_deci"),
        F.sum(F.col("px") * F.col("filled"))
        .cast("long")
        .alias("notional_cents_deci"),
        F.count(F.lit(1)).cast("long").alias("n_levels_touched"),
        F.min("px").cast("long").alias("best_ask_cents"),
        F.expr("(1000 * sum(px * filled)) DIV sum(filled)")
        .cast("long")
        .alias("avg_px_millicents"),
    )
    return agg.select(
        "symbol",
        F.col("target").cast("long").alias("target_deci"),
        "filled_deci",
        "notional_cents_deci",
        "n_levels_touched",
        "best_ask_cents",
        (F.col("filled_deci") == F.col("target")).alias("fully_filled"),
        "avg_px_millicents",
        (F.col("avg_px_millicents") - 1000 * F.col("best_ask_cents"))
        .cast("long")
        .alias("slippage_millicents"),
    )


@query(
    "max_drawdown_daily",
    oracle=f"""
    WITH {_SQL_EST_TRADES},
    dd AS (
      SELECT symbol, minute - minute % 86400000 AS day_start, minute,
             close_cents,
             max(close_cents) OVER (
               PARTITION BY symbol, minute - minute % 86400000
               ORDER BY minute
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
      FROM m)
    SELECT symbol, day_start,
           CAST(count(*) AS INT) AS n_minutes,
           CAST(max(close_cents) AS BIGINT) AS peak_cents,
           CAST(min(close_cents) AS BIGINT) AS trough_cents,
           CAST(max(run_max - close_cents) AS BIGINT)
             AS max_drawdown_cents,
           CAST(max((10000 * (run_max - close_cents)) // run_max)
                AS BIGINT) AS max_drawdown_bps
    FROM dd GROUP BY symbol, day_start
    """,
    doc="intraday maximum drawdown per symbol-day over 1-minute closes: "
    "running peak via a rows-unbounded-preceding window (minutes are "
    "UNIQUE per symbol after the close agg, so the frame order is total), "
    "drawdown = peak-so-far minus close in exact integer cents, and the "
    "percentage form computed per-minute as (10000*dd) DIV run_max THEN "
    "maxed — every op integer, so both engines floor identically instead "
    "of disagreeing in the last ulp of a double ratio. The risk metric "
    "every OHLCV warehouse reports next to realized vol "
    "(realized_volatility_1h shares this wire). Scale shape: one shuffle "
    "to (symbol, minute) for the close agg (shared with the other "
    "minute-close rows), one per-(symbol, day) ordered window whose "
    "frame is <=1440 rows by construction, one partial-agg day rollup — "
    "group cardinality symbols x days, metadata-sized at any SF.",
)
def max_drawdown_daily(spark, sf_dir):
    from pyspark.sql import Window as W

    m = _minute_closes(spark, sf_dir)
    day = (F.col("minute") - F.col("minute") % 86400000).alias("day_start")
    w = (
        W.partitionBy("symbol", F.col("minute") - F.col("minute") % 86400000)
        .orderBy("minute")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    dd = m.select(
        "symbol",
        day,
        "minute",
        "close_cents",
        F.max("close_cents").over(w).alias("run_max"),
    )
    return dd.groupBy("symbol", "day_start").agg(
        F.count(F.lit(1)).cast("int").alias("n_minutes"),
        F.max("close_cents").cast("long").alias("peak_cents"),
        F.min("close_cents").cast("long").alias("trough_cents"),
        F.max(F.col("run_max") - F.col("close_cents"))
        .cast("long")
        .alias("max_drawdown_cents"),
        F.max(
            F.expr("(10000 * (run_max - close_cents)) DIV run_max")
        )
        .cast("long")
        .alias("max_drawdown_bps"),
    )


@query(
    "bipower_jump_daily",
    oracle=f"""
    WITH {_SQL_EST_TRADES},
    d AS (
      SELECT symbol, minute,
             close_cents - lag(close_cents) OVER w AS diff,
             abs(close_cents - lag(close_cents) OVER w)
               * abs(lag(close_cents) OVER w - lag(close_cents, 2) OVER w)
               AS bp
      FROM m WINDOW w AS (PARTITION BY symbol ORDER BY minute)),
    g AS (
      SELECT symbol, minute - minute % 86400000 AS day_start,
             CAST(sum(diff * diff) AS BIGINT) AS rv_num,
             CAST(count(diff) AS INT) AS n_diffs,
             CAST(sum(bp) AS BIGINT) AS bv_raw,
             CAST(count(bp) AS INT) AS n_pairs
      FROM d WHERE diff IS NOT NULL
      GROUP BY symbol, minute - minute % 86400000)
    SELECT symbol, day_start, n_diffs, n_pairs, rv_num,
           COALESCE(bv_raw, 0) AS bv_num,
           CASE WHEN rv_num > 0 AND n_pairs > 0 THEN
             greatest(0.0,
               (CAST(rv_num AS DOUBLE)
                - (pi() / 2.0) * CAST(bv_raw AS DOUBLE))
               / CAST(rv_num AS DOUBLE))
           END AS jump_share
    FROM g
    """,
    doc="Barndorff-Nielsen & Shephard (2004) jump detection per "
    "symbol-day: realized variance RV = sum(diff^2) vs bipower variation "
    "BV = (pi/2) * sum(|diff_t| * |diff_(t-1)|) over 1-minute close "
    "moves — BV is jump-robust, so jump_share = max(0, RV - BV) / RV "
    "isolates the discontinuous component of daily variance. Both "
    "accumulators are exact associative BIGINTs (|diff| <= 1.1e7 cents, "
    "products <= 1.3e14, <=1439 terms/day -> < 2e17 < 2^63); jump_share "
    "is the identical IEEE chain in both engines (int64->double casts, "
    "one multiply by the shared pi()/2 double, subtract, divide, "
    "greatest-with-0.0), so no float SUM ever happens. The (d_t, "
    "d_(t-1)) pair is assigned to the LATER minute's day and days with "
    "no complete pair report NULL (estimator undefined), same "
    "conventions as roll_spread_1h. Scale shape: identical to the "
    "shared minute-close family — one (symbol, minute) shuffle, one "
    "bounded per-symbol minute window, one partial-agg day rollup.",
)
def bipower_jump_daily(spark, sf_dir):
    import math

    from pyspark.sql import Window as W

    m = _minute_closes(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("minute")
    lag1 = F.lag("close_cents").over(w)
    lag2 = F.lag("close_cents", 2).over(w)
    d = m.select(
        "symbol",
        "minute",
        (F.col("close_cents") - lag1).alias("diff"),
        (F.abs(F.col("close_cents") - lag1) * F.abs(lag1 - lag2)).alias(
            "bp"
        ),
    ).filter(F.col("diff").isNotNull())
    day = (F.col("minute") - F.col("minute") % 86400000).alias("day_start")
    g = d.groupBy("symbol", day).agg(
        F.sum(F.col("diff") * F.col("diff")).cast("long").alias("rv_num"),
        F.count("diff").cast("int").alias("n_diffs"),
        F.sum("bp").cast("long").alias("bv_raw"),
        F.count("bp").cast("int").alias("n_pairs"),
    )
    return g.select(
        "symbol",
        "day_start",
        "n_diffs",
        "n_pairs",
        "rv_num",
        F.coalesce("bv_raw", F.lit(0).cast("long")).alias("bv_num"),
        F.when(
            (F.col("rv_num") > 0) & (F.col("n_pairs") > 0),
            F.greatest(
                F.lit(0.0),
                (
                    F.col("rv_num").cast("double")
                    - F.lit(math.pi / 2.0) * F.col("bv_raw").cast("double")
                )
                / F.col("rv_num").cast("double"),
            ),
        ).alias("jump_share"),
    )


@query(
    "volume_profile_poc",
    oracle=f"""
    WITH {_SQL_EST_TRADES},
    b AS (
      SELECT symbol, ts - ts % 86400000 AS day_start,
             price_cents // 10000 AS bin,
             CAST(sum(qty_deci) AS BIGINT) AS vol_deci,
             CAST(count(*) AS INT) AS bin_trades
      FROM trades
      GROUP BY symbol, ts - ts % 86400000, price_cents // 10000),
    w AS (
      SELECT *, max(vol_deci) OVER (PARTITION BY symbol, day_start)
               AS max_vol
      FROM b)
    SELECT symbol, day_start,
           CAST(count(*) AS INT) AS n_bins,
           CAST(sum(bin_trades) AS BIGINT) AS n_trades,
           CAST(sum(vol_deci) AS BIGINT) AS total_vol_deci,
           CAST(min(CASE WHEN vol_deci = max_vol THEN bin END) AS BIGINT)
             AS poc_bin,
           CAST(min(CASE WHEN vol_deci = max_vol THEN bin END) * 10000
                AS BIGINT) AS poc_price_low_cents,
           CAST(max(max_vol) AS BIGINT) AS poc_vol_deci,
           CAST((1000000 * max(max_vol)) // sum(vol_deci) AS BIGINT)
             AS poc_share_ppm
    FROM w GROUP BY symbol, day_start
    """,
    doc="daily volume profile + point of control per symbol: trades "
    "bucketed into $100 price bins (price_cents DIV 10000), POC = the "
    "bin holding the most volume — the liquidity magnet level execution "
    "desks anchor to. The argmax is made tie-total WITHOUT arg_max: "
    "max_vol via a partition window, then min(bin) among bins at "
    "max_vol (equal-volume bins resolve to the LOWEST price bin "
    "identically in both engines — the documented convention, not an "
    "engine accident). All volume math exact BIGINT deci-units; "
    "poc_share_ppm is integer (1e6 * max) DIV total. Scale shape: one "
    "partial-agg shuffle to (symbol, day, bin) — cardinality bounded by "
    "price range / $100 per symbol-day — one metadata-sized partition "
    "window over bins, one partial-agg day rollup.",
)
def volume_profile_poc(spark, sf_dir):
    from pyspark.sql import Window as W

    t = _est_trades(spark, sf_dir)
    day = (F.col("ts") - F.col("ts") % 86400000).alias("day_start")
    b = t.groupBy(
        "symbol", day, F.expr("price_cents DIV 10000").alias("bin")
    ).agg(
        F.sum("qty_deci").cast("long").alias("vol_deci"),
        F.count(F.lit(1)).cast("int").alias("bin_trades"),
    )
    w = W.partitionBy("symbol", "day_start")
    wb = b.withColumn("max_vol", F.max("vol_deci").over(w))
    return wb.groupBy("symbol", "day_start").agg(
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.sum("bin_trades").cast("long").alias("n_trades"),
        F.sum("vol_deci").cast("long").alias("total_vol_deci"),
        F.min(F.when(F.col("vol_deci") == F.col("max_vol"), F.col("bin")))
        .cast("long")
        .alias("poc_bin"),
        (
            F.min(
                F.when(F.col("vol_deci") == F.col("max_vol"), F.col("bin"))
            )
            * 10000
        )
        .cast("long")
        .alias("poc_price_low_cents"),
        F.max("max_vol").cast("long").alias("poc_vol_deci"),
        F.expr("(1000000 * max(max_vol)) DIV sum(vol_deci)")
        .cast("long")
        .alias("poc_share_ppm"),
    )


@query(
    "order_flow_persistence_1h",
    oracle=f"""
    WITH {_SQL_EST_TRADES},
    tk AS (
      SELECT symbol, ts, seq,
             CASE WHEN price_cents > lag(price_cents) OVER w
                    THEN CAST(1 AS BIGINT)
                  WHEN price_cents < lag(price_cents) OVER w
                    THEN CAST(-1 AS BIGINT) END AS raw_tick
      FROM trades WINDOW w AS (PARTITION BY symbol ORDER BY ts, seq)),
    sg AS (
      SELECT symbol, ts, seq,
             last_value(raw_tick IGNORE NULLS) OVER (
               PARTITION BY symbol ORDER BY ts, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
      FROM tk),
    pr AS (
      SELECT symbol, ts, sgn,
             lag(sgn) OVER (PARTITION BY symbol ORDER BY ts, seq)
               AS prev_sgn
      FROM sg)
    SELECT symbol, ts - ts % 3600000 AS hour_start,
           CAST(count(*) AS BIGINT) AS n_trades,
           CAST(count(*) FILTER (WHERE sgn IS NOT NULL
                                   AND prev_sgn IS NOT NULL) AS BIGINT)
             AS n_pairs,
           CAST(count(*) FILTER (WHERE sgn = prev_sgn) AS BIGINT)
             AS n_same,
           CAST(count(*) FILTER (WHERE sgn IS NOT NULL
                                   AND prev_sgn IS NOT NULL
                                   AND sgn <> prev_sgn) AS BIGINT)
             AS n_flip,
           CASE WHEN count(*) FILTER (WHERE sgn IS NOT NULL
                                        AND prev_sgn IS NOT NULL) > 0
                THEN CAST((1000000 * count(*) FILTER (WHERE sgn = prev_sgn))
                     // count(*) FILTER (WHERE sgn IS NOT NULL
                                           AND prev_sgn IS NOT NULL)
                     AS BIGINT) END AS persistence_ppm
    FROM pr GROUP BY symbol, ts - ts % 3600000
    """,
    doc="order-flow sign persistence per symbol-hour — the lag-1 "
    "autocorrelation of tick-rule trade signs (the long-memory-of-order-"
    "flow diagnostic behind queue-position and adverse-selection "
    "models): consecutive-trade sign pairs counted as same/flip, "
    "persistence_ppm = 1e6 * n_same DIV n_pairs, all integer. Sign "
    "stream ordering is the wire's total (ts, seq) order — seq folds "
    "price into its low digits, so duplicate (l_orderkey, l_linenumber) "
    "source rows either order totally or are byte-identical, leaving "
    "the lag pair multiset engine-invariant (the vpin_toxicity "
    "discipline); the tick-rule carry is last_value IGNORE NULLS over "
    "that same order in both engines. Untickable leading trades (no "
    "prior price change) stay NULL-signed, are counted in n_trades, "
    "and are excluded from pair stats — never guessed. Scale shape: one "
    "shuffle to symbol for the ordered windows (per-symbol sequential "
    "scan, the minimum any sign-attribution needs), then one "
    "partial-agg hour rollup; production shards the window per "
    "(symbol, session) exactly as vpin_toxicity documents.",
)
def order_flow_persistence_1h(spark, sf_dir):
    from pyspark.sql import Window as W

    t = _est_trades(spark, sf_dir)
    w = W.partitionBy("symbol").orderBy("ts", "seq")
    prev_px = F.lag("price_cents").over(w)
    tk = t.select(
        "symbol",
        "ts",
        "seq",
        F.when(F.col("price_cents") > prev_px, F.lit(1).cast("long"))
        .when(F.col("price_cents") < prev_px, F.lit(-1).cast("long"))
        .alias("raw_tick"),
    )
    w_carry = (
        W.partitionBy("symbol")
        .orderBy("ts", "seq")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    sg = tk.select(
        "symbol",
        "ts",
        "seq",
        F.last("raw_tick", ignorenulls=True).over(w_carry).alias("sgn"),
    )
    pr = sg.select(
        "symbol",
        "ts",
        "sgn",
        F.lag("sgn").over(w).alias("prev_sgn"),
    )
    both = F.col("sgn").isNotNull() & F.col("prev_sgn").isNotNull()
    hour = (F.col("ts") - F.col("ts") % 3600000).alias("hour_start")
    return pr.groupBy("symbol", hour).agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.count(F.when(both, 1)).cast("long").alias("n_pairs"),
        F.count(F.when(F.col("sgn") == F.col("prev_sgn"), 1))
        .cast("long")
        .alias("n_same"),
        F.count(F.when(both & (F.col("sgn") != F.col("prev_sgn")), 1))
        .cast("long")
        .alias("n_flip"),
        F.when(
            F.count(F.when(both, 1)) > 0,
            F.expr(
                "(1000000 * count(CASE WHEN sgn = prev_sgn THEN 1 END))"
                " DIV count(CASE WHEN sgn IS NOT NULL"
                " AND prev_sgn IS NOT NULL THEN 1 END)"
            ),
        )
        .cast("long")
        .alias("persistence_ppm"),
    )
