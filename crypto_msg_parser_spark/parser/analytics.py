"""Market-microstructure analytics rows over the parsed output.

These rows consume what the parse arms emit (trades, BBO quotes, book
levels, funding) and do no parsing of their own: candles, VWAP, spreads,
order-flow and volatility estimators, each checked against a DuckDB
oracle. They reuse the synthesized wires of parser/queries.py, and the
registry lists them after the parse and crawl rows (registry.py), so a
driver sampling the first rows covers the paper's surface first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_msg_parser_spark.parser import binance
from crypto_msg_parser_spark.parser.queries import (
    _BASE_TS,
    _SEC_BASE,
    _SQL_SIDE,
    _SQL_SPOT_PAIR,
    _SQL_SPOT_SYMBOL,
    _bbo_msgs,
    _funding_msgs,
    _msg_source,
    _raw_msgs,
    _spot_symbol,
    _spot_trade_msgs,
    l2_book_reconstruct,
)
from crypto_msg_parser_spark.registry import query
from crypto_msg_parser_spark.sources.testdata import load_table


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
    kraw = _raw_msgs(li, "kraken", "spot", kmsg)
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
    return _raw_msgs(ranked, "binance", "spot", msg, received_at=ts)


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
