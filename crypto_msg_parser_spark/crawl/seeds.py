"""Seed-endpoint universe for the crawl frontier (SURVEY.md §1.6).

The reference embeds these REST metadata endpoints in its dictionary
bootstrap code; they are the seeds the crawl scheduler starts from. Synthetic
expansion to test scale is deterministic from the part table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crypto_msg_parser_spark.schemas import FRONTIER_SCHEMA
from crypto_msg_parser_spark.sources.local import local_table

# (url, exchange, kind, priority, rate_budget_per_min)
# sources: crypto-pair/src/exchanges/{binance.rs:43, kraken.rs:46,
# huobi.rs:45, bitfinex.rs:79}; crypto-contract-value/src/exchanges/
# {kucoin.rs:300, mexc.rs:497, bitget.rs:60, bitmex.rs:109, zbg.rs:65,
# okx.rs:268}; bitmex pagination crypto-msg-parser bitmex.rs:513-542
SEED_ENDPOINTS = [
    ("https://api.binance.com/api/v3/exchangeInfo", "binance", "rest", 0, 1200),
    ("https://dapi.binance.com/dapi/v1/exchangeInfo", "binance", "rest", 0, 600),
    ("https://fapi.binance.com/fapi/v1/exchangeInfo", "binance", "rest", 0, 600),
    ("https://vapi.binance.com/vapi/v1/optionInfo", "binance", "rest", 1, 300),
    ("https://api.kraken.com/0/public/AssetPairs", "kraken", "rest", 0, 60),
    ("https://api.huobi.pro/v1/common/symbols", "huobi", "rest", 0, 600),
    (
        "https://api-pub.bitfinex.com/v2/conf/pub:map:currency:sym",
        "bitfinex",
        "rest",
        0,
        90,
    ),
    (
        "https://api-futures.kucoin.com/api/v1/contracts/active",
        "kucoin",
        "rest",
        0,
        120,
    ),
    ("https://contract.mexc.com/api/v1/contract/detail", "mexc", "rest", 0, 120),
    (
        "https://capi.bitget.com/api/swap/v3/market/contracts",
        "bitget",
        "rest",
        0,
        120,
    ),
    ("https://www.bitmex.com/api/v1/instrument/active", "bitmex", "rest", 0, 60),
    (
        "https://www.zbg.com/exchange/api/v1/future/common/contracts",
        "zbg",
        "rest",
        1,
        60,
    ),
    (
        "https://www.okx.com/api/v5/public/instruments?instType=SPOT",
        "okx",
        "rest",
        0,
        600,
    ),
    (
        "https://www.okx.com/api/v5/public/instruments?instType=SWAP",
        "okx",
        "rest",
        0,
        600,
    ),
]


def seed_frontier(spark: SparkSession) -> DataFrame:
    rows = [
        (url, url.split("/")[2], exchange, kind, priority, budget)
        for url, exchange, kind, priority, budget in SEED_ENDPOINTS
    ]
    return local_table(spark, rows, FRONTIER_SCHEMA)


def synthetic_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-symbol URL expansion of the seed universe, scaled by
    the part table (one URL per (endpoint-host, partkey) pair).

    At the 10^10 design point this expansion is the output of the previous
    crawl epoch (discovered pagination/per-symbol URLs); here it is
    synthesized with the same shape: heavy skew toward binance/okx hosts —
    the skew the salted partitioning must handle."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    seeds = seed_frontier(spark)
    # skew: partkey % 10 -> 5x binance, 2x okx, rest spread (mirrors the
    # real host distribution, SURVEY §7.3 item 5)
    k = F.col("p_partkey") % 10
    host_pick = (
        F.when(k <= 4, "api.binance.com")
        .when(k <= 6, "www.okx.com")
        .when(k == 7, "api.huobi.pro")
        .when(k == 8, "api.kraken.com")
        .otherwise("www.bitmex.com")
    )
    exchange = (
        F.when(k <= 4, "binance")
        .when(k <= 6, "okx")
        .when(k == 7, "huobi")
        .when(k == 8, "kraken")
        .otherwise("bitmex")
    )
    url = F.format_string(
        "https://%s/api/symbols?id=%d&page=%d",
        host_pick,
        F.col("p_partkey"),
        F.col("p_partkey") % 3,
    )
    expanded = part.select(
        url.alias("url"),
        host_pick.alias("host"),
        exchange.alias("exchange"),
        F.lit("rest").alias("kind"),
        (F.col("p_partkey") % 3).cast("int").alias("priority"),
        F.lit(600).cast("int").alias("rate_budget_per_min"),
    )
    return seeds.unionByName(expanded)
