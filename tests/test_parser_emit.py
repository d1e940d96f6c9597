"""The output contract every exchange arm shares (`common.emit`): each
parse function of each of the 20 arms yields exactly the declared
schemas.* columns, in order, with the declared types — nested order-level
structs included."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser import api
from tests.parser_util import fixtures_df, load_fixtures

_SCHEMA_OF = {
    "parse_trade": schemas.TRADE_SCHEMA,
    "parse_l2": schemas.ORDERBOOK_SCHEMA,
    "parse_l2_topk": schemas.ORDERBOOK_SCHEMA,
    "parse_l2_snapshot": schemas.ORDERBOOK_SCHEMA,
    "parse_bbo": schemas.BBO_SCHEMA,
    "parse_funding_rate": schemas.FUNDING_RATE_SCHEMA,
    "parse_candlestick": schemas.CANDLESTICK_SCHEMA,
}

_ARMS = {name: mod for name, _, mod in api._dispatch_arms()}


def _columns(schema):
    # simpleString spells nested field names and types but not the
    # nullability flags, which emit deliberately leaves as built
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _raw(spark, exchange=None):
    rows = [
        dict(r, market_type=r["market_type"] or "spot")
        for r in load_fixtures(exchange)
    ]
    # the REST snapshot arms read the crawl-supplied routed_symbol
    return fixtures_df(spark, rows).withColumn(
        "routed_symbol", F.lit(None).cast("string")
    )


def test_every_arm_is_covered():
    assert len(_ARMS) == 20


@pytest.mark.parametrize("arm", sorted(_ARMS))
def test_parse_functions_yield_the_declared_schema(spark, arm):
    mod = _ARMS[arm]
    fns = {
        name: fn
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if name.startswith("parse_") and fn.__module__ == mod.__name__
    }
    assert fns, arm
    raw = _raw(spark, arm)
    for name, fn in sorted(fns.items()):
        assert _columns(fn(raw).schema) == _columns(_SCHEMA_OF[name]), (arm, name)


def test_l2_snapshot_dispatches_exactly_the_three_rest_arms(spark):
    out = api.parse_l2_snapshot(_raw(spark))
    assert _columns(out.schema) == _columns(schemas.ORDERBOOK_SCHEMA)
    got = {r["exchange"] for r in out.select("exchange").distinct().collect()}
    assert got == {"binance", "bitfinex", "bitget"}
    assert out.filter(F.col("msg_type") != "l2_snapshot").count() == 0
