"""Driver-session parity: every registry query must run on a SparkSession
the engine did NOT build.

The driver harness (and any embedding application) passes its own
default-config session — `spark.sql.caseSensitive=false`, host timezone —
where binance's case-significant payload keys (e/E, t/T) are ambiguous.
Round-1 CORRECTNESS failed 4 queries exactly this way while the local suite
stayed green, because conftest's fixture uses the engine's own get_spark().
The registry wrapper now sets the required SQL confs at query entry; this
test replays the formerly-failing family (plus a timezone-sensitive query)
on a deliberately hostile session to lock that in.
"""

from __future__ import annotations

import pytest

from crypto_msg_parser_spark.registry import all_queries

SF_SMOKE = "/root/testdata/sf0.001"

# the four round-1 driver failures + the router + a timezone-sensitive row
# (its RFC3339 wire timestamps are rendered in the session time zone)
_PARITY_QUERIES = [
    "parse_binance_spot_trade",
    "parse_binance_inverse_swap_trade",
    "parse_binance_funding_rate",
    "parse_binance_l2_levels",
    "binance_router",
    "parse_coinbase_spot_trade",
]


@pytest.fixture(scope="module")
def hostile_spark(spark):
    """Same SparkContext, fresh session state with DRIVER-like confs:
    case-insensitive resolution and a non-UTC timezone."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.caseSensitive", "false")
    s2.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    return s2


@pytest.mark.parametrize("name", _PARITY_QUERIES)
def test_query_runs_on_default_session(hostile_spark, name):
    q = all_queries()[name]
    # un-set between queries: each spark_fn must be self-sufficient
    hostile_spark.conf.set("spark.sql.caseSensitive", "false")
    df = q.spark_fn(hostile_spark, SF_SMOKE)
    assert df.limit(5).count() > 0
    # the wrapper must have repaired the session confs
    assert hostile_spark.conf.get("spark.sql.caseSensitive") == "true"
    assert hostile_spark.conf.get("spark.sql.session.timeZone") == "UTC"
