"""Unified dispatch API over a mixed-exchange message table."""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_msg_parser_spark.parser import api
from tests.parser_util import fixtures_df, load_fixtures


def _mixed_rows(msg_type):
    rows = []
    for ex in api.IMPLEMENTED:
        for r in load_fixtures(ex):
            # small exchanges carry msg_type only in the fixture id; the
            # id grammar is <exchange>:<msg_type>:<variant>:<n> (or with a
            # None slot for untyped extracts)
            mt = r["msg_type"] or (
                msg_type if f":{msg_type}:" in r["fixture_id"] else None
            )
            if mt != msg_type or r["variant"] != ex:
                continue
            if r["market_type"] == "european_option":
                continue
            rows.append(
                dict(r, market_type=r["market_type"] or "spot", msg_type=mt)
            )
    return rows


def test_mixed_parse_trade(spark):
    rows = _mixed_rows("trade")
    raw = fixtures_df(spark, rows)
    out = api.parse_trade(raw)
    got = out.groupBy("exchange").count().collect()
    by_ex = {r["exchange"]: r["count"] for r in got}
    assert set(by_ex) == set(api.IMPLEMENTED)
    assert all(v > 0 for v in by_ex.values())
    # every record normalized: unified pair + 13-digit ms timestamp
    bad = out.filter(
        ~F.col("pair").contains("/") | (F.length(F.col("timestamp").cast("string")) != 13)
    ).count()
    assert bad == 0


def test_mixed_routing_triple(spark):
    rows = _mixed_rows("trade") + _mixed_rows("l2_event")
    raw = fixtures_df(spark, rows)
    routed = api.route(raw)
    r = routed.select("exchange", "msg_type", "routed_msg_type", "routed_symbol").collect()
    for row in r:
        if row["routed_msg_type"] != "other":
            assert row["routed_msg_type"] == row["msg_type"], row
        assert row["routed_symbol"], row


def test_dispatch_prunes_unimplemented(spark):
    # rows from an unknown exchange are simply not emitted (the reference
    # panics per message; a table engine drops them into the unparsed
    # remainder instead)
    rows = _mixed_rows("trade")
    raw = fixtures_df(spark, rows).withColumn(
        "exchange", F.lit("poloniex")
    )
    assert api.parse_trade(raw).count() == 0


def test_parse_stage_has_no_python_udfs(spark):
    """BASELINE.json input_hint: vectorized/Catalyst-only parse stage.
    Every api.parse_* plan must be free of Python evaluation nodes
    (BatchEvalPython / ArrowEvalPython / FlatMapGroupsInPandas) except the
    gate futures stateful path, which is the reference's one keyed-state
    operator (SURVEY §2.9) and is explicitly an applyInPandas."""
    rows = _mixed_rows("trade")
    raw = fixtures_df(spark, rows)
    for fn in (api.parse_trade, api.parse_bbo, api.parse_funding_rate,
               api.parse_candlestick, api.route):
        plan = fn(raw)._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython"):
            assert marker not in plan, (fn.__name__, marker)
    l2_plan = api.parse_l2(raw)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in l2_plan
    # the ONLY pandas node allowed anywhere: gate's stateful delta replay
    assert l2_plan.count("FlatMapGroupsInPandas") <= 1


def test_l2_topk_dispatch_aliases(spark):
    """The reference routes parse_l2_topk straight to parse_l2 for huobi
    (huobi/mod.rs:127-132) and okx (okx/mod.rs:98-103); binance has a
    dedicated depthK path. The api dispatch must produce rows for all
    three, not silently drop exchanges lacking a parse_l2_topk attr."""
    rows = _mixed_rows("l2_topk")
    exchanges = {r["exchange"] for r in rows}
    assert {"binance", "huobi", "okx"} <= exchanges
    raw = fixtures_df(spark, rows)
    out = api.parse_l2_topk(raw)
    by_ex = {
        r["exchange"]: r["count"]
        for r in out.groupBy("exchange").count().collect()
    }
    for ex in ("binance", "huobi", "okx"):
        assert by_ex.get(ex, 0) > 0, f"{ex} dropped by parse_l2_topk dispatch"


def test_get_msg_type_strict_reference_parity(spark):
    """The reference's top-level get_msg_type sniffs EXACTLY 9 exchanges
    and returns Other for the rest (lib.rs:316-329) — even where this
    engine carries a module-level sniffer (kucoin, mexc, bitstamp, ...).
    Default must be reference-equal; extended=True opts into the extras."""
    rows = _mixed_rows("trade")
    raw = fixtures_df(spark, rows)
    strict = raw.select(
        "exchange",
        api.get_msg_type(F.col("exchange"), F.col("msg")).alias("mt"),
    ).collect()
    sniffed = {r["exchange"] for r in strict if r["mt"] != "other"}
    assert sniffed <= set(api.REFERENCE_MSG_TYPE_ARMS)
    # the 9 reference arms do classify their own trade messages
    assert "binance" in sniffed and "huobi" in sniffed and "okx" in sniffed

    ext = raw.select(
        "exchange",
        api.get_msg_type(F.col("exchange"), F.col("msg"), extended=True).alias("mt"),
    ).collect()
    ext_sniffed = {r["exchange"] for r in ext if r["mt"] != "other"}
    # extras engage beyond the reference set, and nothing regresses
    assert sniffed <= ext_sniffed
    assert ext_sniffed - set(api.REFERENCE_MSG_TYPE_ARMS)


# (exchange, msg) -> routed triple (msg_type, symbol, ts): messages the
# sniffers cannot read as one JSON document, and numbers with a fraction
# where the sniffers read integer timestamps
MALFORMED = [
    # a duplicate key: not one JSON document (get_json_object read the
    # first value), so the default triple
    ("binance", '{"stream":"btcusdt@aggTrade","stream":"ethusdt@depth"}',
     ("other", None, None)),
    ("okx", '{"arg":{"channel":"trades"},"arg":{"channel":"books"}}',
     ("other", None, None)),
    # not JSON, and truncated JSON: the default triple (binance's REST
    # fallback arm no longer claims them as l2_snapshot)
    ("binance", "not json", ("other", None, None)),
    ("huobi", "", ("other", None, None)),
    ("binance", '{"stream":"btcusdt@aggTrade","data":{"E":16',
     ("other", None, None)),
    ("kraken", "[1,{}", ("other", None, None)),
    # a fractional number where an integer ms timestamp is read: NULL,
    # where the old cast raised CAST_INVALID_INPUT; a zero fraction reads
    # as its integer
    ("binance", '{"stream":"btcusdt@aggTrade","data":{"e":"aggTrade","E":1.50,"s":"BTCUSDT"}}',
     ("trade", "BTCUSDT", None)),
    ("binance", '{"stream":"btcusdt@aggTrade","data":{"e":"aggTrade","E":1616000000000.0,"s":"BTCUSDT"}}',
     ("trade", "BTCUSDT", 1616000000000)),
    ("huobi", '{"ch":"market.btcusdt.trade.detail","ts":"1.50"}',
     ("trade", "btcusdt", None)),
    # a kraken frame too short for its channel slot
    ("kraken", "[]", ("other", None, None)),
    # a channel or table without the separator a sniffer splits on, an
    # empty data array, a row shorter than the slot read, a time that is
    # not RFC 3339: the piece reads NULL, where indexing raised
    # INVALID_ARRAY_INDEX and the time cast CAST_INVALID_INPUT
    ("huobi", '{"ch":"marketbtcusdt","ts":1616000000000}',
     ("other", None, 1616000000000)),
    ("okx", '{"table":"spottrade","data":[]}', ("other", None, None)),
    ("okx", '{"table":"spot/candle","data":[{"candle":[]}]}',
     ("candlestick", None, None)),
    ("okx", '{"table":"spot/ticker","data":[{"timestamp":"garbage"}]}',
     ("bbo", None, None)),
    ("zb", '{"channel":"btcusdtdepth","timestamp":1616000000}', ("other", None, None)),
    ("zb", '{"channel":"btcusdt.Trade","data":[[1,2]]}', ("other", "btcusdt", None)),
    ("bitget", '{"table":"spottrade","data":[]}', ("other", None, None)),
    ("bitget", '{"arg":{"instType":"sp","channel":"trade","instId":"BTCUSDT"},"data":[["1"],[]]}',
     ("trade", "BTCUSDT_SPBL", 1)),
    ("bitmex", '{"table":"trade","data":[]}', ("trade", None, None)),
    ("bitmex", '{"table":"trade","data":[{"timestamp":"garbage","symbol":"XBTUSD"}]}',
     ("trade", "XBTUSD", None)),
    ("coinbase_pro", '{"type":"heartbeat","product_id":"BTC-USD","time":"garbage"}',
     ("other", "BTC-USD", None)),
    # a bitfinex snapshot row shorter than the slot read, and an empty
    # candle snapshot; bitfinex has no reference msg_type arm, so the type
    # is sniffed only when extended (the key of each expected triple)
    ("bitfinex", '[{"symbol":"tBTCUSD","channel":"trades"},[[1]]]',
     {False: ("other", "tBTCUSD", None), True: ("trade", "tBTCUSD", None)}),
    ("bitfinex", '[{"channel":"candles","key":"trade:1m:tBTCUSD"},[]]',
     {False: ("other", "tBTCUSD", None), True: ("candlestick", "tBTCUSD", None)}),
]


def test_route_malformed_messages(spark):
    """Every message is routed, none raises: see MALFORMED."""
    rows = [
        (str(i), ex, "spot", None, 0, msg) for i, (ex, msg, _) in enumerate(MALFORMED)
    ]
    raw = spark.createDataFrame(rows, fixtures_df(spark, []).schema)
    for extended in (False, True):
        got = {
            r["msg_id"]: (r["routed_msg_type"], r["routed_symbol"], r["routed_ts"])
            for r in api.route(raw, extended=extended).collect()
        }
        for i, (ex, msg, want) in enumerate(MALFORMED):
            want = want[extended] if isinstance(want, dict) else want
            assert got[str(i)] == want, (extended, ex, msg, got[str(i)])


def test_api_parse_trade_on_all_fixtures(spark):
    """api.parse_trade over every fixture, not sliced by msg_type, runs
    without raising; bithumb's trade rows are those of its trade slice
    (its 00007 ticker has the trade keys `p`/`t` but no `s`)."""
    from crypto_msg_parser_spark.parser import bithumb

    rows = [dict(r, market_type=r["market_type"] or "spot") for r in load_fixtures()]
    out = api.parse_trade(fixtures_df(spark, rows))
    got = out.filter(F.col("exchange") == "bithumb").drop("json").collect()
    trades = [r for r in rows if r["exchange"] == "bithumb" and ":trade:" in r["fixture_id"]]
    want = bithumb.parse_trade(fixtures_df(spark, trades)).drop("json").collect()
    assert out.count() > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def _numbers_replaced(msg, token):
    """``msg`` with every JSON number, and every all-digit string of 9 or
    more digits (ids and ms timestamps sent as text), replaced by
    ``token``; a message that is not JSON is kept as it is."""
    import json
    import re

    try:
        doc = json.loads(msg)
    except ValueError:
        return msg
    num = "\x00num\x00"

    def walk(v):
        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, (int, float)):
            return num
        if isinstance(v, str):
            return token if re.fullmatch(r"\d{9,}", v) else v
        if isinstance(v, list):
            return [walk(x) for x in v]
        return {k: walk(x) for k, x in v.items()}

    return json.dumps(walk(doc)).replace(json.dumps(num), token)


def test_route_survives_out_of_range_numbers(spark):
    """Numbers past BIGINT (or any integral type) route to NULL fields:
    under ANSI mode a plain `* 1000` or `.cast("long")` in a sniffer
    raised ARITHMETIC_OVERFLOW / CAST_OVERFLOW and failed the whole job."""
    for token in ("9223372036854775807", "1e30"):
        rows = [
            dict(
                r,
                market_type=r["market_type"] or "spot",
                raw=_numbers_replaced(r["raw"], token),
            )
            for r in load_fixtures()
        ]
        raw = fixtures_df(spark, rows)
        for extended in (False, True):
            got = api.route(raw, extended=extended).select(
                "msg_id", "routed_msg_type", "routed_symbol", "routed_ts"
            ).collect()
            assert len(got) == len(rows), (token, extended)
