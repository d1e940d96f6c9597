"""Gate.io normalization (spot legacy + spot current + futures + swaps).

Behavioral reference (reimplemented Spark-first, not translated):
  crypto-msg-parser/src/exchanges/gate/{mod.rs, gate_spot.rs,
  gate_spot_20210916.rs, gate_spot_current.rs, gate_swap.rs};
  pair rule crypto-pair/src/lib.rs:54-60 (split '_' -> BASE/QUOTE);
  contract values crypto-contract-value/src/exchanges/gate.rs
  (inverse closed-form 1.0 :528; linear via parser/data/
  gate_contract_values.json).

Format-version dispatch (gate_spot.rs:8-29): messages with a top-level
`params` key are the pre-2021-09-16 spot format; `result` is current.

The ONE stateful operator of the whole reference lives here
(gate_swap.rs:268-271,355-380): futures `futures.order_book` update events
carry signed sizes where s<0=ask, s>0=bid, and s==0 deletions must be routed
to the side that price was previously on — per-symbol keyed state across
messages. Batch realization: `applyInPandas` over symbol groups ordered by
arrival (SURVEY §2.9); streaming realization: transformWithStateInPandas
(streaming/ module).
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark import schemas
from crypto_msg_parser_spark.parser.common import (
    Msg,
    let,
    secs_to_ms,
    sniffer,
    data_json,
    explode_env_with_count,
    explode_with_count,
    parsed_once,
    INVERSE,
    LINEAR_FUTURE,
    SPOT,
    quantity_triple,
    sort_book_sides,
    emit,
    item_json,
    order_level,
    spot_level,
)
from crypto_msg_parser_spark.sources.local import local_table

EXCHANGE = "gate"

_FUTURES = ("inverse_future", "linear_future")
_SWAPS = ("inverse_swap", "linear_swap")


def normalize_pair(symbol: Column) -> Column:
    """BTC_USDT / BTC_USD_20220603 -> BTC/USDT, BTC/USD
    (crypto-pair/src/lib.rs:54-60: first two '_' segments)."""
    v = F.split(symbol, "_")
    return F.when(
        F.size(v) >= 2, F.concat(v[0], F.lit("/"), v[1])
    ).otherwise(F.lit(None).cast("string"))


def _cv_dict(spark):
    d = data_json("gate_contract_values.json")
    rows = [(mt, pair, cv) for mt, table in d.items() for pair, cv in table.items()]
    return local_table(spark, rows, "cv_market_type string, cv_pair string, cv double")


def with_contract_value(df: DataFrame, pair_col: str = "pair") -> DataFrame:
    """cv column: spot/inverse 1.0 (gate.rs:528), linear via a broadcast
    join on the contract-value table, a LocalRelation."""
    joined = df.join(
        F.broadcast(_cv_dict(df.sparkSession)),
        (F.col("market_type") == F.col("cv_market_type"))
        & (F.col(pair_col) == F.col("cv_pair")),
        "left",
    ).drop("cv_market_type", "cv_pair")
    return joined.withColumn(
        "cv",
        F.when(F.col("market_type") == SPOT, 1.0)
        .when(F.col("market_type").isin(*INVERSE), 1.0)
        .otherwise(F.col("cv")),
    )


# ---------------------------------------------------------------- router

def _channel(msg: Column) -> Column:
    return F.get_json_object(msg, "$.channel")


def _method(msg: Column) -> Column:
    return F.get_json_object(msg, "$.method")


def _n_suffix(n: Column) -> Column:
    """'1m_BTC_USDT' -> 'BTC_USDT' (everything after the FIRST '_')."""
    return F.regexp_replace(n, "^[^_]*_", "")


@sniffer
def extract_symbol(m: Msg) -> Column:
    """gate_spot.rs:8-17 + gate_spot_current.rs:96-112 +
    gate_spot_20210916.rs:44-55 + gate_swap.rs:95-122."""
    ws = m.has("$.channel") & m.has("$.result")
    # ws current: contract | s | n(split) | c — object or first array element
    contract = F.coalesce(m.get("$.result.contract"), m.get("$.result[0].contract"))
    s = F.coalesce(m.get("$.result.s"), m.get("$.result[0].s"))
    n = F.coalesce(m.get("$.result.n"), m.get("$.result[0].n"))
    c = F.coalesce(m.get("$.result.c"), m.get("$.result[0].c"))
    # `s`/`c` probes must be strings (swap update arrays use numeric s=size /
    # c=close; the symbol-bearing s/c are always FOO_BAR strings)
    s_str = F.when(s.rlike("^[A-Za-z0-9]+_[A-Za-z0-9_]+$"), s)
    c_str = F.when(c.rlike("^[A-Za-z0-9]+_[A-Za-z0-9_]+$"), c)
    return let(
        lambda method: F.when(method == "trades.update", m.get("$.params[0]"))
        .when(method == "ticker.update", m.get("$.params[0]"))
        .when(method == "depth.update", m.get("$.params[2]"))
        .when(
            ws,
            F.coalesce(
                m.get("$.result.currency_pair"), contract, s_str, _n_suffix(n), c_str
            ),
        )
        .when(m.raw.contains("open_interest") | m.has("$.current"), "NONE"),
        m.get("$.method"),
    )


@sniffer
def extract_timestamp(m: Msg) -> Column:
    """gate_spot_current.rs:115-133 + gate_spot_20210916.rs:57-77 +
    gate_swap.rs:124-168. Unix ms or NULL."""
    time_ms = secs_to_ms(m.get("$.time").try_cast("long"))
    result_t = m.get("$.result.t").try_cast("long")
    legacy_trades = m.rows("$.params[1]", "struct<time:double>")
    swap_trades = m.rows(
        "$.result", "struct<create_time:string, create_time_ms:string>"
    )
    current = m.get("$.current")
    # a JSON number written with a fraction reads as a DECIMAL, whose text
    # drops a zero fraction (1616234567.0 -> '1616234567')
    current_secs = current.contains(".") | F.schema_of_variant(
        m.get("$.current", "variant")
    ).startswith("DECIMAL")

    def ladder(ch, method):
        return (
            F.when(
                method == "trades.update",
                F.array_max(
                    F.transform(
                        legacy_trades, lambda x: (x["time"] * 1000).try_cast("long")
                    )
                ),
            )
            .when(
                method.isin("depth.update", "ticker.update"),
                F.lit(None).cast("long"),
            )
            .when(
                ch == "spot.trades",
                m.get("$.result.create_time_ms").try_cast("double").try_cast("long"),
            )
            .when(
                ch.startswith("spot.order_book") | (ch == "spot.book_ticker"),
                result_t,
            )
            .when(
                ch == "futures.trades",
                F.array_max(
                    F.transform(
                        swap_trades,
                        lambda x: F.coalesce(
                            x["create_time_ms"].try_cast("long"),
                            secs_to_ms(x["create_time"].try_cast("long")),
                        ),
                    )
                ),
            )
            .when(ch == "futures.order_book", F.coalesce(result_t, time_ms))
            .when(
                ch.isin("futures.order_book_update", "futures.book_ticker"), result_t
            )
            .when(ch.isNotNull(), time_ms)
            .when(m.raw.contains("open_interest"), F.lit(None).cast("long"))
            # REST snapshots: spot `current` is integer ms, swap is float seconds
            .when(
                current.isNotNull() & current_secs,
                (current.try_cast("double") * 1000).try_cast("long"),
            )
            .when(current.isNotNull(), current.try_cast("long"))
        )

    return let(ladder, m.get("$.channel"), m.get("$.method"))


# ---------------------------------------------------------------- trades

_LEGACY_TRADE = (
    "array<struct<id:bigint, time:double, price:string, amount:string,"
    " type:string>>"
)
_SPOT_TRADE = (
    "struct<id:bigint, create_time:bigint, create_time_ms:string,"
    " side:string, currency_pair:string, amount:string, price:string>"
)
_SPOT_TRADE_ENV = (
    f"struct<time:bigint, channel:string, event:string, result:{_SPOT_TRADE}>"
)
_SWAP_TRADE = (
    "array<struct<size:double, id:bigint, create_time:bigint,"
    " create_time_ms:bigint, price:string, contract:string>>"
)
# whole-message envelope for the deriv trade path: ONE from_json replaces
# the channel probe + $.result extract + nested from_json (3 JSON
# tokenizations per row -> 1, the same treatment binance got). Non-trade
# channels (result is an object, not an array) parse to a null row in
# PERMISSIVE mode, so the post-Generate channel filter excludes them
# exactly as the raw-text probe did.
_SWAP_TRADE_ENV = f"struct<time:bigint, channel:string, event:string, result:{_SWAP_TRADE}>"


def parse_trade(df: DataFrame) -> DataFrame:
    parts = [
        _parse_trade_spot_legacy(df.filter(F.col("market_type") == SPOT)),
        _parse_trade_spot_current(df.filter(F.col("market_type") == SPOT)),
        _parse_trade_deriv(
            df.filter(F.col("market_type").isin(*_FUTURES, *_SWAPS))
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _parse_trade_spot_legacy(df: DataFrame) -> DataFrame:
    """gate_spot_20210916.rs:86-135: {method:'trades.update',
    params:[symbol, [trades]]}."""
    arr = F.from_json(F.get_json_object("msg", "$.params[1]"), _LEGACY_TRADE)
    base = (
        df.filter(_method(F.col("msg")) == "trades.update")
        .withColumn("symbol", F.get_json_object("msg", "$.params[0]"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .transform(explode_with_count(arr))
    )
    price = F.col("d.price").cast("double")
    qty = F.col("d.amount").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=(F.col("d.time") * 1000).cast("long"),
        json=item_json(),
        side=F.when(F.col("d.type") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.col("d.id").cast("string"),
    )


def _parse_trade_spot_current(df: DataFrame) -> DataFrame:
    """gate_spot_current.rs:135-167: single result object, channel
    spot.trades; ts = create_time_ms (string fractional ms, truncated).

    ONE whole-message from_json (channel probe + $.result extract +
    nested parse was 3 tokenizations per row — same treatment as the
    deriv path); non-trade channels parse to null fields in PERMISSIVE
    mode and are dropped by the post-barrier filters."""
    env = F.from_json(F.col("msg"), _SPOT_TRADE_ENV)
    base = (
        df.transform(parsed_once(env, alias="_e"))
        .filter(F.col("_e.channel") == "spot.trades")
        .withColumn("d", F.col("_e.result"))
        .filter(F.col("d.currency_pair").isNotNull())
    )
    price = F.col("d.price").cast("double")
    qty = F.col("d.amount").cast("double")
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        symbol=F.col("d.currency_pair"),
        pair=normalize_pair(F.col("d.currency_pair")),
        timestamp=F.col("d.create_time_ms").cast("double").cast("long"),
        side=F.when(F.col("d.side") == "sell", "sell").otherwise("buy"),
        price=price,
        quantity_base=qty,
        quantity_quote=price * qty,
        trade_id=F.col("d.id").cast("string"),
    )


def _parse_trade_deriv(df: DataFrame) -> DataFrame:
    """gate_swap.rs:171-266: futures use create_time*1000, swaps
    create_time_ms; side from sign(size); quantity = |size|."""
    env = F.from_json(F.col("msg"), _SWAP_TRADE_ENV)
    base = (
        df.transform(
            explode_env_with_count(
                env, "result", keep=lambda e: e["channel"] == "futures.trades"
            )
        )
        .withColumn("symbol", F.col("d.contract"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    price = F.col("d.price").cast("double")
    qty = F.abs(F.col("d.size"))
    q = quantity_triple(F.col("market_type"), price, qty, F.col("cv"))
    ts = F.when(
        F.col("market_type").isin(*_FUTURES), F.col("d.create_time") * 1000
    ).otherwise(F.col("d.create_time_ms"))
    return emit(
        base, schemas.TRADE_SCHEMA, EXCHANGE, "trade",
        timestamp=ts.cast("long"),
        json=item_json(),
        side=F.when(F.col("d.size") < 0, "sell").otherwise("buy"),
        price=price,
        quantity_base=q["quantity_base"],
        quantity_quote=q["quantity_quote"],
        quantity_contract=q["quantity_contract"],
        trade_id=F.col("d.id").cast("string"),
    )


# ---------------------------------------------------------------- orderbooks

_PAIR_ARR = "array<array<string>>"
_SPOT_UPDATE = (
    "struct<t:bigint, s:string, U:bigint, u:bigint,"
    " a:array<array<string>>, b:array<array<string>>>"
)
_SPOT_TOPK = (
    "struct<t:bigint, lastUpdateId:bigint, s:string,"
    " asks:array<array<string>>, bids:array<array<string>>>"
)
_SWAP_UPDATE = (
    "struct<t:bigint, s:string, U:bigint, u:bigint,"
    " a:array<struct<p:string, s:double>>, b:array<struct<p:string, s:double>>>"
)
_SWAP_SNAP = (
    "struct<t:bigint, id:bigint, contract:string,"
    " asks:array<struct<p:string, s:double>>,"
    " bids:array<struct<p:string, s:double>>>"
)


def _spot_order(lv):
    price = lv.getItem(0).cast("double")
    qty = lv.getItem(1).cast("double")
    return spot_level(price, qty)


def _deriv_order(market_type, cv):
    def mk(lv):
        price = lv["p"].cast("double")
        qty = F.abs(lv["s"])
        return order_level(market_type, price, qty, cv)

    return mk


def parse_l2(df: DataFrame) -> DataFrame:
    """mod.rs:43-58: spot -> spot parsers; swaps -> order_book_update;
    futures -> futures.order_book (incl. the stateful update path)."""
    spot = df.filter(F.col("market_type") == SPOT)
    parts = [
        _parse_l2_spot_legacy(spot),
        _parse_l2_spot_current(spot),
        _parse_l2_swap_update(df.filter(F.col("market_type").isin(*_SWAPS))),
        _parse_futures_order_book(
            df.filter(F.col("market_type").isin(*_FUTURES))
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def parse_l2_topk(df: DataFrame) -> DataFrame:
    """mod.rs:62-71: spot.order_book snapshots; derivatives share
    futures.order_book."""
    parts = [
        _parse_l2_topk_spot(df.filter(F.col("market_type") == SPOT)),
        _parse_futures_order_book(
            df.filter(F.col("market_type").isin(*_SWAPS, *_FUTURES))
        ),
    ]
    return parts[0].unionByName(parts[1])


def _parse_l2_spot_legacy(df: DataFrame) -> DataFrame:
    """gate_spot_20210916.rs:138-198: params [snapshot, {asks,bids}, symbol];
    timestamp = crawl receive time."""
    book = F.from_json(
        F.get_json_object("msg", "$.params[1]"),
        f"struct<asks:{_PAIR_ARR}, bids:{_PAIR_ARR}>",
    )
    base = (
        df.filter(_method(F.col("msg")) == "depth.update")
        .withColumn("symbol", F.get_json_object("msg", "$.params[2]"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("snapshot", F.get_json_object("msg", "$.params[0]") == "true")
        .withColumn("book", book)
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("received_at"),
        asks=F.transform(F.coalesce("book.asks", F.array()), _spot_order),
        bids=F.transform(F.coalesce("book.bids", F.array()), _spot_order),
    )
    return sort_book_sides(out)


def _parse_l2_spot_current(df: DataFrame) -> DataFrame:
    """gate_spot_current.rs:173-216: spot.order_book_update; seq_id = u,
    prev_seq_id = U-1; snapshot iff event=='all'."""
    base = (
        df.filter(_channel(F.col("msg")) == "spot.order_book_update")
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SPOT_UPDATE)))
        .withColumn("symbol", F.col("d.s"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("snapshot", F.get_json_object("msg", "$.event") == "all")
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("d.t"),
        asks=F.transform(F.coalesce("d.a", F.array()), _spot_order),
        bids=F.transform(F.coalesce("d.b", F.array()), _spot_order),
        seq_id=F.col("d.u"),
        prev_seq_id=F.col("d.U") - 1,
    )
    return sort_book_sides(out)


def _parse_l2_topk_spot(df: DataFrame) -> DataFrame:
    """gate_spot_current.rs:218-268: spot.order_book limited-level snapshot;
    always snapshot=true; seq_id = lastUpdateId."""
    base = (
        df.filter(_channel(F.col("msg")) == "spot.order_book")
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SPOT_TOPK)))
        .withColumn("symbol", F.col("d.s"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_topk",
        timestamp=F.col("d.t"),
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), _spot_order),
        bids=F.transform(F.coalesce("d.bids", F.array()), _spot_order),
        seq_id=F.col("d.lastUpdateId"),
    )
    return sort_book_sides(out)


def _parse_l2_swap_update(df: DataFrame) -> DataFrame:
    """gate_swap.rs:444-475: futures.order_book_update (swaps); orders are
    {p, s} with contract-value quantity math."""
    base = (
        df.filter(_channel(F.col("msg")) == "futures.order_book_update")
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SWAP_UPDATE)))
        .withColumn("symbol", F.col("d.s"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
        .withColumn("snapshot", F.get_json_object("msg", "$.event") == "all")
    )
    base = with_contract_value(base)
    mk = _deriv_order(F.col("market_type"), F.col("cv"))
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE, "l2_event",
        timestamp=F.col("d.t"),
        asks=F.transform(F.coalesce("d.a", F.array()), mk),
        bids=F.transform(F.coalesce("d.b", F.array()), mk),
        seq_id=F.col("d.u"),
        prev_seq_id=F.col("d.U") - 1,
    )
    return sort_book_sides(out)


def _parse_futures_snapshot(df: DataFrame) -> DataFrame:
    """gate_swap.rs:283-332: futures.order_book event=='all'. Timestamp is
    result.t except LinearFuture (envelope time*1000); msg_type is l2_topk
    for swaps, l2_event for futures."""
    base = (
        df.transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SWAP_SNAP)))
        .withColumn("symbol", F.col("d.contract"))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    base = with_contract_value(base)
    mk = _deriv_order(F.col("market_type"), F.col("cv"))
    ts = F.when(
        F.col("market_type") == LINEAR_FUTURE,
        F.get_json_object("msg", "$.time").cast("long") * 1000,
    ).otherwise(F.col("d.t"))
    out = emit(
        base, schemas.ORDERBOOK_SCHEMA, EXCHANGE,
        F.when(F.col("market_type").isin(*_SWAPS), "l2_topk")
        .otherwise("l2_event"),
        timestamp=ts,
        snapshot=F.lit(True),
        asks=F.transform(F.coalesce("d.asks", F.array()), mk),
        bids=F.transform(F.coalesce("d.bids", F.array()), mk),
        seq_id=F.col("d.id"),
    )
    return sort_book_sides(out)


def _round9_py(x: float) -> float:
    import math

    scaled = x * 1e9
    return (math.floor(scaled + 0.5) if scaled >= 0 else math.ceil(scaled - 0.5)) / 1e9


def _quantity_py(market_type: str, pair: str, price: float, qty: float, cv: dict):
    """Python twin of calc_quantity_and_volume for the stateful path."""
    if market_type in ("inverse_future", "inverse_swap"):
        return qty / price, qty * 1.0, qty
    v = cv.get(market_type, {}).get(pair, 1.0)
    return _round9_py(qty * v), _round9_py(qty * v * price), qty


def _replay_futures_update(
    msg: str, market_type: str, price_side: dict, cv: dict
):
    """Replay ONE futures.order_book update delta against the per-symbol
    price->is_ask state (gate_swap.rs:333-400): sign routes side; s==0
    deletions resolve against the remembered side of that price. Mutates
    `price_side`; returns an OrderBookMsg-shaped dict or None. Shared by
    the batch applyInPandas and the streaming applyInPandasWithState
    realizations."""
    m = json.loads(msg)
    levels = m.get("result") or []
    if not isinstance(levels, list) or not levels:
        return None
    if market_type == "linear_future":
        symbol = levels[0].get("c")
    else:
        symbol = levels[0].get("contract")
    if not symbol:
        return None
    parts = symbol.split("_")
    pair = f"{parts[0]}/{parts[1]}" if len(parts) >= 2 else None
    asks, bids = [], []
    for lv in levels:
        p_str = lv["p"]
        s = float(lv["s"])
        price = float(p_str)
        qb, qq, qc = _quantity_py(market_type, pair, price, abs(s), cv)
        order = {
            "price": price,
            "quantity_base": qb,
            "quantity_quote": qq,
            "quantity_contract": qc,
        }
        if s < 0:
            asks.append(order)
            price_side[p_str] = True
        elif s > 0:
            bids.append(order)
            price_side[p_str] = False
        elif p_str in price_side:
            (asks if price_side.pop(p_str) else bids).append(order)
    return {
        "exchange": EXCHANGE,
        "market_type": market_type,
        "symbol": symbol,
        "pair": pair,
        "msg_type": "l2_event",
        "timestamp": int(m["time"]) * 1000,
        "json": msg,
        "snapshot": False,
        "asks": asks,
        "bids": bids,
        "seq_id": None,
        "prev_seq_id": None,
    }


def _parse_futures_update_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-symbol ordered replay of futures.order_book deltas. Runs inside
    applyInPandas — the one place the engine keeps cross-message state
    (SURVEY §2.9)."""
    cv = data_json("gate_contract_values.json")
    pdf = pdf.sort_values(["received_at", "msg_id"], kind="stable")
    price_side: dict[str, bool] = {}  # price-string -> is_ask
    out = []
    for row in pdf.itertuples():
        rec = _replay_futures_update(row.msg, row.market_type, price_side, cv)
        if rec is not None:
            out.append(rec)
    cols = [f.name for f in schemas.ORDERBOOK_SCHEMA.fields]
    return pd.DataFrame(out, columns=cols)


def _parse_futures_order_book(df: DataFrame) -> DataFrame:
    """futures.order_book channel: snapshots are pure column expressions;
    updates need per-symbol state, grouped by the routed symbol (the first
    element's contract/c field) so state never crosses executors."""
    ob = df.filter(_channel(F.col("msg")) == "futures.order_book")
    ev = F.get_json_object("msg", "$.event")
    snaps = _parse_futures_snapshot(ob.filter(ev == "all"))
    upd = ob.filter(ev == "update").withColumn(
        "state_key",
        F.coalesce(
            F.get_json_object("msg", "$.result[0].contract"),
            F.get_json_object("msg", "$.result[0].c"),
        ),
    )
    updates = upd.groupBy("state_key").applyInPandas(
        lambda pdf: _parse_futures_update_pdf(pdf), schemas.ORDERBOOK_SCHEMA
    )
    return snaps.unionByName(updates)


# ---------------------------------------------------------------- bbo

_SPOT_BBO = "struct<t:bigint, u:bigint, s:string, b:string, B:string, a:string, A:string>"
_SWAP_BBO = "struct<t:bigint, u:bigint, s:string, b:string, B:double, a:string, A:double>"


def parse_bbo(df: DataFrame) -> DataFrame:
    """gate_spot_current.rs:270-311 (spot, string sizes) +
    gate_swap.rs:477-527 (derivatives, numeric sizes + quantity math)."""
    spot = (
        df.filter(
            (F.col("market_type") == SPOT)
            & (_channel(F.col("msg")) == "spot.book_ticker")
        )
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SPOT_BBO)))
        .withColumn("cv", F.lit(1.0))
    )
    deriv = df.filter(
        (F.col("market_type") != SPOT)
        & (_channel(F.col("msg")) == "futures.book_ticker")
    ).transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SWAP_BBO)))
    deriv = with_contract_value(
        deriv.withColumn("symbol", F.col("d.s")).withColumn(
            "pair", normalize_pair(F.col("symbol"))
        )
    )

    def project(base, is_spot: bool):
        ask_p = F.col("d.a").cast("double")
        bid_p = F.col("d.b").cast("double")
        ask_q = F.col("d.A").cast("double")
        bid_q = F.col("d.B").cast("double")
        if is_spot:
            base = base.withColumn("symbol", F.col("d.s")).withColumn(
                "pair", normalize_pair(F.col("symbol"))
            )
            aq = F.struct(
                ask_q.alias("quantity_base"),
                (ask_p * ask_q).alias("quantity_quote"),
                F.lit(None).cast("double").alias("quantity_contract"),
            )
            bq = F.struct(
                bid_q.alias("quantity_base"),
                (bid_p * bid_q).alias("quantity_quote"),
                F.lit(None).cast("double").alias("quantity_contract"),
            )
        else:
            aq = quantity_triple(F.col("market_type"), ask_p, ask_q, F.col("cv"))
            bq = quantity_triple(F.col("market_type"), bid_p, bid_q, F.col("cv"))
        return emit(
            base, schemas.BBO_SCHEMA, EXCHANGE, "bbo",
            timestamp=F.col("d.t"),
            bid_price=bid_p,
            bid_quantity_base=bq["quantity_base"],
            bid_quantity_quote=bq["quantity_quote"],
            bid_quantity_contract=bq["quantity_contract"],
            ask_price=ask_p,
            ask_quantity_base=aq["quantity_base"],
            ask_quantity_quote=aq["quantity_quote"],
            ask_quantity_contract=aq["quantity_contract"],
        )

    return project(spot, True).unionByName(project(deriv, False))


# ---------------------------------------------------------------- candles

_SPOT_CANDLE = (
    "struct<t:string, v:string, c:string, h:string, l:string, o:string,"
    " n:string, a:string>"
)
_SWAP_CANDLE = (
    "array<struct<t:bigint, v:double, c:string, h:string, l:string,"
    " o:string, n:string>>"
)


def parse_candlestick(df: DataFrame) -> DataFrame:
    """gate_spot_current.rs:313-350 (volume=a, quote_volume=v!) +
    gate_swap.rs:529-579 (inverse: v*cv is quote volume, base =
    quote/avg(ohlc); linear: v*cv is base volume)."""
    spot = (
        df.filter(
            (F.col("market_type") == SPOT)
            & (_channel(F.col("msg")) == "spot.candlesticks")
        )
        .transform(parsed_once(F.from_json(F.get_json_object("msg", "$.result"), _SPOT_CANDLE)))
        .withColumn("n_items", F.lit(1))
    )
    spot_out = emit(
        spot, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        symbol=_n_suffix(F.col("d.n")),
        pair=normalize_pair(_n_suffix(F.col("d.n"))),
        timestamp=F.get_json_object("msg", "$.time").cast("long") * 1000,
        begin_time=F.col("d.t").cast("long"),
        open=F.col("d.o").cast("double"),
        high=F.col("d.h").cast("double"),
        low=F.col("d.l").cast("double"),
        close=F.col("d.c").cast("double"),
        volume=F.col("d.a").cast("double"),
        period=F.regexp_extract(F.col("d.n"), "^([^_]*)_", 1),
        quote_volume=F.col("d.v").cast("double"),
    )

    arr = F.from_json(F.get_json_object("msg", "$.result"), _SWAP_CANDLE)
    deriv = (
        df.filter(
            (F.col("market_type") != SPOT)
            & (_channel(F.col("msg")) == "futures.candlesticks")
        )
        .select("*", F.explode(arr).alias("d"))
        .withColumn("symbol", _n_suffix(F.col("d.n")))
        .withColumn("pair", normalize_pair(F.col("symbol")))
    )
    deriv = with_contract_value(deriv)
    o = F.col("d.o").cast("double")
    h = F.col("d.h").cast("double")
    low = F.col("d.l").cast("double")
    c = F.col("d.c").cast("double")
    is_inverse = F.col("market_type").isin(*INVERSE)
    quote_vol = F.col("d.v") * F.col("cv")
    avg_price = (o + h + low + c) / 4
    # json: the whole msg even on fan-out (gate_swap.rs:570)
    deriv_out = emit(
        deriv, schemas.CANDLESTICK_SCHEMA, EXCHANGE, "candlestick",
        timestamp=F.get_json_object("msg", "$.time").cast("long") * 1000,
        begin_time=F.col("d.t"),
        open=o,
        high=h,
        low=low,
        close=c,
        volume=F.when(is_inverse, quote_vol / avg_price).otherwise(quote_vol),
        period=F.regexp_extract(F.col("d.n"), "^([^_]*)_", 1),
        quote_volume=F.when(is_inverse, quote_vol)
        .otherwise(F.lit(None).cast("double")),
    )
    return spot_out.unionByName(deriv_out)
