"""parse_mixed: the reference fixtures, replicated and shuffled, through the
routing triple, parse functions on their msg_type slices, the parquet lake
and, for trades, the protobuf sink.

Set-up builds each plan once (``#build`` spans): route over the raw
messages, and, in the cold pass, each parse function over its slice of the
route output, materialized once in one partition. Every pass executes each
plan afresh (a new query over the same analyzed plan: optimized, planned
and run again, as a new batch would be), materializes its output, and
writes that output to the lake. Trades also go through the protobuf sink.
"""

from __future__ import annotations

import collections
import json
import pathlib

import pandas as pd
from pyspark.sql import functions as F

from crypto_msg_parser_spark import proto_sink, sinks
from crypto_msg_parser_spark.parser import api, binance
from crypto_msg_parser_spark.schemas import RAW_MESSAGES_SCHEMA

from perfbench import inputs

COPIES = 32
# layer -> (module, function, msg_type of its slice). The api functions
# dispatch to every exchange that implements them; trades go through the
# binance module alone, because api.parse_trade's 20 arms cost more cold
# plan build and drain than a run can hold (see README.md), and so do the
# other api.parse_* functions.
PARSERS = {
    "parser.api.parse_funding_rate": (api, "parse_funding_rate", "funding_rate"),
    "parser.api.parse_l2_snapshot": (api, "parse_l2_snapshot", "l2_snapshot"),
    "parser.binance.parse_trade": (binance, "parse_trade", "trade"),
}
TRADES = "parser.binance.parse_trade"
PROTO = "proto_sink.to_proto_trades"
PINNED = pathlib.Path(__file__).with_name("pinned_parse.json")

# REST snapshots carry no symbol; the crawler knows it from the request URL.
# The same table as tests/test_parser_l2_snapshot.py (None: embedded).
SNAPSHOT_SYMBOLS = {
    ("binance", "spot"): "BTCUSDT",
    ("binance", "linear_swap"): "BTCUSDT",
    ("binance", "linear_future"): "BTCUSDT_220930",
    ("bitfinex", "spot"): "tBTCUSD",
    ("bitfinex", "linear_swap"): "tBTCF0:USTF0",
    ("bitget", "spot"): "BTCUSDT_SPBL",
    ("bitget", "linear_swap"): "BTCUSDT_UMCBL",
    ("bitget", "inverse_swap"): "BTCUSD_DMCBL",
}
SNAPSHOT_EXCHANGES = ("binance", "bitfinex", "bitget")  # api.parse_l2_snapshot


def arms(layer: str) -> set[str]:
    """Exchange names whose rows the layer's parse function parses."""
    mod, fn, _ = PARSERS[layer]
    if mod is not api:
        return {mod.__name__.rsplit(".", 1)[1]}
    if fn == "parse_l2_snapshot":
        return set(SNAPSHOT_EXCHANGES)
    return {
        name
        for _, names, m in api._dispatch_arms()
        if hasattr(m, fn)
        for name in names
    }


def expected_split(rows) -> tuple[dict, dict, dict]:
    """Plain-Python split of the raw rows, per exchange: msgs in, msgs a
    parse function receives, msgs no parse function receives."""
    by_type = {msg_type: layer for layer, (_, _, msg_type) in PARSERS.items()}
    n_in, reach, unparsed = (collections.Counter() for _ in range(3))
    for _, ex, _, msg_type, _, _ in rows:
        n_in[ex] += 1
        layer = by_type.get(msg_type)
        if layer is not None and ex in arms(layer):
            reach[ex] += 1
        else:
            unparsed[ex] += 1
    return dict(n_in), dict(reach), dict(unparsed)


def content_table(df) -> dict[str, list[int]]:
    """'exchange|msg_type' -> [rows, hash]: an order-independent content
    hash over every column but the lake's day partition."""
    cols = sorted(c for c in df.columns if c != "dt")
    h = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))
    rows = df.groupBy("exchange", "msg_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")
    ).collect()
    return {f"{r['exchange']}|{r['msg_type']}": [int(r["n"]), int(r["h"])] for r in rows}


def check_content(got: dict, pinned: dict, copies: int) -> list[str]:
    """Each (exchange, msg_type) must hold ``copies`` x the one-copy rows
    and content hash."""
    want = {k: [n * copies, h * copies] for k, (n, h) in pinned.items()}
    return [
        f"{k}: got {got.get(k)} want {want.get(k)}"
        for k in sorted(set(got) | set(want))
        if got.get(k) != want.get(k)
    ]


def check_conservation(n_in: dict, n_reached: dict, n_unparsed: dict) -> list[str]:
    """Per exchange: msgs in = msgs reaching a parse function + msgs with
    no parser."""
    return [
        f"{ex}: in {n_in.get(ex, 0)} != parsed {n_reached.get(ex, 0)} + unparsed {n_unparsed.get(ex, 0)}"
        for ex in sorted(set(n_in) | set(n_reached) | set(n_unparsed))
        if n_in.get(ex, 0) != n_reached.get(ex, 0) + n_unparsed.get(ex, 0)
    ]


def drain(df):
    """Run ``df``'s plan as a new query and materialize its rows. A new
    Dataset over the same analyzed plan is optimized, planned and executed
    again; re-using ``df`` itself would re-use its finished shuffle and
    broadcast stages."""
    return df.select("*").localCheckpoint(eager=True)


class ParseMixed:
    # the first warm pass still runs much code the JIT has not compiled
    # yet: its work CPU was 10-25% above the next pass's
    warmup = 1
    passes = 2

    def __init__(self, spark, work: pathlib.Path, seed: int, copies: int = COPIES):
        self.spark = spark
        self.work = work
        self.copies = copies
        self.rows = inputs.parse_rows(seed, copies)
        self.input_sha = inputs.input_sha(self.rows)
        self.items = len(self.rows)
        self.raw = (
            spark.createDataFrame(
                pd.DataFrame(self.rows, columns=RAW_MESSAGES_SCHEMA.fieldNames()),
                RAW_MESSAGES_SCHEMA,
            )
            .repartition(spark.sparkContext.defaultParallelism)
            .localCheckpoint(eager=True)
        )
        self.plans: dict = {}
        self.slices: dict = {}
        self.out: dict = {}

    def build(self, tr) -> None:
        with tr.span("parser.api.route#build"):
            self.plans["route"] = api.route(self.raw)

    def _build_parsers(self, tr, routed) -> None:
        """Materialize each parse function's input once, its slice of the
        route output, and build the function's plan over it."""
        for layer, (mod, fn, msg_type) in PARSERS.items():
            sl = routed.filter(F.col("msg_type") == msg_type)
            if mod is not api:
                sl = sl.filter(F.col("exchange").isin(*arms(layer)))
            if fn == "parse_l2_snapshot":
                sym = F.lit(None).cast("string")
                for (ex, mt), s in SNAPSHOT_SYMBOLS.items():
                    sym = F.when((F.col("exchange") == ex) & (F.col("market_type") == mt),
                                 s).otherwise(sym)
                sl = sl.withColumn("routed_symbol", sym)
            self.slices[layer] = sl.coalesce(1).localCheckpoint(eager=True)
            with tr.span(f"{layer}#build"):
                self.plans[layer] = getattr(mod, fn)(self.slices[layer])

    def lake(self, layer: str) -> str:
        return str(self.work / "lake" / layer)

    def run(self, tr) -> None:
        for df in self.out.values():
            df.unpersist()
        out = {}
        with tr.span("parse.pass"):
            with tr.span("parser.api.route"):
                out["route"] = drain(self.plans["route"])
            if not self.slices:  # the set-up pass
                self._build_parsers(tr, out["route"])
            tr.count("parser.api.route.other_ratio",
                     lambda: out["route"].filter(F.col("routed_msg_type") == "other").count()
                     / self.items)
            for layer in PARSERS:
                with tr.span(layer):
                    out[layer] = drain(self.plans[layer])
                tr.count(f"{layer}.rows_out", out[layer].count)
                with tr.span("sinks.write_parquet_lake"):
                    sinks.write_parquet_lake(out[layer], self.lake(layer), mode="overwrite")
            with tr.span(PROTO):
                out[PROTO] = proto_sink.to_proto_trades(out[TRADES]).localCheckpoint(eager=True)
            tr.count(f"{PROTO}.rows_out", out[PROTO].count)
            files = [p for layer in PARSERS
                     for p in pathlib.Path(self.lake(layer)).rglob("*.parquet")]
            tr.count("sinks.write_parquet_lake.files", lambda: len(files))
            tr.count("sinks.write_parquet_lake.bytes",
                     lambda: sum(p.stat().st_size for p in files))
        self.out = out

    def observed(self) -> dict[str, dict[str, list[int]]]:
        """Per layer output: the lake of each parse function, and the
        protobuf payloads."""
        got = {layer: content_table(self.spark.read.parquet(self.lake(layer)))
               for layer in PARSERS}
        got[PROTO] = content_table(self.out[PROTO])
        return got

    def checks(self) -> dict[str, str | None]:
        res = {}
        pinned = json.loads(PINNED.read_text())
        observed = self.observed()
        for layer in [*PARSERS, PROTO]:
            bad = check_content(observed[layer], pinned[layer], self.copies)
            res[f"{layer}.rows_and_hash_equal_copies_x_pinned"] = "; ".join(bad) or None

        # what each parse function received: the rows of its slice that
        # it parses, counted from the slice it was given
        reached = collections.Counter()
        for layer in PARSERS:
            for r in (self.slices[layer].filter(F.col("exchange").isin(*arms(layer)))
                      .groupBy("exchange").count().collect()):
                reached[r["exchange"]] += r["count"]
        n_in, want_reach, unparsed = expected_split(self.rows)
        bad = check_conservation(n_in, reached, unparsed)
        if dict(reached) != want_reach:
            bad.append(f"reached {dict(reached)} != expected {want_reach}")
        res["conservation_per_exchange"] = "; ".join(bad) or None
        return res
