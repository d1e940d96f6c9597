"""Structured Streaming variants of the engine's operators (SURVEY §2.9).

The parse stage is stateless per-row, so the exact same column pipelines run
under readStream unchanged; windowed aggregations add watermarks; keyed
state uses applyInPandasWithState (the gate-swap-style per-symbol state of
SURVEY §2.9 — the one operator family Catalyst can't express).

Batch/stream parity is the test contract: every streaming job here has a
batch twin in the registry and tests assert equal results under
Trigger.availableNow.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema pinned — streaming
    sources never infer)."""
    return (
        spark.readStream.schema(EVENTS_DDL)
        .parquet(f"{sf_dir}")
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Watermarked hourly tumbling-window counts per event type; the
    streaming twin of the same batch groupBy."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


def run_available_now(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Drain an aggregating stream with Trigger.availableNow into a memory
    sink (complete mode) and return the materialized result."""
    from crypto_msg_parser_spark.session import drain_available_now

    return drain_available_now(
        stream_df.sparkSession, stream_df, output_mode="complete", name=query_name
    )


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Keyed running totals via applyInPandasWithState — the
    per-key-state shape of the reference's gate_swap PRICE_HASHMAP
    (gate/gate_swap.rs:268-271): state persists across micro-batches."""

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            [{"user_id": user_id, "n_events": n, "total_value": total}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


RAW_MSG_DDL = (
    "msg_id string, exchange string, market_type string, msg_type string, "
    "received_at bigint, msg string"
)


def stream_raw_messages(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a raw-message parquet directory (the shape
    the crawl's fetch stage lands)."""
    return spark.readStream.schema(RAW_MSG_DDL).parquet(src_dir)


def gate_futures_l2_stateful(raw: DataFrame) -> DataFrame:
    """Streaming realization of the reference's ONE stateful operator —
    gate futures.order_book deltas whose s==0 deletions route by the
    remembered side of the price (gate/gate_swap.rs:268-271,355-380).

    Per-symbol price->is_ask state persists ACROSS micro-batches via
    applyInPandasWithState (SURVEY §2.9); the replay logic is byte-shared
    with the batch applyInPandas path (parser/gate._replay_futures_update),
    so batch/stream parity is structural, not re-implemented."""
    import json as _json

    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from crypto_msg_parser_spark.parser.common import data_json
    from crypto_msg_parser_spark.parser.gate import _replay_futures_update

    ev = F.get_json_object("msg", "$.event")
    upd = (
        raw.filter(
            (F.col("exchange") == "gate")
            & (F.get_json_object("msg", "$.channel") == "futures.order_book")
            & (ev == "update")
        )
        .withColumn(
            "state_key",
            F.coalesce(
                F.get_json_object("msg", "$.result[0].contract"),
                F.get_json_object("msg", "$.result[0].c"),
            ),
        )
    )

    out_ddl = (
        "symbol string, market_type string, timestamp bigint, "
        "n_asks int, n_bids int, asks_json string, bids_json string"
    )

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cv = data_json("gate_contract_values.json")
        if state.exists:
            (blob,) = state.get
            price_side = dict(_json.loads(blob))
        else:
            price_side = {}
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["received_at", "msg_id"], kind="stable")
            for r in pdf.itertuples():
                rec = _replay_futures_update(
                    r.msg, r.market_type, price_side, cv
                )
                if rec is None:
                    continue
                rows.append(
                    {
                        "symbol": rec["symbol"],
                        "market_type": rec["market_type"],
                        "timestamp": rec["timestamp"],
                        "n_asks": len(rec["asks"]),
                        "n_bids": len(rec["bids"]),
                        "asks_json": _json.dumps(rec["asks"]),
                        "bids_json": _json.dumps(rec["bids"]),
                    }
                )
        state.update((_json.dumps(list(price_side.items())),))
        yield pd.DataFrame(
            rows,
            columns=[
                "symbol", "market_type", "timestamp",
                "n_asks", "n_bids", "asks_json", "bids_json",
            ],
        )

    return upd.groupBy("state_key").applyInPandasWithState(
        update,
        outputStructType=out_ddl,
        stateStructType="price_side string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def parse_trades_stream(raw: DataFrame) -> DataFrame:
    """The stateless parse stage under readStream, unchanged — the same
    Catalyst column pipeline runs in micro-batches (SURVEY §2.9)."""
    from crypto_msg_parser_spark.parser import api

    return api.parse_trade(raw)


FRONTIER_URLS_DDL = (
    "url string, host string, priority int, rate_budget_per_min int"
)


def stream_frontier_urls(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of discovered frontier URLs (a real crawl tails
    the discovery topic/table; schema matches crawl.seeds)."""
    return spark.readStream.schema(FRONTIER_URLS_DDL).parquet(src_dir)


def frontier_seen_stream(urls: DataFrame) -> DataFrame:
    """The URL-seen set as STREAMING keyed state: the batch
    `crawl.frontier.dedup_against_seen` anti-join becomes
    applyInPandasWithState per `rank_bucket`, so the seen-set partitioning
    is identical to the batch/Iceberg layout (bucket = top hash bits) and
    state never crosses executors. First occurrence of each canonical URL
    — within or across micro-batches — is emitted exactly once.

    State here is the exact 60-bit fingerprint set per bucket (list<long>),
    which is what the batch cuckoo layer stores too (crawl/cuckoo.py); at
    10^10-URL scale the same job runs with the RocksDB state store provider
    and this per-bucket list becomes its column family — the partitioning
    story is unchanged.
    """
    from crypto_msg_parser_spark.crawl.scheduler import prepare_frontier

    prepared = prepare_frontier(urls).select(
        "rank_bucket", "url_hash", "canonical"
    )

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (bucket,) = key
        seen = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            # vectorized: in-chunk first-occurrence, then the cross-batch
            # membership test against accumulated state
            pdf = pdf.drop_duplicates(subset=["url_hash"])
            fresh = pdf[~pdf["url_hash"].isin(seen)]
            if len(fresh):
                seen.update(int(h) for h in fresh["url_hash"])
                yield fresh[["rank_bucket", "url_hash", "canonical"]]
        state.update((sorted(seen),))

    return prepared.groupBy("rank_bucket").applyInPandasWithState(
        update,
        outputStructType="rank_bucket long, url_hash long, canonical string",
        stateStructType="hashes array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def crawl_stream_to_docs(urls: DataFrame) -> DataFrame:
    """End-to-end streaming crawl: URL stream -> keyed-state seen dedup ->
    fetch (mapInPandas) -> interleaved span documents, ready for a
    checkpointed table sink (parquet here; Iceberg in production — same
    `writeStream.toTable` call shape).

    The scheduler's (epoch, in_host_rank) are logical-batch constructs; a
    streaming fetch uses the FULL 60-bit url_hash as the per-URL sequence
    instead, so doc_id uniqueness is exactly the url_hash uniqueness the
    seen-set already relies on, and doc_ids are stable across
    retries/resumes (exactly-once with the file-sink commit log). (An
    earlier revision took url_hash % 1e6 here — birthday collisions at
    ~1.2k URLs/host silently merged distinct docs, breaking every
    downstream operator keyed on doc_id.)
    """
    from crypto_msg_parser_spark.crawl.canonicalize import url_host
    from crypto_msg_parser_spark.crawl.frontier import fetch_stub

    fresh = frontier_seen_stream(urls)
    scheduled = fresh.select(
        url_host(F.col("canonical")).alias("host"),
        F.lit(0).cast("long").alias("epoch"),
        F.col("url_hash").cast("long").alias("in_host_rank"),
        "canonical",
    )
    return fetch_stub(scheduled)


RATE_URLS_DDL = "url string, host string, url_hash long, batch_idx int"


def host_rate_limit_stream(urls: DataFrame, budget: int) -> DataFrame:
    """Per-host fetch-budget admission as STREAMING keyed state (the
    north-rule "per-exchange rate budgets" enforced across micro-batches):
    each host carries one integer of state — tokens used — and every URL
    is emitted with its admission verdict. Admission order is
    deterministic: (batch_idx, url_hash) — the batch index pins
    cross-micro-batch order (files arrive mtime-ordered under
    availableNow + maxFilesPerTrigger=1), the hash pins order within a
    batch, so a replay admits exactly the same URLs. Deferred URLs are
    emitted with allowed=false (a real crawler re-enqueues them for the
    next budget epoch); state is O(1) per host — nothing accumulates.
    """

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (host,) = key
        used = int(state.get[0]) if state.exists else 0
        # one logical micro-batch may arrive as several Arrow chunks:
        # concatenate before sorting or the within-batch order is lost
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["batch_idx", "url_hash"]).reset_index(drop=True)
        n = len(pdf)
        admit_n = max(0, min(n, budget - used))
        seq = [used + i + 1 for i in range(admit_n)] + [0] * (n - admit_n)
        pdf["admit_seq"] = pd.array(seq, dtype="int32")
        pdf["allowed"] = pdf["admit_seq"] > 0
        used += admit_n
        state.update((used,))
        yield pdf[["host", "url", "url_hash", "admit_seq", "allowed"]]

    return urls.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=(
            "host string, url string, url_hash long, "
            "admit_seq int, allowed boolean"
        ),
        stateStructType="used int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
