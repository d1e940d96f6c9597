"""Frontier seen-set, fetch stub, and checkpoint/resume (north_rule).

Seen-set design for 10^10 URLs:
  - exact layer: a table of (url_hash, canonical) partitioned by
    url_hash % P (P sized so each partition's hash set fits an executor);
    membership = left_anti join on (url_hash, canonical) — hash-collision
    safe because the canonical string is part of the key
  - probabilistic prefilter: a Bloom filter per partition built with
    df.stat.bloomFilter and applied executor-side via an Arrow-vectorized
    predicate, discarding the vast majority of already-seen URLs before the
    exact join shuffles anything (scale path; correctness never depends on
    it). On an Iceberg deployment this layer is the table's
    write.parquet.bloom-filter-enabled property instead (SURVEY §4).
  - checkpointing: frontier + seen-set written as parquet snapshots with a
    manifest JSON carrying per-partition lineage (rows, bytes, min/max hash)
    — the sandbox stand-in for Iceberg snapshot commits.

The fetch stage itself is sandbox-stubbed (no network): a deterministic
payload generator with the exact mapInPandas shape a real executor-side
HTTP fetcher has (batched, per-host budget-aware ordering, returns
interleaved text+media span documents per BASELINE.json input_hint).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crypto_msg_parser_spark.crawl.scheduler import schedule
from crypto_msg_parser_spark.schemas import DOCUMENTS_SCHEMA
from crypto_msg_parser_spark.sources.local import local_table


def dedup_against_seen(frontier: DataFrame, seen: DataFrame) -> DataFrame:
    """frontier rows whose (url_hash, canonical) is not in the seen set.

    When both sides carry the stored `rank_bucket` column (the Iceberg
    bucket(N, url_hash) layout, scheduler.bucketize), it is prepended to
    the join key: the bucket is a pure function of url_hash so the join
    semantics are unchanged, but co-partitioned inputs then satisfy the
    join's clustering requirement and the planner emits NO exchange —
    the anti-join is partition-local at any frontier size."""
    if "rank_bucket" in frontier.columns and "rank_bucket" in seen.columns:
        # hint("merge"): the co-partitioned SMJ is exchange-free and its
        # per-partition sorts parallelize; the planner's broadcast pick
        # would serialize on the driver-side hashed-relation build (a
        # fixed ~1s that flattens the N->4N scaling curve) and could not
        # exist at 10^10 seen rows anyway
        return frontier.join(
            seen.select("rank_bucket", "url_hash", "canonical").hint("merge"),
            ["rank_bucket", "url_hash", "canonical"],
            "left_anti",
        )
    return frontier.join(
        seen.select("url_hash", "canonical"), ["url_hash", "canonical"], "left_anti"
    )


def bloom_prefilter(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame,
    fpp: float = 0.01,
    coarsen: int = 0,
):
    """Scale-path prefilter: per-BUCKET Bloom filters over the seen-set
    hashes drop definite-unseen rows from the anti-join input. Never used
    for correctness decisions alone (false positives fall through to the
    exact join).

    Partition-local at any scale: filters are built one-per-rank_bucket
    executor-side (crawl/bloom.py) and applied by COGROUPING the frontier
    with the filter table on rank_bucket — each task sees one bucket's
    frontier rows plus that bucket's small filter. Nothing global is ever
    built, broadcast, or collected; at the 10^10-URL design point a single
    merged filter would be a ~12 GB driver allocation."""
    import numpy as np

    from crypto_msg_parser_spark.crawl.bloom import Bloom, build_bloom_buckets

    if "rank_bucket" not in frontier.columns or "rank_bucket" not in seen.columns:
        raise ValueError(
            "bloom_prefilter requires rank_bucket on both sides "
            "(canonicalize/schedule attach it at frontier ingest)"
        )
    # coarsen: see cuckoo_prefilter — filter granularity rank_bucket >> k
    fb = F.shiftright(F.col("rank_bucket"), coarsen).alias("_fbkt")
    frontier = frontier.withColumn("_fbkt", fb)
    blooms = build_bloom_buckets(
        seen.withColumn("_fbkt", fb), "_fbkt", "url_hash", fpp
    )
    # fresh StructType: .add() would MUTATE the DataFrame's cached schema
    out_schema = T.StructType(
        list(frontier.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def apply_fn(key, fdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if len(fdf) == 0:
            return pd.DataFrame(columns=[*fdf.columns, "maybe_seen"])
        out = fdf.copy()
        if len(bdf) == 0:  # no seen rows in this bucket: all new
            out["maybe_seen"] = False
            return out
        b = Bloom.from_state(bdf["m"].iloc[0], bdf["k"].iloc[0], bdf["bits"].iloc[0])
        out["maybe_seen"] = b.might_contain(
            fdf["url_hash"].to_numpy(dtype=np.int64)
        )
        return out

    # both outputs read one materialization: each would otherwise run the
    # filter build and the cogroup again
    flagged = (
        frontier.groupBy("_fbkt")
        .cogroup(blooms.groupBy("_fbkt"))
        .applyInPandas(apply_fn, out_schema)
    ).drop("_fbkt").localCheckpoint(eager=False)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    needs_check = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new, needs_check


def cuckoo_prefilter(
    spark: SparkSession, frontier: DataFrame, seen: DataFrame, coarsen: int = 0
):
    """Deletable twin of bloom_prefilter: per-bucket cuckoo filters
    (crawl/cuckoo.py), each frontier row probed against its bucket's filter
    row in Catalyst (cuckoo.might_contain_col). Same contract: no false
    negatives, false positives fall through to the exact join; unlike
    Bloom, the filter table supports retiring URLs in place
    (cuckoo_update_buckets) for recrawl/TTL eviction.

    The frontier left-joins the filter table on the bucket id with no
    hint: a filter row is ~10 bytes per seen URL, so at this size the
    planner broadcasts it (as in robots.apply_robots) and the frontier is
    not shuffled; at web scale the join shuffles on the bucket id. The
    flagged frame is materialized once and split, so the filters are built
    once per call.

    ``coarsen``: filter-layer granularity = rank_bucket >> coarsen. Each
    group of the build's grouped map has a fixed ~5-10 ms pandas overhead,
    so at small corpus sizes 1024 near-empty groups are pure overhead
    (measured ~10s at sf0.1); a coarse bucket is a contiguous run of
    storage buckets, so co-partitioning still holds. At the 10^10 design
    point use coarsen=0 (each storage bucket's filter is already
    ~GB-scale work)."""
    from crypto_msg_parser_spark.crawl.cuckoo import (
        build_cuckoo_buckets,
        might_contain_col,
    )

    if "rank_bucket" not in frontier.columns or "rank_bucket" not in seen.columns:
        raise ValueError("cuckoo_prefilter requires rank_bucket on both sides")
    fb = F.shiftright(F.col("rank_bucket"), coarsen).alias("_fbkt")
    filters = build_cuckoo_buckets(
        seen.withColumn("_fbkt", fb), "_fbkt", "url_hash"
    ).select(
        "_fbkt",
        F.col("m").alias("_cm"),
        F.col("table").alias("_ct"),
        F.col("overflow").alias("_co"),
    )
    hit = might_contain_col(
        F.col("url_hash"), F.col("_cm"), F.col("_ct"), F.col("_co")
    )
    flagged = (
        frontier.withColumn("_fbkt", fb)
        .join(filters, "_fbkt", "left")
        .withColumn("maybe_seen", F.coalesce(hit, F.lit(False)))
        .drop("_fbkt", "_cm", "_ct", "_co")
        .localCheckpoint(eager=False)
    )
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    needs_check = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new, needs_check


def fetch_stub(scheduled: DataFrame) -> DataFrame:
    """Deterministic stand-in for the executor-side HTTP fetch stage.

    Real deployment: same mapInPandas shape, but the inner loop issues
    pipelined HTTP requests with the polite client spec of the reference
    (10 s timeout, gzip, fixed UA — crypto-msg-parser/src/exchanges/
    utils.rs:8-24). Here it synthesizes an interleaved text+media span
    document per URL (kind/text/media_ref/offset), preserving the span-
    sequence invariant end-to-end."""

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            # column-tuple iteration, not pdf.iterrows(): iterrows builds a
            # Series per row (~10x slower); a real fetcher would assemble
            # response rows the same way around its HTTP loop
            for host, epoch, rank, canonical in zip(
                pdf["host"], pdf["epoch"], pdf["in_host_rank"], pdf["canonical"]
            ):
                doc_id = f"{host}:{epoch}:{rank}"
                body = json.dumps(
                    {"url": canonical, "host": host, "seq": int(rank)},
                    separators=(",", ":"),
                )
                mid = len(body) // 2
                spans = [
                    {"kind": "text", "text": body[:mid], "media_ref": None, "offset": 0},
                    {"kind": "text", "text": body[mid:], "media_ref": None, "offset": 1},
                ]
                if rank % 7 == 0:
                    spans.append(
                        {
                            "kind": "media",
                            "text": None,
                            "media_ref": f"media/{doc_id}.svg",
                            "offset": 2,
                        }
                    )
                rows.append({"doc_id": doc_id, "spans": spans})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return scheduled.mapInPandas(fetch, DOCUMENTS_SCHEMA)


def epoch_metrics(docs: DataFrame) -> dict:
    """Fetch-stage metrics for one crawl epoch, as one aggregation pass
    over the landed interleaved documents: doc/span counts by kind plus
    payload volume. Rides the checkpoint manifest so a resume can report
    cumulative fetch/parse progress (north-rule requirement)."""
    spans = docs.select(F.explode("spans").alias("s"))
    row = spans.agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum((F.col("s.kind") == "text").cast("long")).alias("n_text_spans"),
        F.sum((F.col("s.kind") == "media").cast("long")).alias("n_media_spans"),
        F.sum(F.length(F.coalesce(F.col("s.text"), F.lit("")))).alias(
            "text_chars"
        ),
    ).collect()[0]
    return {"n_docs": docs.count(), **{k: int(v or 0) for k, v in row.asDict().items()}}


class FrontierCheckpoint:
    """Parquet-snapshot checkpoint with per-partition lineage manifest —
    the sandbox stand-in for Iceberg snapshot commits."""

    def __init__(self, root: str):
        self.root = root

    def _snap_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.root, f"snapshot={snapshot_id}")

    def commit(
        self,
        spark: SparkSession,
        snapshot_id: str,
        frontier: DataFrame,
        seen: DataFrame,
        metrics: dict | None = None,
    ) -> dict:
        d = self._snap_dir(snapshot_id)
        frontier.write.mode("overwrite").parquet(os.path.join(d, "frontier"))
        seen.write.mode("overwrite").parquet(os.path.join(d, "seen"))
        lineage = (
            seen.groupBy(F.spark_partition_id().alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("url_hash").alias("min_hash"),
                F.max("url_hash").alias("max_hash"),
            )
            .collect()
        )
        manifest = {
            "snapshot_id": snapshot_id,
            "committed_at": time.time(),
            "frontier_rows": frontier.count(),
            "seen_rows": sum(r["rows"] for r in lineage),
            "partitions": [r.asDict() for r in lineage],
            # fetch/parse progress counters (epoch_metrics) so a resumed
            # job reports cumulative throughput, not just state sizes
            "metrics": metrics or {},
        }
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2, default=str)
        return manifest

    def restore(self, spark: SparkSession, snapshot_id: str):
        d = self._snap_dir(snapshot_id)
        with open(os.path.join(d, "manifest.json")) as f:
            manifest = json.load(f)
        frontier = spark.read.parquet(os.path.join(d, "frontier"))
        seen = spark.read.parquet(os.path.join(d, "seen"))
        return frontier, seen, manifest


def crawl_step(
    spark: SparkSession, frontier: DataFrame, seen: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One crawl epoch: dedup -> schedule -> fetch -> extend seen set.
    Returns (documents, new_urls_scheduled, new_seen)."""
    sched = schedule(frontier)
    new = dedup_against_seen(sched, seen)
    docs = fetch_stub(new)
    new_seen = seen.select("url_hash", "canonical").unionByName(
        new.select("url_hash", "canonical")
    )
    return docs, new, new_seen


def paginate_next_urls(responses: DataFrame, count: int = 500) -> DataFrame:
    """Paginated-scan expansion (SURVEY §2.1): the reference walks
    `instrument?...&start={n}&count=500` until a short page
    (crypto-msg-parser/src/exchanges/bitmex.rs:504-544). In the engine,
    pagination is ITERATIVE FRONTIER EXPANSION: each crawl round derives
    the next-page URL for every response that came back full, appends it
    to the frontier, and the seen-set naturally terminates the walk.

    responses: (url, host, priority, rate_budget_per_min, n_items) where
    url carries `start=<n>` — full pages (n_items == count) yield the URL
    with start advanced by count."""
    start = F.regexp_extract(F.col("url"), "[?&]start=([0-9]+)", 1).cast("long")
    next_url = F.regexp_replace(
        F.col("url"),
        "([?&])start=[0-9]+",
        F.concat(F.lit("$1start="), (start + count).cast("string")),
    )
    return responses.filter(F.col("n_items") == count).select(
        next_url.alias("url"),
        "host",
        "priority",
        "rate_budget_per_min",
    )


def crawl_paginated(
    spark: SparkSession,
    seeds: DataFrame,
    fetch_fn,
    count: int = 500,
    max_rounds: int = 64,
):
    """Iterative frontier expansion to a fixed point: schedule + dedup the
    frontier, fetch (fetch_fn returns (url, ..., n_items)), append the
    next-page URLs of full pages, repeat until no new URLs. max_rounds is
    a safety backstop, not the loop condition — termination comes from
    short pages + the seen set. Each round is one distributed job; the
    driver only checks an aggregate count (no row-level collect).

    Each round's result is materialized (localCheckpoint — the in-memory
    stand-in for the per-round Iceberg snapshot commit a production crawl
    makes anyway): without it the lineage doubles per round and round k
    re-executes all k-1 predecessors (measured: 7s, 28s, ~2min, ...)."""
    frontier = seeds
    seen = local_table(
        spark, [], "rank_bucket bigint, url_hash bigint, canonical string"
    )
    all_pages = []
    for _ in range(max_rounds):
        sched = schedule(frontier)
        new = dedup_against_seen(sched, seen).localCheckpoint(eager=True)
        if new.limit(1).count() == 0:
            break
        fetched = fetch_fn(new).localCheckpoint(eager=True)
        all_pages.append(fetched)
        seen = seen.unionByName(
            new.select("rank_bucket", "url_hash", "canonical")
        )
        frontier = paginate_next_urls(fetched, count)
    out = all_pages[0]
    for p in all_pages[1:]:
        out = out.unionByName(p)
    return out, seen
