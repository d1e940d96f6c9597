"""Streaming/batch parity + keyed state + streaming parse."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F

from crypto_msg_parser_spark.parser import binance
from crypto_msg_parser_spark.streaming.jobs import (
    run_available_now,
    stream_events,
    tumbling_counts,
    user_totals_stateful,
)
from tests.conftest import SF_SMOKE
from tests.parser_util import fixtures_df, load_fixtures


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    # stream source dir containing just the events parquet
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "events.parquet")
    return str(d)


def test_tumbling_counts_stream_equals_batch(spark, events_dir):
    stream = tumbling_counts(stream_events(spark, events_dir))
    got = run_available_now(stream, "t_counts")
    batch = (
        spark.read.parquet(f"{events_dir}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_user_totals(spark, events_dir):
    ev = stream_events(spark, events_dir)
    q = (
        user_totals_stateful(ev)
        .writeStream.format("memory")
        .queryName("u_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emitted row per user == batch aggregate
    got = {
        r["user_id"]: (r["n_events"], round(r["total_value"], 6))
        for r in spark.sql("SELECT * FROM u_totals").collect()
    }
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in spark.read.parquet(f"{events_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == batch


def test_streaming_parse_trade(spark, tmp_path):
    """The stateless parse pipeline runs unchanged under readStream."""
    rows = load_fixtures("binance", "trade")
    rows = [r for r in rows if r["market_type"] != "european_option"]
    raw = fixtures_df(spark, rows)
    src = str(tmp_path / "raw_msgs")
    raw.write.parquet(src)
    stream = spark.readStream.schema(raw.schema).parquet(src)
    parsed = binance.parse_trade(stream)
    q = (
        parsed.writeStream.format("memory")
        .queryName("s_trades")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM s_trades").collect()
    want = binance.parse_trade(raw).collect()
    assert sorted(r["trade_id"] for r in got) == sorted(r["trade_id"] for r in want)
    assert len(got) == len(rows)


def test_gate_stateful_l2_stream_crosses_microbatches(spark, tmp_path):
    """The reference's one stateful operator under Structured Streaming:
    a deletion (s==0) arriving in a LATER micro-batch must route to the
    side remembered from an EARLIER one (gate_swap.rs:355-380)."""
    import json

    from pyspark.sql import types as T

    from crypto_msg_parser_spark.parser import gate
    from crypto_msg_parser_spark.schemas import RAW_MESSAGES_SCHEMA
    from crypto_msg_parser_spark.streaming.jobs import (
        gate_futures_l2_stateful,
        stream_raw_messages,
    )

    sym = "BTC_USD_20300101"
    msg1 = json.dumps(
        {
            "time": 1653810000,
            "channel": "futures.order_book",
            "event": "update",
            "result": [
                {"p": "100", "s": -5, "contract": sym},
                {"p": "99", "s": 3, "contract": sym},
            ],
        }
    )
    msg2 = json.dumps(
        {
            "time": 1653810060,
            "channel": "futures.order_book",
            "event": "update",
            "result": [
                {"p": "100", "s": 0, "contract": sym},
                {"p": "99", "s": 0, "contract": sym},
            ],
        }
    )

    def row(i, m):
        return (f"m{i}", "gate", "inverse_future", "l2_event", 1000 + i, m)

    d = tmp_path / "gate_stream"
    d.mkdir()
    spark.createDataFrame([row(1, msg1)], RAW_MESSAGES_SCHEMA).coalesce(
        1
    ).write.parquet(str(d / "b1"))
    spark.createDataFrame([row(2, msg2)], RAW_MESSAGES_SCHEMA).coalesce(
        1
    ).write.parquet(str(d / "b2"))
    # one file per micro-batch -> the deletion arrives with cold code but
    # warm STATE
    src = (
        spark.readStream.schema(
            "msg_id string, exchange string, market_type string,"
            " msg_type string, received_at bigint, msg string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "b*"))
    )
    q = (
        gate_futures_l2_stateful(src)
        .writeStream.format("memory")
        .queryName("gate_state")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["timestamp"]: r
        for r in spark.sql("SELECT * FROM gate_state").collect()
    }
    assert got[1653810000000]["n_asks"] == 1
    assert got[1653810000000]["n_bids"] == 1
    # the later deletions resolved via persisted state
    assert got[1653810060000]["n_asks"] == 1
    assert got[1653810060000]["n_bids"] == 1
    del_asks = json.loads(got[1653810060000]["asks_json"])
    assert del_asks[0]["price"] == 100.0
    assert del_asks[0]["quantity_contract"] == 0.0

    # batch twin over the same two messages agrees
    batch_raw = spark.createDataFrame(
        [row(1, msg1), row(2, msg2)], RAW_MESSAGES_SCHEMA
    )
    batch = [
        r.asDict(recursive=True)
        for r in gate.parse_l2(batch_raw).orderBy("timestamp").collect()
    ]
    assert [(len(b["asks"]), len(b["bids"])) for b in batch] == [(1, 1), (1, 1)]
    assert batch[1]["asks"][0]["price"] == 100.0


def test_frontier_seen_stream_dedups_across_microbatches(spark, tmp_path):
    """Streaming URL-seen state: a URL re-discovered in a LATER micro-batch
    must be suppressed by state from an EARLIER one, and the emitted set
    must equal the batch dedup of the union (batch/stream parity)."""
    from crypto_msg_parser_spark.crawl.scheduler import prepare_frontier
    from crypto_msg_parser_spark.streaming.jobs import (
        FRONTIER_URLS_DDL,
        frontier_seen_stream,
    )

    def row(u):
        return (u, "api.binance.com", 1, 600)

    b1 = [row("https://API.binance.com:443/a?x=1#f"), row("https://api.binance.com/b")]
    b2 = [
        row("https://api.binance.com/a?x=1"),  # canonical dup of b1[0]
        row("https://api.binance.com/c"),
        row("https://api.binance.com/c"),  # in-batch dup
    ]
    d = tmp_path / "urls"
    d.mkdir()
    spark.createDataFrame(b1, FRONTIER_URLS_DDL).coalesce(1).write.parquet(
        str(d / "b1")
    )
    spark.createDataFrame(b2, FRONTIER_URLS_DDL).coalesce(1).write.parquet(
        str(d / "b2")
    )

    src = (
        spark.readStream.schema(FRONTIER_URLS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "b*"))
    )
    q = (
        frontier_seen_stream(src)
        .writeStream.format("memory")
        .queryName("seen_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["rank_bucket"], r["url_hash"], r["canonical"])
        for r in spark.sql("SELECT * FROM seen_stream").collect()
    }

    batch = spark.createDataFrame(b1 + b2, FRONTIER_URLS_DDL)
    want = {
        (r["rank_bucket"], r["url_hash"], r["canonical"])
        for r in prepare_frontier(batch)
        .select("rank_bucket", "url_hash", "canonical")
        .distinct()
        .collect()
    }
    assert got == want and len(got) == 3


def test_crawl_stream_lands_interleaved_docs(spark, tmp_path):
    """Streaming crawl -> checkpointed parquet landing of interleaved span
    docs: cross-batch URL dups fetched once; landed spans satisfy the
    input_hint invariant (offsets ordered, text reassembles)."""
    import json

    from crypto_msg_parser_spark.streaming.jobs import (
        FRONTIER_URLS_DDL,
        crawl_stream_to_docs,
    )

    def row(u):
        return (u, "api.binance.com", 1, 600)

    b1 = [row("https://api.binance.com/a?x=1"), row("https://api.binance.com/b")]
    b2 = [row("https://API.binance.com:443/a?x=1#f"), row("https://api.binance.com/c")]
    d = tmp_path / "urls"
    d.mkdir()
    spark.createDataFrame(b1, FRONTIER_URLS_DDL).coalesce(1).write.parquet(
        str(d / "b1")
    )
    spark.createDataFrame(b2, FRONTIER_URLS_DDL).coalesce(1).write.parquet(
        str(d / "b2")
    )
    src = (
        spark.readStream.schema(FRONTIER_URLS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "b*"))
    )
    out, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    q = (
        crawl_stream_to_docs(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    docs = spark.read.parquet(out).collect()
    assert len(docs) == 3  # canonical dup fetched once
    for doc in docs:
        spans = doc["spans"]
        offsets = [s["offset"] for s in spans]
        assert offsets == sorted(offsets)
        body = "".join(s["text"] or "" for s in spans if s["kind"] == "text")
        payload = json.loads(body)  # reassembled text is the fetched body
        assert payload["host"] == "api.binance.com"
        for s in spans:
            if s["kind"] == "media":
                assert s["media_ref"] and s["text"] is None


def test_crawl_stream_resumes_from_checkpoint(spark, tmp_path):
    """North-rule resume: stop after batch 1, deliver a new file containing
    an already-seen URL plus a new one, restart from the SAME checkpoint —
    the restored keyed state must suppress the re-discovered URL and the
    sink must gain exactly one document."""
    from crypto_msg_parser_spark.streaming.jobs import (
        FRONTIER_URLS_DDL,
        crawl_stream_to_docs,
    )

    def row(u):
        return (u, "api.binance.com", 1, 600)

    d = tmp_path / "urls"
    d.mkdir()
    spark.createDataFrame(
        [row("https://api.binance.com/a"), row("https://api.binance.com/b")],
        FRONTIER_URLS_DDL,
    ).coalesce(1).write.parquet(str(d / "b1"))

    out, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")

    def run_once():
        src = (
            spark.readStream.schema(FRONTIER_URLS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d / "b*"))
        )
        q = (
            crawl_stream_to_docs(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run_once()
    assert spark.read.parquet(out).count() == 2

    # second run: one re-discovered URL + one genuinely new
    spark.createDataFrame(
        [row("https://api.binance.com/a"), row("https://api.binance.com/new")],
        FRONTIER_URLS_DDL,
    ).coalesce(1).write.parquet(str(d / "b2"))
    run_once()
    docs = spark.read.parquet(out)
    assert docs.count() == 3  # /a suppressed by RESTORED state
    assert docs.select("doc_id").distinct().count() == 3


def test_watermark_flusher_must_not_be_filtered_pre_agg(spark, tmp_path):
    """Pins the Catalyst trap stream_candles_1m works around: a
    deterministic Filter placed between withWatermark and a windowed
    aggregation is pushed BELOW the EventTimeWatermark node, so a
    sentinel "flusher" row meant to advance the watermark is deleted
    before the watermark node ever sees it (its micro-batch reports
    eventTime.max=None) and append mode never emits the trailing
    windows. The safe shape leaves the sentinel unfiltered — its own
    window sits past the final watermark and is never emitted, so it
    self-excludes. If a future Spark stops pushing filters through
    EventTimeWatermark, the `filtered` arm below starts emitting and
    this test flags the workaround as obsolete."""
    import glob
    import os
    import shutil
    import uuid

    t0 = 1_600_000_000_000  # ms

    def write_batch(subdir, rows, mtime):
        d = tmp_path / "tmpw"
        spark.createDataFrame(rows, "k string, ts long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        (pf,) = glob.glob(f"{d}/part-*.parquet")
        dest = tmp_path / "src" / subdir
        os.makedirs(tmp_path / "src", exist_ok=True)
        shutil.move(pf, str(dest))
        os.utime(dest, (mtime, mtime))

    # batch 0: two real events 10 min apart; batch 1: sentinel 3h later
    write_batch("0.parquet", [("a", t0), ("a", t0 + 600_000)], 1_700_000_000)
    write_batch("1.parquet", [("zzz", t0 + 10_800_000)], 1_700_000_010)

    def run(filter_sentinel: bool) -> int:
        src = (
            spark.readStream.schema("k string, ts long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "src"))
        )
        evt = src.select("k", F.timestamp_millis(F.col("ts")).alias("evt"))
        wm = evt.withWatermark("evt", "1 hour")
        if filter_sentinel:
            wm = wm.filter(F.col("k") != "zzz")  # the trap
        agg = wm.groupBy(F.window("evt", "1 minute"), F.col("k")).count()
        name = f"wmtrap_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return spark.table(name).count()

    # safe shape: both real windows flushed, sentinel window withheld
    assert run(filter_sentinel=False) == 2
    # trap shape: sentinel dies below the watermark node -> nothing flushes
    assert run(filter_sentinel=True) == 0


def test_stream_book_lww_merge_discriminates_arrival_order(spark):
    """Negative arm for stream_book_reconstruct: its three micro-batches
    interleave seq_ids (batch = (orderkey DIV 7) % 3), so a state update
    that overwrites a level in ARRIVAL order (batch order) instead of
    merging by LWW(seq) must disagree with the registered oracle's
    arg_max(qty, seq) book on at least one level. Pure closed-form
    simulation over the same lv rows — no streaming job needed; the
    registered row itself proves stream == LWW oracle."""
    import duckdb

    from crypto_msg_parser_spark.parser.queries import (
        _SQL_SPOT_SYMBOL,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    )
    rows = con.execute(
        f"""
        WITH src AS (SELECT {_SQL_SPOT_SYMBOL} AS symbol,
               l_orderkey*100 + l_linenumber AS seq,
               (l_orderkey // 7) % 3 AS batch_id,
               CAST(l_quantity AS DOUBLE) AS q
          FROM lineitem WHERE l_orderkey % 7 = 0)
        SELECT symbol, seq, batch_id, side, price, qty FROM (
          SELECT symbol, seq, batch_id, 'bid' AS side,
                 100 + ((seq*7)%100)*2*0.25 AS price,
                 CASE WHEN seq%10=3 THEN 0.0 ELSE q END AS qty FROM src
          UNION ALL
          SELECT symbol, seq, batch_id, 'bid',
                 100 + (((seq*11)%100)*2+1)*0.25,
                 CASE WHEN seq%10=3 THEN 0.0 ELSE q+1 END FROM src
          UNION ALL
          SELECT symbol, seq, batch_id, 'ask',
                 300 + ((seq*13)%100)*2*0.25,
                 CASE WHEN seq%10=3 THEN 0.0 ELSE q END FROM src
          UNION ALL
          SELECT symbol, seq, batch_id, 'ask',
                 300 + (((seq*17)%100)*2+1)*0.25,
                 CASE WHEN seq%10=3 THEN 0.0 ELSE q+1 END FROM src)
        ORDER BY batch_id, seq
        """
    ).fetchall()

    lww, naive = {}, {}
    for symbol, seq, batch_id, side, price, qty in rows:
        k = (symbol, side, price)
        cur = lww.get(k)
        if cur is None or seq > cur[1]:
            lww[k] = (qty, seq)
        naive[k] = (qty, seq)  # arrival order: later batch always wins

    lww_book = {k: v[0] for k, v in lww.items() if v[0] > 0}
    naive_book = {k: v[0] for k, v in naive.items() if v[0] > 0}
    assert lww_book != naive_book, (
        "batch interleaving no longer produces out-of-order updates — "
        "the streaming row has lost its discriminating power"
    )


def test_resync_protocol_discriminates_ignore_gap_client(spark):
    """Negative arm for stream_book_resync: a client that ignores the
    chain break (keeps applying whatever deltas arrive, never takes the
    snapshot) must end with a book DIFFERENT from the healed one —
    otherwise the punched hole changed nothing and the row cannot
    discriminate. Closed-form simulation over the same per-symbol k
    sequence; the registered row itself proves stream == healed oracle."""
    import duckdb

    from crypto_msg_parser_spark.parser.queries import (
        _RESYNC_GAP_SYMBOL,
        _SQL_SPOT_SYMBOL,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/lineitem.parquet')"
    )
    rows = con.execute(
        f"""
        WITH src AS (
          SELECT {_SQL_SPOT_SYMBOL} AS symbol,
                 row_number() OVER (
                   PARTITION BY {_SQL_SPOT_SYMBOL}
                   ORDER BY l_orderkey, l_linenumber, l_quantity) AS k,
                 CAST(l_quantity AS DOUBLE) AS q
          FROM lineitem WHERE l_orderkey % 7 = 0)
        SELECT symbol, k, q, max(k) OVER (PARTITION BY symbol) AS n
        FROM src WHERE symbol = '{_RESYNC_GAP_SYMBOL}' ORDER BY k
        """
    ).fetchall()
    n = rows[0][3]
    b0, b1 = (n * 2) // 5, (n * 7) // 10
    gap = set(range(b0 + 11, b0 + 31))

    def levels(k, q):
        out = []
        for side, mult, base, odd, qq in (
            ("bid", 7, 100, 0, q), ("bid", 11, 100, 1, q + 1),
            ("ask", 13, 300, 0, q), ("ask", 17, 300, 1, q + 1),
        ):
            price = base + ((k * mult) % 100 * 2 + odd) * 0.25
            out.append((side, price, 0.0 if k % 10 == 3 else qq))
        return out

    # healed truth: every message's levels, LWW by k
    truth = {}
    for _, k, q, _ in rows:
        for side, price, qty in levels(k, q):
            truth[(side, price)] = qty
    truth = {kk: v for kk, v in truth.items() if v > 0}

    # gap-ignoring client: applies every DELIVERED delta, no snapshot
    naive = {}
    for _, k, q, _ in rows:
        if k in gap:
            continue  # never delivered
        for side, price, qty in levels(k, q):
            naive[(side, price)] = qty
    naive = {kk: v for kk, v in naive.items() if v > 0}

    assert naive != truth, (
        "punched hole left no trace in the final book — the resync row "
        "has lost its discriminating power"
    )


def test_streaming_flag_matches_writestream_body():
    """Regression guard for the fake-warm bug: a row whose spark_fn runs a
    writeStream job returns its drained result, so bench.py must rebuild
    it every pass (``Query.streaming``) or min-of-3 records a ~0.02s
    re-drain of a cached frame. Detect streaming rows structurally (their
    function body references writeStream) and pin that, for every
    registered row, the flag says exactly that. A body that drains
    through session.drain_available_now runs a writeStream job too."""
    import inspect

    from crypto_msg_parser_spark.registry import all_queries

    def drains(fn):
        src = inspect.getsource(inspect.unwrap(fn))
        return "writeStream" in src or "drain_available_now" in src

    qs = all_queries()
    wrong = sorted(name for name, q in qs.items() if q.streaming != drains(q.spark_fn))
    assert not wrong, f"streaming flag disagrees with the body: {wrong}"
    assert any(q.streaming for q in qs.values())


@pytest.mark.parametrize("timeout", [0, 0.001])
def test_drain_timeout_stops_the_query_and_removes_its_dirs(
    spark, tmp_path, monkeypatch, timeout
):
    """A drain that has not finished within DRAIN_TIMEOUT_S raises instead
    of returning a partial memory sink; its query is stopped and its temp
    dirs are gone. awaitTermination refuses 0 itself; 1 ms times out."""
    import tempfile

    from crypto_msg_parser_spark import session

    monkeypatch.setattr(session, "DRAIN_TIMEOUT_S", timeout)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parts = [spark.range(3).toDF("id"), spark.range(3, 6).toDF("id")]
    with pytest.raises(ValueError if timeout == 0 else RuntimeError):
        session.drain_available_now(
            spark, parts, schema="id long", max_files_per_trigger=1
        )
    assert not spark.streams.active
    assert not list(tmp_path.iterdir())
