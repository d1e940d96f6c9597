"""Driver-checkable crawl-frontier queries (north_rule components).

URLs are synthesized deterministically from the part table in BOTH engines;
the Spark side runs the real canonicalizer/scheduler code paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_msg_parser_spark.crawl.canonicalize import (
    canonical_url,
    sql_canonical_url,
    sql_url_host,
    url_host,
)
from crypto_msg_parser_spark.crawl.scheduler import schedule
from crypto_msg_parser_spark.functions.scalar import stable_hash64
from crypto_msg_parser_spark.registry import query
from crypto_msg_parser_spark.session import await_drain, drain_available_now
from crypto_msg_parser_spark.sources.local import local_table
from crypto_msg_parser_spark.sources.testdata import load_table

# messy URL synthesis shared by both engines: mixed case, default port,
# unsorted query, fragment, trailing slash
_SQL_RAW_URL = (
    "'HTTPS://Api.Binance.COM:443/api/v3/Depth' "
    "|| CASE WHEN p_partkey % 4 = 0 THEN '/' ELSE '' END "
    "|| '?symbol=SYM' || CAST(p_partkey AS VARCHAR) || '&limit=' "
    "|| CAST(p_partkey % 5 AS VARCHAR) "
    "|| CASE WHEN p_partkey % 3 = 0 THEN '#frag' ELSE '' END"
)


def _raw_url():
    return F.concat(
        F.lit("HTTPS://Api.Binance.COM:443/api/v3/Depth"),
        F.when(F.col("p_partkey") % 4 == 0, "/").otherwise(""),
        F.lit("?symbol=SYM"),
        F.col("p_partkey").cast("string"),
        F.lit("&limit="),
        (F.col("p_partkey") % 5).cast("string"),
        F.when(F.col("p_partkey") % 3 == 0, "#frag").otherwise(""),
    )


@query(
    "url_canonicalize",
    oracle=f"""
    SELECT p_partkey,
           {sql_canonical_url(_SQL_RAW_URL)} AS canonical,
           {sql_url_host(_SQL_RAW_URL)} AS host
    FROM part
    """,
    doc="URL canonicalization: case-fold scheme/host, strip default port + "
    "fragment + trailing slash, bytewise-sort query params (seen-set key "
    "normalization, north_rule).",
)
def url_canonicalize(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    raw = _raw_url()
    return p.select(
        "p_partkey",
        canonical_url(raw).alias("canonical"),
        url_host(raw).alias("host"),
    )


# skewed host pick: 60% binance, 20% okx, rest spread (SURVEY §7.3 item 5)
_SQL_HOST = (
    "CASE WHEN p_partkey % 10 <= 5 THEN 'api.binance.com' "
    "WHEN p_partkey % 10 <= 7 THEN 'www.okx.com' "
    "WHEN p_partkey % 10 = 8 THEN 'api.huobi.pro' "
    "ELSE 'api.kraken.com' END"
)
_SQL_FRONTIER_URL = (
    "'https://' || " + _SQL_HOST + " || '/api/symbols?id=' || CAST(p_partkey AS VARCHAR)"
)


def _host(key=None):
    k = (F.col("p_partkey") if key is None else key) % 10
    return (
        F.when(k <= 5, "api.binance.com")
        .when(k <= 7, "www.okx.com")
        .when(k == 8, "api.huobi.pro")
        .otherwise("api.kraken.com")
    )


def _frontier_df(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.concat(
            F.lit("https://"),
            _host(),
            F.lit("/api/symbols?id="),
            F.col("p_partkey").cast("string"),
        ).alias("url"),
        _host().alias("host"),
        (F.col("p_partkey") % 3).cast("int").alias("priority"),
        F.lit(50).cast("int").alias("rate_budget_per_min"),
        F.col("p_partkey"),
    )


_SQL_HASH = "('0x' || substr(md5({expr}), 1, 15))::BIGINT"


@query(
    "frontier_seen_dedup",
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_FRONTIER_URL} AS canonical, {_SQL_HOST} AS host, p_partkey
      FROM part),
    seen AS (SELECT canonical FROM f WHERE p_partkey % 3 = 0)
    SELECT host, count(*) AS n_new
    FROM f
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.canonical = f.canonical)
    GROUP BY host
    """,
    doc="URL-seen-set dedup: hash-keyed left_anti join of the frontier "
    "against the seen table (exact layer; Bloom prefilter is the scale "
    "path in crawl/frontier.py).",
)
def frontier_seen_dedup(spark, sf_dir):
    f = _frontier_df(spark, sf_dir).withColumn(
        "canonical", canonical_url(F.col("url"))
    ).withColumn("url_hash", stable_hash64(F.col("canonical")))
    seen = f.filter(F.col("p_partkey") % 3 == 0).select("url_hash", "canonical")
    new = f.join(seen, ["url_hash", "canonical"], "left_anti")
    return new.groupBy("host").agg(F.count(F.lit(1)).alias("n_new"))


@query(
    "politeness_schedule",
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_FRONTIER_URL} AS url, {_SQL_HOST} AS host,
             p_partkey % 3 AS priority, 50 AS budget
      FROM part),
    c AS (
      SELECT {sql_canonical_url('url')} AS canonical, host, priority, budget,
             {_SQL_HASH.format(expr=sql_canonical_url("url"))} AS url_hash
      FROM f),
    r AS (
      SELECT canonical, host, url_hash,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority, url_hash, canonical)
               AS in_host_rank,
             budget
      FROM c)
    SELECT canonical, host, url_hash, in_host_rank,
           CAST((in_host_rank - 1) // budget AS BIGINT) AS epoch
    FROM r
    """,
    doc="politeness scheduler: per-host (priority, hash) ranking + epoch "
    "budgeting — the deterministic-visit-order core of the north rule "
    "(executable oracle: crawl/oracle_sim.py, equality-tested in "
    "tests/test_crawl.py).",
)
def politeness_schedule(spark, sf_dir):
    sched = schedule(_frontier_df(spark, sf_dir))
    return sched.select("canonical", "host", "url_hash", "in_host_rank", "epoch")


@query(
    "cuckoo_frontier_dedup",
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_FRONTIER_URL} AS canonical, {_SQL_HOST} AS host, p_partkey
      FROM part),
    seen AS (SELECT canonical FROM f WHERE p_partkey % 3 = 0)
    SELECT host, count(*) AS n_new
    FROM f
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.canonical = f.canonical)
    GROUP BY host
    """,
    doc="seen-set dedup through the per-bucket CUCKOO prefilter "
    "(deletable fingerprints) + exact anti-join backstop: probabilistic "
    "false positives fall through to the exact layer, so the outcome is "
    "deterministic and must equal the pure-SQL dedup. Same per-bucket "
    "filter table as the Bloom layer, probed in Catalyst through a join on "
    "the bucket id.",
)
def cuckoo_frontier_dedup(spark, sf_dir):
    from crypto_msg_parser_spark.crawl.frontier import (
        cuckoo_prefilter,
        dedup_against_seen,
    )
    from crypto_msg_parser_spark.crawl.scheduler import prepare_frontier

    # the prepared frontier feeds three consumers (filter build, the
    # prefilter's probe, the exact-join backstop); materialize the
    # regex-heavy canonicalization once
    f = (
        prepare_frontier(_frontier_df(spark, sf_dir))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    seen = f.filter(F.col("p_partkey") % 3 == 0).select(
        "rank_bucket", "url_hash", "canonical"
    )
    # coarsen=5 -> 32 filter groups: at sf-scale corpora 1024 near-empty
    # pandas groups of the build are fixed overhead; see cuckoo_prefilter
    definitely_new, needs_check = cuckoo_prefilter(spark, f, seen, coarsen=5)
    new = definitely_new.unionByName(dedup_against_seen(needs_check, seen))
    return new.groupBy("host").agg(F.count(F.lit(1)).alias("n_new"))


# robots.txt bodies the Spark side must parse with the real state machine;
# the oracle computes the expected outcome closed-form (huobi fully
# disallowed, okx crawl-delay clamps its budget to 30/min, the Googlebot
# decoy group must NOT leak into the * rules, kraken has no robots at all
# and crawls unrestricted)
_ROBOTS_BODIES = [
    (
        "api.binance.com",
        1000,
        "User-agent: Googlebot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /internal\n"
        # RFC 9309 longest-match trap: the wildcard Disallow matches every
        # frontier path, but the LONGER Allow overrides it — a naive
        # any-disallow-prefix matcher blocks all of binance and fails the
        # oracle; the correct longest-match verdict keeps it crawlable
        "Disallow: /api/*\nAllow: /api/symbols\n"
        "Disallow: /api/symbols/private\nCrawl-delay: 0.01\n",
    ),
    (
        "www.okx.com",
        1000,
        "User-agent: *\nCrawl-delay: 2\nDisallow: /admin\n",
    ),
    ("api.huobi.pro", 1000, "User-agent: *\nDisallow: /api\n"),
]


@query(
    "robots_gate",
    oracle=f"""
    WITH f AS (SELECT {_SQL_HOST} AS host FROM part)
    SELECT host, count(*) AS n_allowed,
           CASE host WHEN 'www.okx.com' THEN 30 ELSE 50 END
             AS effective_budget
    FROM f
    WHERE host <> 'api.huobi.pro'
    GROUP BY host
    """,
    doc="robots cache (SURVEY §2.9 crawl-state): codegen'd line-fold "
    "parse of each host's robots.txt (User-agent:* section state machine) "
    "-> broadcast-joined RFC 9309 longest-match Allow/Disallow verdict "
    "(wildcards + end anchors, greedy segment scan — no regex, no "
    "Python) + Crawl-delay politeness clamp. The binance body embeds a "
    "wildcard-Disallow/longer-Allow pair, so a matcher without "
    "longest-match precedence fails the oracle. The oracle is the closed "
    "form of the synthesized bodies.",
)
def robots_gate(spark, sf_dir):
    from crypto_msg_parser_spark.crawl.robots import (
        ROBOTS_FETCH_SCHEMA,
        apply_robots,
        parse_robots,
    )

    f = _frontier_df(spark, sf_dir)
    fetched = local_table(spark, _ROBOTS_BODIES, ROBOTS_FETCH_SCHEMA)
    out = apply_robots(f, parse_robots(fetched))
    return out.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_allowed"),
        F.min("rate_budget_per_min").cast("int").alias("effective_budget"),
    )


@query(
    "bloom_frontier_dedup",
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_FRONTIER_URL} AS canonical, {_SQL_HOST} AS host, p_partkey
      FROM part),
    seen AS (SELECT canonical FROM f WHERE p_partkey % 3 = 0)
    SELECT host, count(*) AS n_new
    FROM f
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.canonical = f.canonical)
    GROUP BY host
    """,
    doc="seen-set dedup through the per-bucket BLOOM prefilter + exact "
    "anti-join backstop (the hot-path twin of cuckoo_frontier_dedup; the "
    "Bloom layer cannot delete, which is why the cuckoo layer exists). "
    "Probabilistic false positives fall through to the exact layer, so "
    "the outcome is deterministic and must equal the pure-SQL dedup.",
)
def bloom_frontier_dedup(spark, sf_dir):
    from crypto_msg_parser_spark.crawl.frontier import (
        bloom_prefilter,
        dedup_against_seen,
    )
    from crypto_msg_parser_spark.crawl.scheduler import prepare_frontier

    f = (
        prepare_frontier(_frontier_df(spark, sf_dir))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    seen = f.filter(F.col("p_partkey") % 3 == 0).select(
        "rank_bucket", "url_hash", "canonical"
    )
    definitely_new, needs_check = bloom_prefilter(spark, f, seen, coarsen=5)
    new = definitely_new.unionByName(dedup_against_seen(needs_check, seen))
    return new.groupBy("host").agg(F.count(F.lit(1)).alias("n_new"))


# ------------------------------------------ checkpoint / resume row
#
# The north rule requires the crawl to be "resumable from checkpoint with
# per-partition lineage + metrics". FrontierCheckpoint (crawl/frontier.py)
# is pytest-covered; this query makes the full cycle a driver CORRECTNESS
# row: epoch 1 crawls the even half of the frontier, commits a parquet
# snapshot (seen set + lineage manifest + epoch metrics), the state is
# RESTORED from disk, and epoch 2 runs over the WHOLE frontier — the
# restored seen set must suppress every epoch-1 URL, so only the odd half
# fetches. Output folds in the manifest's committed seen_rows counter, so
# the manifest round-trip itself is oracle-checked.


@query(
    "frontier_checkpoint_resume",
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_FRONTIER_URL} AS canonical, {_SQL_HOST} AS host, p_partkey
      FROM part)
    SELECT host,
           count(*) AS n_new_epoch2,
           (SELECT count(*) FROM f WHERE p_partkey % 2 = 0)
             AS n_seen_at_checkpoint,
           (SELECT count(*) FROM f) AS n_seen_after_resume
    FROM f
    WHERE p_partkey % 2 = 1
    GROUP BY host
    """,
    doc="checkpoint/resume cycle as one verifiable row: epoch-1 crawl -> "
    "parquet snapshot commit (seen set + per-partition lineage manifest + "
    "epoch metrics) -> restore from disk -> epoch-2 crawl of the full "
    "frontier dedup'd against the RESTORED seen set. n_new_epoch2 proves "
    "the restored state suppresses epoch-1 URLs; n_seen_at_checkpoint "
    "comes out of the manifest JSON, proving the snapshot metadata "
    "round-trips; n_seen_after_resume counts the merged state.",
)
def frontier_checkpoint_resume(spark, sf_dir):
    import shutil
    import tempfile

    from crypto_msg_parser_spark.crawl.frontier import (
        FrontierCheckpoint,
        crawl_step,
        epoch_metrics,
    )

    full = _frontier_df(spark, sf_dir)
    empty_seen = local_table(spark, [], "url_hash bigint, canonical string")

    root = tempfile.mkdtemp(prefix="frontier_ckpt_")
    try:
        ckpt = FrontierCheckpoint(root)
        # epoch 1: even half
        docs1, new1, seen1 = crawl_step(
            spark, full.filter(F.col("p_partkey") % 2 == 0), empty_seen
        )
        manifest = ckpt.commit(
            spark, "epoch1", full, seen1, metrics=epoch_metrics(docs1)
        )
        # fresh read path: restore the committed state from disk
        _, seen_restored, m2 = ckpt.restore(spark, "epoch1")
        # explicit raise (not `assert`, which `python -O` strips): the
        # oracle-checked n_seen_at_checkpoint must come from a manifest
        # that actually round-tripped through the snapshot commit
        if m2["seen_rows"] != manifest["seen_rows"]:
            raise RuntimeError(
                "checkpoint manifest did not round-trip: restored "
                f"seen_rows={m2['seen_rows']!r} != committed "
                f"{manifest['seen_rows']!r}"
            )
        # epoch 2: whole frontier against the restored seen set
        _docs2, new2, seen2 = crawl_step(spark, full, seen_restored)
        n_after = seen2.count()  # bounded scalar, resume-progress metric
        out = (
            new2.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_new_epoch2"))
            .withColumn(
                "n_seen_at_checkpoint",
                F.lit(int(m2["seen_rows"])).cast("bigint"),
            )
            .withColumn(
                "n_seen_after_resume", F.lit(int(n_after)).cast("bigint")
            )
        )
        # materialize before the temp snapshot dir disappears
        rows = out.collect()
        return local_table(spark, rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------- streaming batch-twin row
#
# The streaming URL-seen keyed state (streaming/jobs.frontier_seen_stream)
# was pytest-only through round 2; this query replays the REAL streaming
# path — file-source micro-batches -> applyInPandasWithState per
# rank_bucket -> memory sink — and returns its materialized output, so the
# batch/stream parity claim becomes a driver CORRECTNESS row. URLs are
# synthesized with heavy duplication (p_partkey % 211) both within and
# across micro-batches (maxFilesPerTrigger splits the 8 source files into
# several batches), so the exactly-once-per-canonical contract is what the
# oracle checks, not a trivial distinct.

_SQL_DUP_URL = _SQL_FRONTIER_URL.replace("p_partkey", "(p_partkey % 211)")


@query(
    "frontier_seen_batch_replay",
    streaming=True,
    oracle=f"""
    SELECT canonical,
           ('0x' || substr(md5(canonical), 1, 15))::BIGINT AS url_hash
    FROM (SELECT DISTINCT {_SQL_DUP_URL} AS canonical FROM part)
    """,
    doc="STREAMING URL-seen set, driver-checked: the applyInPandasWithState "
    "keyed-state dedup (bucket = top hash bits, same layout as the batch "
    "seen-set) drained under Trigger.availableNow over multi-file "
    "micro-batches of a duplicate-heavy URL stream; emits each canonical "
    "URL exactly once across batches. Oracle = the distinct canonical set "
    "— batch/stream parity as a CORRECTNESS row (SURVEY §2.9).",
)
def frontier_seen_batch_replay(spark, sf_dir):
    from crypto_msg_parser_spark.streaming.jobs import (
        FRONTIER_URLS_DDL,
        frontier_seen_stream,
    )

    k = F.col("p_partkey") % 211
    p = load_table(spark, sf_dir, "part")
    urls = p.select(
        F.concat(
            F.lit("https://"),
            _host(k),
            F.lit("/api/symbols?id="),
            k.cast("string"),
        ).alias("url"),
        _host(k).alias("host"),
        (k % 3).cast("int").alias("priority"),
        F.lit(50).cast("int").alias("rate_budget_per_min"),
    )
    return drain_available_now(
        spark,
        urls.repartition(8),
        frontier_seen_stream,
        schema=FRONTIER_URLS_DDL,
        max_files_per_trigger=3,
        project=lambda sink: sink.select("canonical", "url_hash"),
        name="seen_replay",
    )


_SQL_DUP_HOST = _SQL_HOST.replace("p_partkey", "(p_partkey % 211)")


@query(
    "crawl_stream_docs_replay",
    streaming=True,
    oracle=f"""
    WITH seen AS (
      SELECT DISTINCT {_SQL_DUP_URL} AS canonical,
             {_SQL_DUP_HOST} AS host
      FROM part),
    r AS (
      SELECT canonical, host,
             ('0x' || substr(md5(canonical), 1, 15))::BIGINT AS rank
      FROM seen),
    b AS (
      SELECT host || ':0:' || CAST(rank AS VARCHAR) AS doc_id, rank,
             '{{"url":"' || canonical || '","host":"' || host
               || '","seq":' || CAST(rank AS VARCHAR) || '}}' AS body
      FROM r)
    SELECT doc_id,
           CAST(CASE WHEN rank % 7 = 0 THEN 3 ELSE 2 END AS BIGINT)
             AS n_spans,
           body AS reassembled,
           CASE WHEN rank % 7 = 0 THEN 'media/' || doc_id || '.svg'
                ELSE '' END AS media_ref
    FROM b
    """,
    doc="END-TO-END streaming crawl as a driver row (the axes A+B "
    "composition): duplicate-heavy URL stream -> keyed-state seen dedup "
    "(applyInPandasWithState) -> mapInPandas fetch -> INTERLEAVED span "
    "documents, drained under Trigger.availableNow, then the landed "
    "table's span-sequence invariant is checked by value: per doc the "
    "span count, the offset-ordered text reassembly (must equal the "
    "fetched body byte-for-byte), and the media ref. The oracle rebuilds "
    "every field in closed form from the seed construction — exactly-once "
    "dedup, doc_id = host:epoch:url_hash stability, span order, and the "
    "rank%7 media emission are all load-bearing.",
)
def crawl_stream_docs_replay(spark, sf_dir):
    from crypto_msg_parser_spark.streaming.jobs import (
        FRONTIER_URLS_DDL,
        crawl_stream_to_docs,
    )

    k = F.col("p_partkey") % 211
    p = load_table(spark, sf_dir, "part")
    urls = p.select(
        F.concat(
            F.lit("https://"),
            _host(k),
            F.lit("/api/symbols?id="),
            k.cast("string"),
        ).alias("url"),
        _host(k).alias("host"),
        (k % 3).cast("int").alias("priority"),
        F.lit(50).cast("int").alias("rate_budget_per_min"),
    )
    docs = drain_available_now(
        spark,
        urls.repartition(8),
        crawl_stream_to_docs,
        schema=FRONTIER_URLS_DDL,
        max_files_per_trigger=3,
        project=lambda sink: sink.select("doc_id", "spans"),
        name="docs_replay",
    )
    ex = docs.select("doc_id", F.explode("spans").alias("s"))
    item = F.struct(
        F.col("s.offset").alias("o"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("t"),
    )
    return ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(item)), lambda s: s["t"]
            ),
            "",
        ).alias("reassembled"),
        F.max(F.coalesce(F.col("s.media_ref"), F.lit(""))).alias(
            "media_ref"
        ),
    )


_SQL_E1_URL = _SQL_FRONTIER_URL.replace("p_partkey", "(p_partkey % 97)")
_SQL_E2_URL = _SQL_FRONTIER_URL.replace("p_partkey", "(p_partkey % 149)")


@query(
    "frontier_stream_resume",
    streaming=True,
    oracle=f"""
    WITH e1 AS (SELECT DISTINCT {_SQL_E1_URL} AS canonical FROM part),
    e2 AS (SELECT DISTINCT {_SQL_E2_URL} AS canonical FROM part)
    SELECT canonical,
           ('0x' || substr(md5(canonical), 1, 15))::BIGINT AS url_hash,
           CAST(CASE WHEN canonical IN (SELECT canonical FROM e1)
                THEN 1 ELSE 2 END AS INT) AS emitted_in_run
    FROM (SELECT canonical FROM e1 UNION SELECT canonical FROM e2)
    """,
    doc="STREAMING checkpoint/RESTART, driver-checked (north_rule "
    "'resumable from checkpoint' on the streaming path — the batch twin is "
    "frontier_checkpoint_resume): epoch-1 URL files stream through the "
    "keyed-state seen dedup into a PARQUET FILE SINK with a "
    "checkpointLocation; the query terminates, epoch-2 files (every "
    "epoch-1 URL again, plus never-seen ones) are appended to the source "
    "dir, and a NEW streaming query restarts on the SAME checkpoint. The "
    "restarted run must (a) skip the already-committed epoch-1 source "
    "files via the offset log, (b) rehydrate the per-bucket seen-set from "
    "the state store, so it emits ONLY the never-seen URLs — a cold state "
    "store would re-emit all 97 epoch-1 canonicals and fail the row "
    "count. Run tagging is in-plan: the file-sink commit log is read "
    "BETWEEN runs (localCheckpoint pins run-1's committed set) and "
    "left-joined after run 2. Oracle: epoch-1 distinct set tagged run 1, "
    "epoch-2-minus-epoch-1 tagged run 2.",
)
def frontier_stream_resume(spark, sf_dir):
    import shutil
    import tempfile

    from crypto_msg_parser_spark.streaming.jobs import (
        FRONTIER_URLS_DDL,
        frontier_seen_stream,
    )

    def epoch_urls(mod):
        k = F.col("p_partkey") % mod
        p = load_table(spark, sf_dir, "part")
        return p.select(
            F.concat(
                F.lit("https://"),
                _host(k),
                F.lit("/api/symbols?id="),
                k.cast("string"),
            ).alias("url"),
            _host(k).alias("host"),
            (k % 3).cast("int").alias("priority"),
            F.lit(50).cast("int").alias("rate_budget_per_min"),
        )

    src = tempfile.mkdtemp(prefix="resume_src_")
    ckpt = tempfile.mkdtemp(prefix="resume_ckpt_")
    out = tempfile.mkdtemp(prefix="resume_out_")

    def run_once():
        stream = (
            spark.readStream.schema(FRONTIER_URLS_DDL)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        await_drain(
            frontier_seen_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    try:
        epoch_urls(97).repartition(4).write.mode("append").parquet(src)
        run_once()
        # the file sink's _spark_metadata log makes this read exactly the
        # run-1 committed set; eager localCheckpoint pins it before run 2
        # appends more committed files under the same path
        run1 = (
            spark.read.parquet(out)
            .select("canonical", F.lit(1).alias("in_run1"))
            .localCheckpoint(eager=True)
        )
        epoch_urls(149).repartition(4).write.mode("append").parquet(src)
        run_once()
        both = spark.read.parquet(out).select("canonical", "url_hash")
        # pinned, so the dirs can go
        return both.join(run1, "canonical", "left").select(
            "canonical",
            "url_hash",
            F.coalesce(F.col("in_run1"), F.lit(2))
            .cast("int")
            .alias("emitted_in_run"),
        ).localCheckpoint(eager=True)
    finally:
        for d in (src, ckpt, out):
            shutil.rmtree(d, ignore_errors=True)


_RATE_BUDGET = 40


@query(
    "stream_rate_limit",
    streaming=True,
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_FRONTIER_URL} AS url, {_SQL_HOST} AS host,
             CAST(p_partkey % 3 AS INT) AS batch_idx
      FROM part),
    h AS (
      SELECT url, host, batch_idx,
             {_SQL_HASH.format(expr="url")} AS url_hash
      FROM f),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY host
                                   ORDER BY batch_idx, url_hash) AS rnk
      FROM h)
    SELECT host, url, url_hash,
           CAST(CASE WHEN rnk <= {_RATE_BUDGET} THEN rnk ELSE 0 END AS INT)
             AS admit_seq,
           (rnk <= {_RATE_BUDGET}) AS allowed
    FROM r
    """,
    doc="per-exchange rate budgets enforced as STREAMING keyed state "
    "(north_rule): the token-budget admission job drained under "
    "Trigger.availableNow over three mtime-ordered micro-batches; each "
    "host's O(1) used-token state persists across batches, admission "
    "order is pinned by (batch_idx, url_hash) so replays are exact. The "
    "oracle is the closed form: per-host row_number over the same order "
    "with the same budget. Batch/stream parity for the scheduler's "
    "budget arm as a CORRECTNESS row (the batch twin is "
    "politeness_schedule's epoch budgeting).",
)
def stream_rate_limit(spark, sf_dir):
    from crypto_msg_parser_spark.streaming.jobs import (
        RATE_URLS_DDL,
        host_rate_limit_stream,
    )

    f = _frontier_df(spark, sf_dir).select(
        "url",
        "host",
        stable_hash64(F.col("url")).alias("url_hash"),
        (F.col("p_partkey") % 3).cast("int").alias("batch_idx"),
    )
    return drain_available_now(
        spark,
        [f.filter(F.col("batch_idx") == i) for i in range(3)],
        lambda stream: host_rate_limit_stream(stream, _RATE_BUDGET),
        schema=RATE_URLS_DDL,
        max_files_per_trigger=1,
        project=lambda sink: sink.select(
            "host", "url", "url_hash", "admit_seq", "allowed"
        ),
        name="rate_limit",
    )


@query(
    "host_skew_stats",
    oracle=f"""
    WITH f AS (SELECT {_SQL_HOST} AS host FROM part),
    counts AS (SELECT host, count(*) AS n_urls FROM f GROUP BY host)
    SELECT host, n_urls,
           CAST(ceil(n_urls / 100.0) AS BIGINT) AS n_salts
    FROM counts
    """,
    doc="host-skew metrics + salt-factor assignment (salted host-hash "
    "partitioning kills the binance/okx hot keys, north_rule).",
)
def host_skew_stats(spark, sf_dir):
    f = _frontier_df(spark, sf_dir)
    return (
        f.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_urls"))
        .select(
            "host",
            "n_urls",
            F.ceil(F.col("n_urls") / 100.0).cast("long").alias("n_salts"),
        )
    )


def _sm_entry_sql(off: int) -> str:
    kk = f"(k + {off})"
    return (
        "'<url><loc>HTTPS://' || upper(host) || ':443/market/Depth?id=' || "
        f"CAST({kk} AS VARCHAR) || '&limit=5#frag</loc><lastmod>2024-' || "
        f"lpad(CAST({kk} % 12 + 1 AS VARCHAR), 2, '0') || '-' || "
        f"lpad(CAST({kk} % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod></url>'"
    )


@query(
    "sitemap_extract",
    oracle=f"""
    WITH base AS (SELECT p_partkey AS k, {_SQL_HOST} AS host FROM part),
    sm AS (
      SELECT host,
             '<urlset>' || {_sm_entry_sql(0)} || {_sm_entry_sql(1)}
                        || {_sm_entry_sql(2)} || '</urlset>' AS body
      FROM base),
    ex AS (
      SELECT host, unnest(regexp_extract_all(body, '<url>(.*?)</url>', 1)) AS u
      FROM sm),
    parsed AS (
      SELECT host,
             regexp_extract(u, '<loc>([^<]+)</loc>', 1) AS loc,
             regexp_extract(u, '<lastmod>([^<]+)</lastmod>', 1) AS lastmod
      FROM ex)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_entries,
           CAST(count(DISTINCT {sql_canonical_url("loc")}) AS BIGINT)
             AS n_distinct_urls,
           max(lastmod) AS latest_lastmod
    FROM parsed GROUP BY host
    """,
    doc="sitemap ingestion for frontier discovery: per-host sitemap XML "
    "pages (synthesized in-plan; consecutive pages overlap by 2 of 3 "
    "entries, locs carry case/default-port/fragment noise) -> "
    "regexp-extract <url> entries -> loc/lastmod parse -> canonicalize -> "
    "per-host distinct-URL count + freshness. The XML never leaves the "
    "row it arrived in (codegen'd regex, no Python, no pre-shuffle "
    "explode of the raw body); the only shuffle is the final partial-agg "
    "groupBy(host). Real crawls feed n_distinct_urls straight into the "
    "seen-set anti-join (frontier_seen_dedup).",
)
def sitemap_extract(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    host = _host()

    def entry(off: int):
        kk = k + off
        return F.concat(
            F.lit("<url><loc>HTTPS://"),
            F.upper(host),
            F.lit(":443/market/Depth?id="),
            kk.cast("string"),
            F.lit("&limit=5#frag</loc><lastmod>2024-"),
            F.lpad((kk % 12 + 1).cast("string"), 2, "0"),
            F.lit("-"),
            F.lpad((kk % 28 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod></url>"),
        )

    sm = p.select(
        host.alias("host"),
        F.concat(
            F.lit("<urlset>"), entry(0), entry(1), entry(2), F.lit("</urlset>")
        ).alias("body"),
    )
    ex = sm.select(
        "host",
        F.explode(
            F.regexp_extract_all("body", F.lit("<url>(.*?)</url>"), 1)
        ).alias("u"),
    )
    # canonicalize in a PROJECTION, not inside the distinct aggregate: an
    # aggregate expression bypasses whole-stage codegen's projection path,
    # so the big canonicalizer tree ran interpreted per row — measured
    # 11.6s -> 1.06s at sf0.1/32 for this one move
    parsed = ex.select(
        "host",
        canonical_url(F.regexp_extract("u", "<loc>([^<]+)</loc>", 1)).alias(
            "canon"
        ),
        F.regexp_extract("u", "<lastmod>([^<]+)</lastmod>", 1).alias("lastmod"),
    )
    return parsed.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.countDistinct("canon").alias("n_distinct_urls"),
        F.max("lastmod").alias("latest_lastmod"),
    )


@query(
    "redirect_resolve",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT p_partkey AS src,
             CASE WHEN p_partkey % 4 <> 0 THEN p_partkey - 1
                  ELSE p_partkey END AS nxt
      FROM part),
    walk AS (
      SELECT src, src AS cur, 0 AS hops FROM edges
      UNION ALL
      SELECT w.src, e.nxt, w.hops + 1
      FROM walk w JOIN edges e ON e.src = w.cur
      WHERE e.nxt <> w.cur),
    resolved AS (
      SELECT w.src, w.cur AS term, w.hops
      FROM walk w JOIN edges e ON e.src = w.cur
      WHERE e.nxt = w.cur)
    SELECT 'https://api.binance.com/r/' || CAST(src AS VARCHAR) AS url,
           'https://api.binance.com/r/' || CAST(term AS VARCHAR) AS terminal_url,
           CAST(hops AS BIGINT) AS hops
    FROM resolved
    """,
    doc="HTTP redirect-chain resolution over the frontier's 3xx map: "
    "pointer doubling (f := f o f each round, like the connected-"
    "components min-label trick) resolves chains of length L in O(log L) "
    "self-joins instead of L sequential ones — each round is one "
    "equi-join + a 1-row convergence scalar, so a 10-round budget covers "
    "chains to 2^10 at any corpus size. A redirect CYCLE never converges "
    "and is reported as RuntimeError at the iteration cap rather than "
    "silently mis-resolving. Oracle = an independent recursive-CTE walk.",
)
def redirect_resolve(spark, sf_dir, max_iters: int = 10,
                     checkpoint_dir: str | None = None):
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    edges = p.select(
        k.alias("src"),
        F.when(k % 4 != 0, k - 1).otherwise(k).alias("nxt"),
        F.when(k % 4 != 0, 1).otherwise(0).cast("long").alias("h"),
    )
    m = resolve_pointer_doubling(edges, max_iters, checkpoint_dir)
    pre = F.lit("https://api.binance.com/r/")
    return m.select(
        F.concat(pre, F.col("src").cast("string")).alias("url"),
        F.concat(pre, F.col("nxt").cast("string")).alias("terminal_url"),
        F.col("h").cast("long").alias("hops"),
    )


def resolve_pointer_doubling(edges, max_iters: int = 10,
                             checkpoint_dir: str | None = None):
    """Resolve a total (src -> nxt, h) one-step map to its fixpoint by
    pointer doubling. Contract: terminal nodes self-loop with h = 0
    (``nxt == src AND h == 0``), as the redirect map construction
    guarantees. Chains up to length 2^max_iters resolve (max_iters
    doublings); a redirect CYCLE raises at the cap.

    Convergence is detected DIRECTLY (round-3 ADVICE fix): after joining
    each row to its target's mapping, the map is at fixpoint iff every
    row's target is a true terminal (``b_nxt == nxt AND b_h == 0``), so no
    extra confirming round is needed and an already-resolved map returns
    immediately even with max_iters = 0. The h = 0 qualifier is what keeps
    cycle detection sound: a collapsed cycle also self-loops, but with an
    ever-DOUBLING h, so it never satisfies the terminal test and hits the
    RuntimeError cap instead of silently mis-resolving. The per-round
    convergence probe is a count on the same join the doubling step needs
    — one equi-join + one bounded scalar per round, no extra shuffle.
    """
    from crypto_msg_parser_spark.operators.dedup import _barrier

    m = _barrier(edges, checkpoint_dir)
    for it in range(max_iters + 1):
        b = m.select(
            F.col("src").alias("b_src"),
            F.col("nxt").alias("b_nxt"),
            F.col("h").alias("b_h"),
        )
        joined = m.join(b, F.col("nxt") == F.col("b_src"))
        # direct fixpoint probe (bounded scalar, loop control only):
        # unresolved rows are those whose target is not a true terminal
        unresolved = (
            joined.filter(
                (F.col("b_nxt") != F.col("nxt")) | (F.col("b_h") != 0)
            )
            .limit(1)
            .count()
        )
        if unresolved == 0:
            return m
        if it == max_iters:
            break
        m = _barrier(
            joined.select(
                "src",
                F.col("b_nxt").alias("nxt"),
                (F.col("h") + F.col("b_h")).alias("h"),
            ),
            checkpoint_dir,
        )
    raise RuntimeError(
        f"redirect_resolve: no fixpoint after {max_iters} doubling "
        "rounds — redirect cycle or chain longer than "
        f"2^{max_iters}; raise max_iters"
    )


@query(
    "recrawl_backoff",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey AS k, {_SQL_FRONTIER_URL} AS url FROM part),
    ep AS (
      SELECT k, url,
             md5(url || '#e0') AS h0,
             md5(url || CASE WHEN k % 3 = 0 THEN '#e1' ELSE '#e0' END) AS h1,
             (60 + 60 * (k % 5)) AS base_s
      FROM f)
    SELECT url,
           (h0 <> h1) AS changed,
           CAST(base_s AS BIGINT) AS old_interval_s,
           CAST(CASE WHEN h0 <> h1 THEN greatest(base_s // 2, 60)
                     ELSE least(base_s * 2, 86400) END AS BIGINT)
             AS new_interval_s,
           CAST(1700000000000 + 1000 * CASE WHEN h0 <> h1
                     THEN greatest(base_s // 2, 60)
                     ELSE least(base_s * 2, 86400) END AS BIGINT)
             AS next_fetch_ms
    FROM ep
    """,
    doc="freshness-driven recrawl scheduling (Cho & Garcia-Molina style "
    "multiplicative backoff): compare the content fingerprint of the last "
    "two crawl epochs per URL; a change halves the recrawl interval "
    "(floor 60 s), no change doubles it (cap 1 day), and the next-fetch "
    "timestamp feeds straight back into the politeness scheduler. Pure "
    "per-row column math over the frontier — no shuffle, codegen'd.",
)
def recrawl_backoff(spark, sf_dir):
    f = _frontier_df(spark, sf_dir)
    k = F.col("p_partkey")
    h0 = F.md5(F.concat(F.col("url"), F.lit("#e0")))
    h1 = F.md5(
        F.concat(
            F.col("url"),
            F.when(k % 3 == 0, F.lit("#e1")).otherwise(F.lit("#e0")),
        )
    )
    base = F.lit(60) + F.lit(60) * (k % 5)
    ep = f.select(
        "url",
        (h0 != h1).alias("changed"),
        base.cast("long").alias("old_interval_s"),
    )
    new_s = (
        F.when(
            F.col("changed"),
            F.greatest(F.floor(F.col("old_interval_s") / 2), F.lit(60)),
        )
        .otherwise(F.least(F.col("old_interval_s") * 2, F.lit(86400)))
        .cast("long")
    )
    return ep.select(
        "url",
        "changed",
        "old_interval_s",
        new_s.alias("new_interval_s"),
        (F.lit(1700000000000) + F.lit(1000) * new_s)
        .cast("long")
        .alias("next_fetch_ms"),
    )


_PR_ITERS = 3
_PR_SCALE = 1_000_000  # rank unit = 1e-6 ("micro-rank"); all math integer


def _sql_pr_edges() -> str:
    n = "(SELECT count(*) FROM part)"
    return (
        f"SELECT p_partkey AS src, (p_partkey + 1) % {n} AS dst FROM part "
        f"UNION ALL "
        f"SELECT p_partkey, (p_partkey * 7 + 3) % {n} FROM part"
    )


def _sql_pr_oracle() -> str:
    ctes = [f"e AS ({_sql_pr_edges()})",
            f"r0 AS (SELECT p_partkey AS node, {_PR_SCALE} AS r FROM part)"]
    for i in range(_PR_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT e.dst AS node, "
            f"150000 + (17 * sum(p.r // 2)) // 20 AS r "
            f"FROM e JOIN r{i} p ON p.node = e.src GROUP BY e.dst)"
        )
    return (
        "WITH " + ", ".join(ctes) +
        f" SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r{_PR_ITERS}"
    )


@query(
    "pagerank_priority",
    oracle=_sql_pr_oracle(),
    doc="link-analysis crawl prioritization: PageRank over the frontier's "
    "link graph (PageRank-ordered crawling is the published baseline for "
    "frontier scheduling — Cho/Garcia-Molina/Page crawl-ordering study), "
    f"{_PR_ITERS} power iterations, damping 0.85. All arithmetic is "
    "INTEGER micro-rank units (r//outdeg per edge, 17*sum//20 damping): "
    "integer sums are associative, so the result is bit-identical in any "
    "engine and under any Spark partial-agg order — the float version "
    "would drift in the last ulp and fail a value-hash compare. Each "
    "iteration = one equi-join + partial-agg groupBy on dst; the rank "
    "table is (node, long), never collected. The synthetic graph gives "
    "every node out-degree 2 and >=1 in-edge ((k+1) mod n is a bijection) "
    "so no dangling-mass term is needed.",
)
def pagerank_priority(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    n = p.count()  # plan literal, same convention as tfidf's corpus size
    k = F.col("p_partkey")
    edges = p.select(
        k.alias("src"), ((k + 1) % n).alias("dst")
    ).unionAll(p.select(k.alias("src"), ((k * 7 + 3) % n).alias("dst")))
    r = p.select(k.alias("node"), F.lit(_PR_SCALE).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        r = (
            edges.join(r, edges["src"] == r["node"])
            .groupBy("dst")
            .agg(F.sum(F.expr("r DIV 2")).alias("m"))
            .select(
                F.col("dst").alias("node"),
                F.expr("CAST(150000 + (17 * m) DIV 20 AS LONG)").alias("r"),
            )
        )
    return r.select("node", F.col("r").alias("rank_micro"))


# Sitemap: directives live OUTSIDE user-agent groups (RFC 9309 §2.3 allows
# them anywhere); the rule-group parser ignores them, this row extracts
# them. Bodies kept separate from _ROBOTS_BODIES so the gate oracle's
# closed form stays untouched.
_ROBOTS_SITEMAP_BODIES = [
    (
        "api.binance.com",
        1000,
        "User-agent: *\nDisallow: /internal\n"
        "Sitemap: HTTPS://Api.Binance.COM:443/sitemap.xml\n"
        "sitemap: https://api.binance.com/sitemap-alt.xml#frag\n",
    ),
    (
        "www.okx.com",
        1000,
        "Sitemap: https://www.okx.com/sitemap.xml\n"
        "User-agent: *\nDisallow: /admin\n",
    ),
    (
        "api.huobi.pro",
        1000,
        # exotic casings: RFC 9309 field names are fully case-insensitive
        "User-agent: *\nDisallow: /api\n"
        "SITEMAP: https://api.huobi.pro/sitemap.xml\n"
        "SiteMap: https://api.huobi.pro/sitemap2.xml\n",
    ),
]


@query(
    "robots_sitemap_discovery",
    oracle="""
    SELECT * FROM (VALUES
      ('api.binance.com', 0, 'https://api.binance.com/sitemap.xml'),
      ('api.binance.com', 1, 'https://api.binance.com/sitemap-alt.xml'),
      ('www.okx.com', 0, 'https://www.okx.com/sitemap.xml'),
      ('api.huobi.pro', 0, 'https://api.huobi.pro/sitemap.xml'),
      ('api.huobi.pro', 1, 'https://api.huobi.pro/sitemap2.xml'))
    AS t(host, position, sitemap_url)
    """,
    doc="Sitemap: directive discovery from robots.txt (RFC 9309 §2.3 — "
    "the line is group-independent and case-insensitive on the field "
    "name): multiline regexp extraction per body, order-preserving "
    "posexplode, then the standard canonicalizer (case-fold, default "
    "port, fragment) so discovered sitemap URLs enter the SAME seen-set "
    "keyspace as crawled URLs — the handoff edge between the robots "
    "cache and sitemap_extract. Oracle = the closed form of the "
    "synthesized bodies (same convention as robots_gate).",
)
def robots_sitemap_discovery(spark, sf_dir):
    from crypto_msg_parser_spark.crawl.robots import ROBOTS_FETCH_SCHEMA

    fetched = local_table(spark, _ROBOTS_SITEMAP_BODIES, ROBOTS_FETCH_SCHEMA)
    # (?i) — RFC 9309 field names are FULLY case-insensitive ('SITEMAP:',
    # 'SiteMap:' included), not just the two common casings
    maps = F.regexp_extract_all(
        "body", F.lit(r"(?mi)^sitemap:[ \t]*([^\r\n]+)"), 1
    )
    ex = fetched.select("host", F.posexplode(maps).alias("position", "raw"))
    return ex.select(
        "host", "position", canonical_url(F.col("raw")).alias("sitemap_url")
    )


_CB_THRESHOLD = 5  # consecutive failures that open the circuit


@query(
    "host_circuit_breaker",
    oracle=f"""
    WITH f AS (
      SELECT {_SQL_HOST} AS host, p_partkey AS k,
             (('0x' || substr(md5(CAST(p_partkey AS VARCHAR) || '#cb'), 1, 15))
                ::BIGINT % 7 = 0
              OR (p_partkey >= 100 AND p_partkey < 110)) AS failed
      FROM part),
    r AS (
      SELECT host, k, failed,
             row_number() OVER (PARTITION BY host ORDER BY k) AS rn,
             row_number() OVER (PARTITION BY host, failed ORDER BY k) AS rn_s
      FROM f),
    runs AS (
      SELECT host, CAST(count(*) AS BIGINT) AS run_len
      FROM r WHERE failed GROUP BY host, rn - rn_s)
    SELECT f.host,
           CAST(count(*) AS BIGINT) AS n_fetches,
           CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
           coalesce((SELECT CAST(max(run_len) AS BIGINT) FROM runs
                     WHERE runs.host = f.host), 0) AS max_consec_errors,
           coalesce((SELECT max(run_len) FROM runs
                     WHERE runs.host = f.host), 0) >= {_CB_THRESHOLD}
             AS circuit_open
    FROM f GROUP BY f.host
    """,
    doc="per-host fetch circuit breaker — the error-budget arm of the "
    "politeness scheduler: consecutive-failure runs found with the "
    "gaps-and-islands difference-of-row_numbers idiom (two per-host "
    "windows, no iteration), breaker opens at 5 consecutive failures. "
    "Keys 100-109 carry a planted failure burst; in binance's own "
    "per-host sequence that is 6 consecutive failures (its keys 100-105) "
    "so ONLY its breaker opens — okx sees 2, below threshold; random "
    "failures alone (hash-seeded, rate 1/7) almost never produce 5 in a "
    "row. Per-host windows are the "
    "natural partitioning at crawl scale (millions of hosts); the "
    "4-host synthetic is the demo shape, same as politeness_schedule.",
)
def host_circuit_breaker(spark, sf_dir):
    from pyspark.sql.window import Window

    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    failed = (
        stable_hash64(F.concat(k.cast("string"), F.lit("#cb"))) % 7 == 0
    ) | ((k >= 100) & (k < 110))
    f = p.select(_host().alias("host"), k.alias("k"), failed.alias("failed"))
    rn = F.row_number().over(Window.partitionBy("host").orderBy("k"))
    rn_s = F.row_number().over(
        Window.partitionBy("host", "failed").orderBy("k")
    )
    r = f.select("*", rn.alias("rn"), rn_s.alias("rn_s"))
    runs = (
        r.filter("failed")
        .groupBy("host", (F.col("rn") - F.col("rn_s")).alias("_g"))
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("host")
        .agg(F.max("run_len").cast("long").alias("max_consec_errors"))
    )
    per_host = f.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.sum(F.col("failed").cast("long")).cast("long").alias("n_errors"),
    )
    return per_host.join(runs, "host", "left").select(
        "host",
        "n_fetches",
        "n_errors",
        F.coalesce("max_consec_errors", F.lit(0)).cast("long").alias(
            "max_consec_errors"
        ),
        (F.coalesce("max_consec_errors", F.lit(0)) >= _CB_THRESHOLD).alias(
            "circuit_open"
        ),
    )


# ------------------------------------------ composed crawl flagship
#
# The batch twin of crawl_stream_docs_replay and the crawl-tier sibling of
# web_corpus_prep_full / market_analytics_full: every steady-state frontier
# stage composed into ONE declarative plan, because stage COUPLING is what
# the per-stage rows cannot catch (a column one stage drops, a filter that
# migrates across another stage's window, a budget clamp applied before
# instead of after ranking).

_SFF_N = "(SELECT count(*) FROM part)"
_SFF_ITERS = 3


def _sql_schedule_full_oracle() -> str:
    ctes = [
        # link graph: chain edge (bijective, every node has an in-edge)
        # + a second edge for 3/4 of nodes -> in-degree 1..2 and MIXED
        # out-degrees, so the damped integer ranks split into four
        # distinct values (structural: same four at every sf) instead of
        # the uniform fixpoint of pagerank_priority's regular graph
        f"e AS (SELECT p_partkey AS src, (p_partkey + 1) % {_SFF_N} AS dst, "
        f"CASE WHEN p_partkey % 4 = 0 THEN 1 ELSE 2 END AS outdeg FROM part "
        f"UNION ALL SELECT p_partkey, (p_partkey * 7 + 3) % {_SFF_N}, 2 "
        f"FROM part WHERE p_partkey % 4 <> 0)",
        "r0 AS (SELECT p_partkey AS node, 1000000 AS r FROM part)",
    ]
    for i in range(_SFF_ITERS):
        ctes.append(
            f"r{i + 1} AS (SELECT e.dst AS node, "
            f"150000 + (17 * sum(p.r // e.outdeg)) // 20 AS r "
            f"FROM e JOIN r{i} p ON p.node = e.src GROUP BY e.dst)"
        )
    ctes += [
        f"f AS (SELECT {_SQL_FRONTIER_URL} AS url, {_SQL_HOST} AS host, "
        f"p_partkey FROM part)",
        f"c AS (SELECT {sql_canonical_url('url')} AS canonical, host, "
        f"p_partkey FROM f)",
        "h AS (SELECT canonical, host, p_partkey, "
        + _SQL_HASH.format(expr="canonical")
        + " AS url_hash FROM c)",
        "seen AS (SELECT canonical FROM h WHERE p_partkey % 3 = 0)",
        # robots closed form: huobi fully disallowed; binance kept by the
        # longest-match Allow over its wildcard Disallow; okx budget 30
        "new AS (SELECT * FROM h WHERE NOT EXISTS "
        "(SELECT 1 FROM seen s WHERE s.canonical = h.canonical) "
        "AND host <> 'api.huobi.pro')",
        f"pri AS (SELECT new.*, CAST(r.r AS BIGINT) AS rank_micro, "
        f"CASE WHEN r.r >= 1300000 THEN 0 WHEN r.r >= 700000 THEN 1 "
        f"ELSE 2 END AS priority "
        f"FROM new JOIN r{_SFF_ITERS} r ON r.node = new.p_partkey)",
        "rk AS (SELECT *, row_number() OVER (PARTITION BY host "
        "ORDER BY priority, url_hash, canonical) AS in_host_rank FROM pri)",
    ]
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT host, canonical, url_hash, rank_micro, "
        "CAST(priority AS INT) AS priority, "
        "CAST(in_host_rank AS INT) AS in_host_rank, "
        "CAST((in_host_rank - 1) // "
        "(CASE host WHEN 'www.okx.com' THEN 30 ELSE 50 END) AS BIGINT) "
        "AS epoch FROM rk"
    )


@query(
    "crawl_schedule_full",
    oracle=_sql_schedule_full_oracle(),
    doc="COMPOSED batch crawl-scheduling flagship, ONE declarative plan: "
    "canonicalize -> seen-set anti-join -> RFC 9309 robots gate (real "
    "state-machine parse of the synthesized bodies; the binance "
    "wildcard-Disallow/longer-Allow trap must resolve ALLOW inside the "
    "composition) -> integer-PageRank priority tiers (Cho/Garcia-Molina "
    "crawl-ordering baseline; micro-rank units so partial-agg order "
    "cannot drift the hash; the graph mixes out-degrees 1 and 2 so the "
    "ranks split into four structural values -> tiers 0/1/2 by fixed "
    "thresholds) -> two-level politeness ranking + epoch budgeting with "
    "the robots-CLAMPED budget (okx crawl-delay 2 -> 30/min; a plan that "
    "ranks before clamping, or clamps before the robots filter, fails "
    "the epoch column). Scale shape: 3 equi-join+partial-agg rank "
    "iterations over the edge table; one anti-join on the bucketed "
    "url_hash key; robots rules join on host (AQE side-pick, unbounded-"
    "safe); the priority join keys on the frontier id — in a real "
    "deployment the rank table is materialized frontier state bucketed "
    "by the SAME key, making it exchange-free; scheduler window is "
    "per (host, priority, rank_bucket) with broadcast cumulative "
    "offsets (bounded-hosts contract, scheduler.py:115-122). The oracle "
    "is the full closed-form recomputation of every stage in DuckDB.",
)
def crawl_schedule_full(spark, sf_dir):
    from crypto_msg_parser_spark.crawl.frontier import dedup_against_seen
    from crypto_msg_parser_spark.crawl.robots import (
        ROBOTS_FETCH_SCHEMA,
        apply_robots,
        parse_robots,
    )
    from crypto_msg_parser_spark.crawl.scheduler import prepare_frontier, schedule

    p = load_table(spark, sf_dir, "part")
    n = p.count()  # plan literal, same convention as pagerank_priority
    k = F.col("p_partkey")
    chain = p.select(
        k.alias("src"),
        ((k + 1) % n).alias("dst"),
        F.when(k % 4 == 0, 1).otherwise(2).alias("outdeg"),
    )
    extra = p.filter(k % 4 != 0).select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst"), F.lit(2).alias("outdeg")
    )
    edges = chain.unionAll(extra)
    rank = p.select(k.alias("node"), F.lit(1_000_000).cast("long").alias("r"))
    for _ in range(_SFF_ITERS):
        rank = (
            edges.join(rank, edges["src"] == rank["node"])
            .groupBy("dst")
            .agg(F.sum(F.expr("r DIV outdeg")).alias("m"))
            .select(
                F.col("dst").alias("node"),
                F.expr("CAST(150000 + (17 * m) DIV 20 AS LONG)").alias("r"),
            )
        )
    prio = rank.select(
        "node",
        F.col("r").alias("rank_micro"),
        F.when(F.col("r") >= 1_300_000, 0)
        .when(F.col("r") >= 700_000, 1)
        .otherwise(2)
        .cast("int")
        .alias("priority"),
    )

    f = prepare_frontier(_frontier_df(spark, sf_dir).drop("priority"))
    seen = f.filter(k % 3 == 0).select("rank_bucket", "url_hash", "canonical")
    new = dedup_against_seen(f, seen)
    fetched = local_table(spark, _ROBOTS_BODIES, ROBOTS_FETCH_SCHEMA)
    gated = apply_robots(new, parse_robots(fetched))
    ready = gated.join(prio, gated["p_partkey"] == prio["node"]).drop("node")
    sched = schedule(ready)
    return sched.select(
        "host",
        "canonical",
        "url_hash",
        "rank_micro",
        "priority",
        "in_host_rank",
        "epoch",
    )


# ------------------------------------------ link discovery handoff
#
# The crawl x interleaved bridge: fetched documents are the SOURCE of new
# frontier URLs. Anchor extraction happens in-row (codegen regex over the
# synthesized HTML-ish body), resolution + canonicalization in a
# projection, and only then does data shuffle — once for the seen-set
# anti-join, once for the host-graph edge aggregate.

_OLH_HOSTS = (
    "news.example.org",
    "blog.example.net",
    "wiki.example.com",
    "shop.example.io",
)
_SQL_OLH_N = "(SELECT count(*) FROM documents)"


def _olh_sql_host(expr: str) -> str:
    cases = " ".join(
        f"WHEN {expr} % 4 = {i} THEN '{h}'" for i, h in enumerate(_OLH_HOSTS)
    )
    return f"CASE {cases} END"


def _olh_host(col):
    k = col % 4
    out = F.when(k == 0, _OLH_HOSTS[0])
    for i, h in enumerate(_OLH_HOSTS[1:], start=1):
        out = out.when(k == i, h)
    return out


@query(
    "outlink_frontier_handoff",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_olh_sql_host('doc_id')} AS src_host,
             text
             || '<a href="HTTPS://News.Example.ORG:443/article?id='
             || CAST(doc_id * 3 % {_SQL_OLH_N} AS VARCHAR) || '#top">a</a>'
             || '<a href="/doc/'
             || CAST((doc_id + 7) % {_SQL_OLH_N} AS VARCHAR) || '">b</a>'
             || '<a href="https://' || {_olh_sql_host('(doc_id + 1)')}
             || '/doc/' || CAST((doc_id * 5 + 1) % {_SQL_OLH_N} AS VARCHAR)
             || '">c</a>'
             || CASE WHEN doc_id % 5 = 0
                     THEN '<a href="mailto:ops@example.com">m</a>'
                     ELSE '' END AS body
      FROM documents),
    hrefs AS (
      SELECT doc_id, src_host,
             unnest(regexp_extract_all(body, 'href="([^"]+)"', 1)) AS href
      FROM d),
    res AS (
      SELECT doc_id, src_host,
             CASE WHEN href LIKE 'http%' THEN href
                  WHEN href LIKE '/%' THEN 'https://' || src_host || href
                  ELSE NULL END AS absolute
      FROM hrefs),
    c AS (
      SELECT doc_id, src_host,
             {sql_canonical_url('absolute')} AS target,
             {sql_url_host(sql_canonical_url('absolute'))} AS dst_host
      FROM res WHERE absolute IS NOT NULL),
    h AS (
      SELECT *, {_SQL_HASH.format(expr='target')} AS url_hash FROM c),
    seen AS (
      SELECT DISTINCT 'https://' || {_olh_sql_host('doc_id')} || '/doc/'
             || CAST(doc_id AS VARCHAR) AS target
      FROM documents WHERE doc_id % 3 = 0)
    SELECT src_host, dst_host,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT target) AS BIGINT) AS n_unique_targets,
           CAST(count(*) FILTER (WHERE NOT EXISTS
             (SELECT 1 FROM seen s WHERE s.target = h.target))
             AS BIGINT) AS n_new
    FROM h
    GROUP BY src_host, dst_host
    """,
    doc="link-discovery handoff, the crawl x interleaved bridge: fetched "
    "document bodies (HTML-ish anchors synthesized in-plan in BOTH "
    "engines: one messy absolute link with case/default-port/fragment "
    "noise, one RELATIVE link resolved against the doc's own host, one "
    "cross-host link, and a mailto: decoy the resolver must drop) -> "
    "in-row regexp_extract_all anchor extraction (codegen; the body "
    "never leaves its row unexploded) -> Generate over the href array -> "
    "relative-URL resolution + real canonicalizer + stable_hash64 in a "
    "projection -> left_anti join against the seen set (already-crawled "
    "doc pages) -> per (src_host, dst_host) edge aggregate: link count, "
    "distinct targets, and how many land NEW in the frontier. This is "
    "how a crawl actually grows: discovered links are the frontier's "
    "input stream, and the host-graph edge weights feed "
    "pagerank_priority. Scale shape: extraction and resolution are "
    "per-row projections; the explode multiplies rows by <=4 links "
    "before any exchange; the only shuffles are the hash-keyed anti-join "
    "and the final partial-agg groupBy. The distinct-count is a "
    "two-phase partial aggregate (no per-group buffering of targets "
    "beyond the group's distinct set).",
)
def outlink_frontier_handoff(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()  # plan literal, same convention as pagerank_priority
    did = F.col("doc_id")
    body = F.concat(
        F.col("text"),
        F.lit('<a href="HTTPS://News.Example.ORG:443/article?id='),
        (did * 3 % n).cast("string"),
        F.lit('#top">a</a>'),
        F.lit('<a href="/doc/'),
        ((did + 7) % n).cast("string"),
        F.lit('">b</a>'),
        F.lit('<a href="https://'),
        _olh_host(did + 1),
        F.lit("/doc/"),
        ((did * 5 + 1) % n).cast("string"),
        F.lit('">c</a>'),
        F.when(did % 5 == 0, '<a href="mailto:ops@example.com">m</a>').otherwise(""),
    )
    d = docs.select(did.alias("doc_id"), _olh_host(did).alias("src_host"), body.alias("body"))
    hrefs = d.select(
        "doc_id",
        "src_host",
        F.explode(
            F.regexp_extract_all(F.col("body"), F.lit('href="([^"]+)"'), 1)
        ).alias("href"),
    )
    absolute = (
        F.when(F.col("href").startswith("http"), F.col("href"))
        .when(
            F.col("href").startswith("/"),
            F.concat(F.lit("https://"), F.col("src_host"), F.col("href")),
        )
        .otherwise(F.lit(None))
    )
    resolved = hrefs.select("doc_id", "src_host", absolute.alias("absolute")).filter(
        F.col("absolute").isNotNull()
    )
    c = resolved.select(
        "src_host",
        canonical_url(F.col("absolute")).alias("target"),
    ).select(
        "src_host",
        "target",
        url_host(F.col("target")).alias("dst_host"),
        stable_hash64(F.col("target")).alias("url_hash"),
    )
    seen = (
        docs.filter(did % 3 == 0)
        .select(
            F.concat(
                F.lit("https://"), _olh_host(did), F.lit("/doc/"), did.cast("string")
            ).alias("target")
        )
        .distinct()
        .select("target", stable_hash64(F.col("target")).alias("url_hash"))
    )
    new = c.join(seen, ["url_hash", "target"], "left_anti").groupBy(
        "src_host", "dst_host"
    ).agg(F.count(F.lit(1)).alias("n_new"))
    edges = c.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("target").alias("n_unique_targets"),
    )
    return edges.join(new, ["src_host", "dst_host"], "left").select(
        "src_host",
        "dst_host",
        F.col("n_links").cast("long").alias("n_links"),
        F.col("n_unique_targets").cast("long").alias("n_unique_targets"),
        F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
    )


# ------------------------------------------ multi-epoch BFS expansion
#
# The frontier's GROWTH dynamics: discovered links feed the next wave.
# frontier_checkpoint_resume tests two fixed epochs around a snapshot;
# this row tests the wave recursion itself — new_i = links(new_{i-1})
# MINUS everything ever seen — which is where a wrong seen-set update
# (dedup against the previous WAVE instead of the accumulated set)
# silently double-crawls.

_BFS_EPOCHS = 3
_BFS_SEED_MOD = 50


def _sql_bfs_oracle() -> str:
    n = "(SELECT count(*) FROM documents)"
    # link pair chosen so waves FOLD BACK onto older seen nodes (checked:
    # the 2k+1 expander alone never revisits; k//3 contracts toward the
    # seed range, producing revisits at epochs 2 and 3 at every sf) —
    # otherwise the oracle could not discriminate the
    # dedup-against-previous-wave-only bug this row exists to catch
    link = "SELECT (2 * w.node + 1) % {n} AS node FROM w{i} w " \
           "UNION SELECT (w.node // 3) % {n} FROM w{i} w"
    ctes = [
        f"w0 AS (SELECT doc_id AS node FROM documents "
        f"WHERE doc_id % {_BFS_SEED_MOD} = 0)",
        "s0 AS (SELECT node FROM w0)",
    ]
    for i in range(_BFS_EPOCHS):
        ctes.append(
            f"w{i + 1} AS (SELECT node FROM ({link.format(n=n, i=i)}) t "
            f"WHERE NOT EXISTS (SELECT 1 FROM s{i} s WHERE s.node = t.node))"
        )
        ctes.append(
            f"s{i + 1} AS (SELECT node FROM s{i} "
            f"UNION ALL SELECT node FROM w{i + 1})"
        )
    waves = " UNION ALL ".join(
        f"SELECT {i} AS epoch, CAST(count(*) AS BIGINT) AS n_new, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM s{i}) AS n_seen_total "
        f"FROM w{i}"
        for i in range(_BFS_EPOCHS + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + waves


@query(
    "crawl_bfs_expansion",
    oracle=_sql_bfs_oracle(),
    doc="multi-epoch BFS frontier expansion (the north rule's growth "
    "loop): seed docs -> deterministic link pair (an expanding edge "
    "2k+1 and a CONTRACTING edge k//3 that folds later waves back onto "
    "already-seen nodes — the collect-free stand-in for "
    "outlink_frontier_handoff's extracted anchors) -> per epoch, the "
    "new wave = distinct link targets of the PREVIOUS wave anti-joined "
    "against the ACCUMULATED seen set, which then absorbs the wave. "
    "Output is (epoch, n_new, n_seen_total) per wave — a plan that "
    "dedups against the previous wave instead of the accumulated set, "
    "or unions before deduping, fails n_new from epoch 2 on. Scale "
    "shape: each epoch is one distinct + one hash anti-join on the url "
    "key — the same bucketed layout the seen set stores in; the wave "
    "frames are localCheckpoint barriers (eager, wave-sized i.e. tiny "
    "relative to the corpus) so the unrolled lineage cannot re-derive "
    "earlier epochs, mirroring dedup's connected-components loop. At "
    "10^10 URLs the accumulated set lives bucketed on disk and each "
    "epoch's anti-join is partition-local (dedup_against_seen).",
)
def crawl_bfs_expansion(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()  # plan literal, same convention as pagerank_priority
    seeds = (
        docs.filter(F.col("doc_id") % _BFS_SEED_MOD == 0)
        .select(F.col("doc_id").alias("node"))
        .localCheckpoint(eager=True)
    )
    waves = [seeds]
    seen = seeds
    for _ in range(_BFS_EPOCHS):
        prev = waves[-1]
        targets = (
            prev.select(((2 * F.col("node") + 1) % n).alias("node"))
            .unionByName(
                prev.select((F.expr("node DIV 3") % n).alias("node"))
            )
            .distinct()
        )
        new = targets.join(seen, "node", "left_anti").localCheckpoint(eager=True)
        waves.append(new)
        seen = seen.unionByName(new).localCheckpoint(eager=True)
    out = None
    for i, w in enumerate(waves):
        row = w.agg(F.count(F.lit(1)).cast("long").alias("n_new")).select(
            F.lit(i).cast("int").alias("epoch"), "n_new"
        )
        out = row if out is None else out.unionByName(row)
    # waves are pairwise disjoint by construction (each is anti-joined
    # against the accumulated set), so the cumulative seen total is a
    # running sum over the per-epoch counts — a 4-row window, not a join
    from pyspark.sql import Window as _W

    w_cum = _W.orderBy("epoch").rowsBetween(_W.unboundedPreceding, 0)
    return out.select(
        "epoch", "n_new", F.sum("n_new").over(w_cum).cast("long").alias("n_seen_total")
    )


@query(
    "url_trap_detect",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey AS k, {_SQL_HOST} AS host FROM part),
    fetched AS (
      SELECT host,
             md5('c-' || CAST(CASE WHEN host = 'www.okx.com'
                                   THEN k % 13 ELSE k END AS VARCHAR))
               AS content_hash
      FROM f)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_fetches,
           CAST(count(DISTINCT content_hash) AS BIGINT) AS n_contents,
           CAST(count(*) - count(DISTINCT content_hash) AS BIGINT)
             AS wasted_fetches,
           (count(*) >= 50 AND count(DISTINCT content_hash) * 10 < count(*))
             AS is_trap
    FROM fetched GROUP BY host
    """,
    doc="crawler-trap / crawl-budget audit: per host, fetches vs DISTINCT "
    "content fingerprints. Trap hosts (calendar pages, session-id URL "
    "explosions) mint unbounded URLs over a tiny content set; the audit "
    "flags hosts with >=50 fetches whose content yield is under 10% "
    "(integer compare n_contents*10 < n_fetches, no float threshold) so "
    "the scheduler can cut their budget. wasted_fetches = refetches of "
    "already-held content = the bandwidth a budget cut recovers. The "
    "synthetic trap host (www.okx.com, content key k%13) reproduces the "
    "shape in both engines. Scale: one groupBy(host) with a partial-agg "
    "count + count(DISTINCT content_hash) (Expand-based, map-side "
    "combined); per-host output is 4 small columns, and at 10^8 hosts "
    "the agg shuffles once on the same host key the politeness "
    "scheduler already partitions by. No joins, no Python.",
)
def url_trap_detect(spark, sf_dir):
    f = _frontier_df(spark, sf_dir)
    k = F.col("p_partkey")
    ckey = F.when(F.col("host") == "www.okx.com", k % 13).otherwise(k)
    fetched = f.select(
        "host",
        F.md5(F.concat(F.lit("c-"), ckey.cast("string"))).alias("content_hash"),
    )
    agg = fetched.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.countDistinct("content_hash").cast("long").alias("n_contents"),
    )
    return agg.select(
        "host",
        "n_fetches",
        "n_contents",
        (F.col("n_fetches") - F.col("n_contents"))
        .cast("long")
        .alias("wasted_fetches"),
        (
            (F.col("n_fetches") >= 50)
            & (F.col("n_contents") * 10 < F.col("n_fetches"))
        ).alias("is_trap"),
    )


# mirror detection: content fingerprints shared by more hosts than this are
# treated as boilerplate stop-hashes (cookie banners, 404 templates) and
# excluded BEFORE the pair join — the cap bounds the per-hash join fanout
# to <= cap*(cap-1)/2 pairs, which is what keeps the self-join linear in
# the corpus instead of quadratic in host popularity.
_MIRROR_STOPHASH_CAP = 8


@query(
    "mirror_host_detect",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey % 6 AS hid, p_partkey // 6 AS d FROM part),
    pages AS (
      SELECT DISTINCT
             'h' || CAST(hid AS VARCHAR) || '.example.org' AS host,
             md5(CASE WHEN hid <= 1 THEN 'm1-' || CAST(d AS VARCHAR)
                      WHEN hid <= 3 AND d % 2 = 0
                        THEN 'm2-' || CAST(d AS VARCHAR)
                      ELSE 'u' || CAST(hid AS VARCHAR) || '-'
                           || CAST(d AS VARCHAR)
                 END) AS content_hash
      FROM f),
    keep AS (
      SELECT content_hash FROM pages
      GROUP BY content_hash HAVING count(*) <= {_MIRROR_STOPHASH_CAP}),
    fp AS (
      SELECT p.host, p.content_hash
      FROM pages p JOIN keep USING (content_hash)),
    sizes AS (
      SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM fp GROUP BY host),
    pairs AS (
      SELECT a.host AS host_a, b.host AS host_b,
             CAST(count(*) AS BIGINT) AS shared_docs
      FROM fp a JOIN fp b
        ON a.content_hash = b.content_hash AND a.host < b.host
      GROUP BY a.host, b.host)
    SELECT host_a, host_b, shared_docs,
           sa.n_docs AS n_docs_a, sb.n_docs AS n_docs_b,
           CAST((100 * shared_docs)
                // (sa.n_docs + sb.n_docs - shared_docs) AS BIGINT)
             AS jaccard_pct,
           (5 * shared_docs >= 4 * (sa.n_docs + sb.n_docs - shared_docs))
             AS is_mirror
    FROM pairs
    JOIN sizes sa ON sa.host = pairs.host_a
    JOIN sizes sb ON sb.host = pairs.host_b
    """,
    doc="mirror-host detection over content fingerprints: hosts serving "
    "the same document set (exchange API mirrors, CDN vanity hosts) "
    "waste crawl budget; pairs with content-set Jaccard >= 0.8 are "
    "folded into one crawl identity. The synthetic corpus plants a full "
    "mirror pair (h0,h1 share every doc), a partial overlap below "
    "threshold (h2,h3 share the even half), and independent hosts. "
    "Pipeline: DISTINCT (host, content_hash) pages -> stop-hash filter "
    "(fingerprints on > cap hosts are boilerplate; the cap also bounds "
    "the pair-join fanout per hash) -> self-join keyed ON content_hash "
    "(shuffle on the hash, NEVER all host pairs) -> per-pair shared "
    "count joined to per-host sizes. The mirror verdict is the exact "
    "integer form 5*shared >= 4*union (no float Jaccard, no division "
    "truncation at the threshold); jaccard_pct is integer-division "
    "display only. Scale: pair cardinality <= n_hashes * cap^2/2; the "
    "sizes join keys on host over the (tiny) surviving pair set, "
    "broadcast-able by AQE when small.",
)
def mirror_host_detect(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    hid = (F.col("p_partkey") % 6).cast("long")
    d = F.expr("p_partkey DIV 6")
    ckey = (
        F.when(hid <= 1, F.concat(F.lit("m1-"), d.cast("string")))
        .when(
            (hid <= 3) & (d % 2 == 0),
            F.concat(F.lit("m2-"), d.cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("u"), hid.cast("string"), F.lit("-"), d.cast("string")
            )
        )
    )
    # pages is consumed by four branches (stop-hash counts, both sides of
    # the pair self-join, per-host sizes); the eager barrier derives the
    # corpus-wide distinct ONCE instead of once per branch — at 10^10 docs
    # that is the difference between 1 and 4 full scans+shuffles. The
    # pinned frame is the compact (host, hash) projection, not the corpus.
    pages = (
        p.select(
            F.concat(
                F.lit("h"), hid.cast("string"), F.lit(".example.org")
            ).alias("host"),
            F.md5(ckey).alias("content_hash"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    keep = (
        pages.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
        .filter(F.col("n_hosts") <= _MIRROR_STOPHASH_CAP)
        .select("content_hash")
    )
    fp = pages.join(keep, "content_hash")
    sizes = fp.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    a, b = fp.alias("a"), fp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.content_hash") == F.col("b.content_hash"))
            & (F.col("a.host") < F.col("b.host")),
        )
        .groupBy(
            F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_docs"))
    )
    out = (
        pairs.join(
            sizes.select(
                F.col("host").alias("host_a"), F.col("n_docs").alias("n_docs_a")
            ),
            "host_a",
        )
        .join(
            sizes.select(
                F.col("host").alias("host_b"), F.col("n_docs").alias("n_docs_b")
            ),
            "host_b",
        )
    )
    union_sz = F.col("n_docs_a") + F.col("n_docs_b") - F.col("shared_docs")
    return out.select(
        "host_a",
        "host_b",
        "shared_docs",
        "n_docs_a",
        "n_docs_b",
        F.expr(
            "(100 * shared_docs) DIV (n_docs_a + n_docs_b - shared_docs)"
        )
        .cast("long")
        .alias("jaccard_pct"),
        (5 * F.col("shared_docs") >= 4 * union_sz).alias("is_mirror"),
    )


@query(
    "dust_param_detect",
    oracle="""
    WITH f AS (
      SELECT p_partkey % 50 AS b, p_partkey % 4 AS pg, p_partkey % 3 AS s
      FROM part),
    u AS (
      SELECT b, pg, s,
             'https://shop.example.org/item/' || CAST(b AS VARCHAR)
               || '?page=' || CAST(pg AS VARCHAR)
               || '&sessionid=' || CAST(s AS VARCHAR) AS url,
             md5('c-' || CAST(b AS VARCHAR) || '-p' || CAST(pg AS VARCHAR))
               AS content_hash
      FROM f),
    cand AS (
      SELECT 'sessionid' AS param,
             'item/' || CAST(b AS VARCHAR) || '?page=' || CAST(pg AS VARCHAR)
               AS residual,
             url, content_hash FROM u
      UNION ALL
      SELECT 'page',
             'item/' || CAST(b AS VARCHAR) || '?sessionid='
               || CAST(s AS VARCHAR),
             url, content_hash FROM u),
    g AS (
      SELECT param, residual,
             count(DISTINCT url) AS n_variants,
             count(DISTINCT content_hash) AS n_contents
      FROM cand GROUP BY param, residual)
    SELECT param,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_multi_groups,
           CAST(sum(CASE WHEN n_variants > 1 AND n_contents = 1
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_consistent_multi,
           (sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) > 0 AND
            sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) =
            sum(CASE WHEN n_variants > 1 AND n_contents = 1
                     THEN 1 ELSE 0 END)) AS is_irrelevant
    FROM g GROUP BY param
    """,
    doc="DUST rule mining (Different URLs, Same Text — Bar-Yossef et al., "
    "WWW'07, public literature): for each candidate query parameter, "
    "group URLs by their param-REMOVED residual form; if every group "
    "that actually varies the parameter (>1 URL variant) maps to ONE "
    "content fingerprint, the parameter is content-irrelevant and the "
    "canonicalizer can strip it corpus-wide (session ids, tracking "
    "tags), collapsing the frontier BEFORE fetch. The synthetic corpus "
    "plants an irrelevant 'sessionid' (content = f(item, page)) and a "
    "load-bearing 'page'; single-variant groups are excluded from the "
    "verdict (no evidence either way) but counted in n_groups. Scale: "
    "one groupBy(param, residual) — shuffle keyed on the residual URL, "
    "cardinality <= n_urls * n_candidate_params, partial-agg combined — "
    "then a tiny per-param rollup; verdicts are exact integer/boolean "
    "(equality of conditional counts, no ratio threshold). The verdict "
    "table feeds url_canonicalize as host-scoped strip rules.",
)
def dust_param_detect(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    base = (k % 50).cast("long")
    pg = (k % 4).cast("long")
    s = (k % 3).cast("long")
    u = p.select(
        F.concat(
            F.lit("https://shop.example.org/item/"),
            base.cast("string"),
            F.lit("?page="),
            pg.cast("string"),
            F.lit("&sessionid="),
            s.cast("string"),
        ).alias("url"),
        F.md5(
            F.concat(
                F.lit("c-"), base.cast("string"), F.lit("-p"), pg.cast("string")
            )
        ).alias("content_hash"),
        F.concat(
            F.lit("item/"), base.cast("string"), F.lit("?page="),
            pg.cast("string"),
        ).alias("res_sessionid"),
        F.concat(
            F.lit("item/"), base.cast("string"), F.lit("?sessionid="),
            s.cast("string"),
        ).alias("res_page"),
    )
    cand = u.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("sessionid").alias("param"),
                    F.col("res_sessionid").alias("residual"),
                ),
                F.struct(
                    F.lit("page").alias("param"),
                    F.col("res_page").alias("residual"),
                ),
            )
        ).alias("c"),
        "url",
        "content_hash",
    ).select("c.param", "c.residual", "url", "content_hash")
    g = cand.groupBy("param", "residual").agg(
        F.countDistinct("url").alias("n_variants"),
        F.countDistinct("content_hash").alias("n_contents"),
    )
    multi = F.when(F.col("n_variants") > 1, 1).otherwise(0)
    consistent = F.when(
        (F.col("n_variants") > 1) & (F.col("n_contents") == 1), 1
    ).otherwise(0)
    return g.groupBy("param").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(multi).cast("long").alias("n_multi_groups"),
        F.sum(consistent).cast("long").alias("n_consistent_multi"),
        (
            (F.sum(multi) > 0) & (F.sum(multi) == F.sum(consistent))
        ).alias("is_irrelevant"),
    )


@query(
    "domain_budget_rollup",
    oracle="""
    WITH f AS (
      SELECT p_partkey AS k,
             CASE p_partkey % 8
               WHEN 0 THEN 'api.binance.com'
               WHEN 1 THEN 'www.binance.com'
               WHEN 2 THEN 'shop.example.co.uk'
               WHEN 3 THEN 'blog.example.co.uk'
               WHEN 4 THEN 'cdn.okx.com'
               WHEN 5 THEN 'static.site.com.au'
               WHEN 6 THEN 'www.site.com.au'
               ELSE 'api.kraken.com'
             END AS host
      FROM part),
    d AS (
      SELECT k, host,
             CASE WHEN regexp_extract(host,
                      '[^.]+\\.(co\\.uk|com\\.au)$') <> ''
                  THEN regexp_extract(host, '[^.]+\\.(co\\.uk|com\\.au)$')
                  ELSE regexp_extract(host, '[^.]+\\.[^.]+$')
             END AS domain
      FROM f)
    SELECT domain,
           CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(k % 3 + 1) AS BIGINT) AS budget_total
    FROM d GROUP BY domain
    """,
    doc="crawl-budget rollup at REGISTRABLE-domain granularity: politeness "
    "and ownership live at the registered domain, not the hostname — "
    "www./api./cdn. subdomains of one owner must share one budget, and "
    "'example.co.uk' must NOT roll up to the public suffix 'co.uk'. The "
    "suffix logic is a public-suffix-list-style rule set (publicsuffix"
    ".org, public data) reduced to the two-part suffixes the synthetic "
    "hosts exercise, applied as a codegen'd regex ladder: try "
    "label.<two-part-suffix>$ first, fall back to the last two labels. "
    "The synthesis plants two hosts per owner across .com/.co.uk/.com.au "
    "so a last-two-labels-only implementation visibly over-merges "
    "(co.uk would swallow every UK owner). Scale: per-row regex in "
    "whole-stage codegen, then ONE groupBy(domain) (count + "
    "count(DISTINCT host) via Expand, partial-agg combined) — domain "
    "cardinality grows with the corpus, partitions stay bounded; the "
    "full PSL at production is ~9k rules, still a broadcast-scale "
    "literal table.",
)
def domain_budget_rollup(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    hid = k % 8
    host = (
        F.when(hid == 0, "api.binance.com")
        .when(hid == 1, "www.binance.com")
        .when(hid == 2, "shop.example.co.uk")
        .when(hid == 3, "blog.example.co.uk")
        .when(hid == 4, "cdn.okx.com")
        .when(hid == 5, "static.site.com.au")
        .when(hid == 6, "www.site.com.au")
        .otherwise("api.kraken.com")
    )
    two_part = F.regexp_extract(host, r"[^.]+\.(co\.uk|com\.au)$", 0)
    domain = F.when(two_part != "", two_part).otherwise(
        F.regexp_extract(host, r"[^.]+\.[^.]+$", 0)
    )
    d = p.select(
        host.alias("host"),
        domain.alias("domain"),
        (k % 3 + 1).cast("long").alias("budget"),
    )
    return d.groupBy("domain").agg(
        F.countDistinct("host").cast("long").alias("n_hosts"),
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.sum("budget").cast("long").alias("budget_total"),
    )


@query(
    "sitemap_coverage_audit",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey AS k, {_SQL_FRONTIER_URL} AS url, {_SQL_HOST} AS host
      FROM part),
    listed AS (SELECT url, host FROM f WHERE k % 3 <> 2),
    crawled AS (SELECT url, host FROM f WHERE k % 2 = 0),
    j AS (
      SELECT coalesce(l.host, c.host) AS host,
             (l.url IS NOT NULL) AS in_sitemap,
             (c.url IS NOT NULL) AS is_crawled
      FROM listed l FULL OUTER JOIN crawled c ON l.url = c.url)
    SELECT host,
           CAST(sum(CASE WHEN in_sitemap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_listed,
           CAST(sum(CASE WHEN is_crawled THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crawled,
           CAST(sum(CASE WHEN in_sitemap AND is_crawled
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN is_crawled AND NOT in_sitemap
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_crawled,
           CAST(sum(CASE WHEN in_sitemap AND NOT is_crawled
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_backlog,
           CAST((100 * sum(CASE WHEN in_sitemap AND is_crawled
                           THEN 1 ELSE 0 END))
                // greatest(sum(CASE WHEN in_sitemap THEN 1 ELSE 0 END), 1)
                AS BIGINT) AS coverage_pct
    FROM j GROUP BY host
    """,
    doc="sitemap-vs-crawl coverage audit per host: the reconciliation "
    "report crawl ops teams run after every wave — n_backlog (listed in "
    "the sitemap, never crawled = discovery debt the scheduler must "
    "drain), n_orphan_crawled (crawled but absent from the sitemap = "
    "link-discovered pages the publisher forgot to list, often stale), "
    "and integer coverage_pct = 100*both // listed (greatest(...,1) "
    "guards empty sitemaps). The two sets are joined as REAL frames via "
    "a FULL OUTER equi-join on the canonical URL — the null-side flags "
    "are the audit signal, so the join type is load-bearing (an inner "
    "join silently drops both failure modes). Scale: one shuffle on the "
    "url key (the same key the seen-set layout buckets by), then a "
    "partial-agg groupBy(host); the synthetic sets overlap 1/3 by CRT "
    "(k%3<>2 listed, k%2=0 crawled) so all four quadrants are non-empty.",
)
def sitemap_coverage_audit(spark, sf_dir):
    f = _frontier_df(spark, sf_dir)
    k = F.col("p_partkey")
    listed = f.filter(k % 3 != 2).select("url", "host")
    crawled = f.filter(k % 2 == 0).select(
        F.col("url").alias("c_url"), F.col("host").alias("c_host")
    )
    j = listed.join(
        crawled, listed["url"] == crawled["c_url"], "full_outer"
    ).select(
        F.coalesce(F.col("host"), F.col("c_host")).alias("host"),
        F.col("url").isNotNull().alias("in_sitemap"),
        F.col("c_url").isNotNull().alias("is_crawled"),
    )
    both = F.when(F.col("in_sitemap") & F.col("is_crawled"), 1).otherwise(0)
    listed_n = F.when(F.col("in_sitemap"), 1).otherwise(0)
    return j.groupBy("host").agg(
        F.sum(listed_n).cast("long").alias("n_listed"),
        F.sum(F.when(F.col("is_crawled"), 1).otherwise(0))
        .cast("long")
        .alias("n_crawled"),
        F.sum(both).cast("long").alias("n_both"),
        F.sum(
            F.when(F.col("is_crawled") & ~F.col("in_sitemap"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_orphan_crawled"),
        F.sum(
            F.when(F.col("in_sitemap") & ~F.col("is_crawled"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_backlog"),
        F.expr(
            "CAST((100 * sum(CASE WHEN in_sitemap AND is_crawled THEN 1 "
            "ELSE 0 END)) DIV greatest(sum(CASE WHEN in_sitemap THEN 1 "
            "ELSE 0 END), 1) AS BIGINT)"
        ).alias("coverage_pct"),
    )


_HITS_H0 = 100  # integer seed hub mass per node


def _sql_hits_oracle() -> str:
    n = "(SELECT count(*) FROM part)"
    edges = (
        f"SELECT p_partkey AS src, (p_partkey + 1) % {n} AS dst FROM part "
        f"UNION ALL "
        f"SELECT p_partkey, (p_partkey * 7 + 3) % {n} FROM part "
        f"UNION ALL "
        f"SELECT p_partkey, (p_partkey * 5 + 1) % {n} FROM part "
        f"WHERE p_partkey % 3 = 0"
    )
    return f"""
    WITH e AS ({edges}),
    h0 AS (SELECT p_partkey AS node, {_HITS_H0} AS h FROM part),
    a1 AS (SELECT e.dst AS node, sum(h0.h) AS a
           FROM e JOIN h0 ON h0.node = e.src GROUP BY e.dst),
    h1 AS (SELECT e.src AS node, sum(a1.a) AS h
           FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src),
    a2 AS (SELECT e.dst AS node, sum(h1.h) AS a
           FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst),
    h2 AS (SELECT e.src AS node, sum(a2.a) AS h
           FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src)
    SELECT p.p_partkey AS node,
           CAST(coalesce(a2.a, 0) AS BIGINT) AS authority,
           CAST(coalesce(h2.h, 0) AS BIGINT) AS hub
    FROM part p
    LEFT JOIN a2 ON a2.node = p.p_partkey
    LEFT JOIN h2 ON h2.node = p.p_partkey
    """


@query(
    "hits_hub_authority",
    oracle=_sql_hits_oracle(),
    doc="HITS hubs & authorities (Kleinberg 1999) over the frontier's "
    "link graph — the companion signal to pagerank_priority for seed-"
    "list curation: a good SEED page is a strong HUB (links out to "
    "many strong authorities — exchange index/sitemap pages), while "
    "fetch priority follows AUTHORITY; crawling literature uses the "
    "pair to bootstrap new verticals. Two full mutual-reinforcement "
    "sweeps (a <- sum of in-neighbour hubs, h <- sum of out-neighbour "
    "authorities), UNNORMALIZED: per-iteration L2 normalization is a "
    "positive per-side scalar, so the RANKING the scheduler consumes "
    "is identical, and dropping it keeps every score an exact "
    "associative integer sum (max ~in-deg^2*out-deg^2*100 << int64) — "
    "bit-identical under any partial-agg order, where the normalized "
    "float version drifts in the last ulp. The synthetic graph adds a "
    "third out-edge on every 3rd node so in-degrees vary and the "
    "fixpoint is NON-uniform (the regular 2-edge pagerank graph would "
    "make HITS constant — pinned the other way by that row). Each "
    "half-sweep is one equi-join + partial-agg groupBy on a node key; "
    "the score table is (node, long) and is never collected.",
)
def hits_hub_authority(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    n = p.count()  # plan literal, same convention as pagerank_priority
    k = F.col("p_partkey")
    edges = (
        p.select(k.alias("src"), ((k + 1) % n).alias("dst"))
        .unionAll(p.select(k.alias("src"), ((k * 7 + 3) % n).alias("dst")))
        .unionAll(
            p.filter(k % 3 == 0).select(
                k.alias("src"), ((k * 5 + 1) % n).alias("dst")
            )
        )
    )
    h = p.select(k.alias("node"), F.lit(_HITS_H0).cast("long").alias("h"))
    for _ in range(2):
        a = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .select(F.col("dst").alias("node"), "a")
        )
        h = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .select(F.col("src").alias("node"), "h")
        )
    a_f = a.select(F.col("node"), F.col("a").alias("authority"))
    h_f = h.select(F.col("node"), F.col("h").alias("hub"))
    return (
        p.select(k.alias("node"))
        .join(a_f, "node", "left")
        .join(h_f, "node", "left")
        .select(
            "node",
            F.coalesce("authority", F.lit(0)).cast("long").alias("authority"),
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
        )
    )


@query(
    "host_latency_ewma_budget",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey AS k, {_SQL_HOST} AS host,
             CASE WHEN p_partkey % 10 <= 5 THEN 80
                  WHEN p_partkey % 10 <= 7 THEN 120
                  WHEN p_partkey % 10 = 8 THEN 200
                  ELSE 350 END + (p_partkey * 37) % 300 AS latency_ms
      FROM part),
    rk AS (
      SELECT host, latency_ms,
             row_number() OVER (PARTITION BY host ORDER BY k DESC)
               AS recency,
             row_number() OVER (PARTITION BY host
                                ORDER BY latency_ms, k) AS lat_rank,
             count(*) OVER (PARTITION BY host) AS n
      FROM f),
    ew AS (
      SELECT host,
             CAST(sum(latency_ms * (1 << (8 - recency))) AS BIGINT)
               AS ewma_num,
             CAST(sum(1 << (8 - recency)) AS BIGINT) AS ewma_den
      FROM rk WHERE recency <= 8 GROUP BY host),
    med AS (
      SELECT host, CAST(max(n) AS BIGINT) AS n_fetches,
             CAST(max(CASE WHEN lat_rank = (n + 1) // 2
                           THEN latency_ms END) AS BIGINT)
               AS p50_latency_ms
      FROM rk GROUP BY host)
    SELECT m.host, m.n_fetches, m.p50_latency_ms, e.ewma_num,
           CAST(e.ewma_num // e.ewma_den AS BIGINT) AS ewma_ms,
           CAST(50 AS BIGINT) AS old_budget_per_min,
           CAST(least(600, greatest(6,
                (50 * 200 * e.ewma_den) // e.ewma_num)) AS BIGINT)
             AS new_budget_per_min
    FROM med m JOIN ew e ON e.host = m.host
    """,
    doc="adaptive politeness control from fetch telemetry: per host, a "
    "dyadic-weight EWMA over the 8 most recent fetch latencies "
    "(weights 2^7..2^0, divided by the weight sum of the fetches "
    "present — 255 for a host with 8 or more, less for a sparse host, "
    "so ewma_ms is a true weighted mean either way; binary weights keep "
    "the accumulator an exact BIGINT instead of the usual float alpha "
    "recursion, which is order-fragile AND unmergeable across "
    "partitions) plus the exact p50 latency as an order statistic "
    "(value at row_number (n+1) DIV 2 under the total (latency, "
    "fetch_id) order — no sketch, both engines pick the identical "
    "row). The politeness budget then rescales inversely to the EWMA "
    "against a 200 ms target, integer-clamped to [6, 600] req/min — "
    "slow hosts shed budget before they queue, the feedback loop "
    "crawl_schedule_full's static rate_budget_per_min lacks. Scale "
    "shape: one shuffle to host for the windows; the recency window "
    "keeps 8 rows/host, the rank window is the same single "
    "per-host pass; output cardinality = hosts. At frontier scale the "
    "recency-8 cut prunes via the row_number filter, not a sort-all "
    "(Spark plans a per-partition top-k under AQE).",
)
def host_latency_ewma_budget(spark, sf_dir):
    from pyspark.sql import Window as W

    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    base = (
        F.when(k % 10 <= 5, 80)
        .when(k % 10 <= 7, 120)
        .when(k % 10 == 8, 200)
        .otherwise(350)
    )
    f = p.select(
        k.alias("k"),
        _host().alias("host"),
        (base + (k * 37) % 300).alias("latency_ms"),
    )
    w_rec = W.partitionBy("host").orderBy(F.col("k").desc())
    w_lat = W.partitionBy("host").orderBy("latency_ms", "k")
    w_all = W.partitionBy("host")
    rk = f.select(
        "host",
        "latency_ms",
        F.row_number().over(w_rec).alias("recency"),
        F.row_number().over(w_lat).alias("lat_rank"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    ew = (
        rk.filter(F.col("recency") <= 8)
        .groupBy("host")
        .agg(
            F.sum(F.expr("latency_ms * shiftleft(1, 8 - recency)"))
            .cast("long")
            .alias("ewma_num"),
            F.sum(F.expr("shiftleft(1, 8 - recency)"))
            .cast("long")
            .alias("ewma_den"),
        )
    )
    med = rk.groupBy("host").agg(
        F.max("n").cast("long").alias("n_fetches"),
        F.max(
            F.when(
                F.col("lat_rank") == F.expr("(n + 1) DIV 2"),
                F.col("latency_ms"),
            )
        )
        .cast("long")
        .alias("p50_latency_ms"),
    )
    return med.join(ew, "host").select(
        "host",
        "n_fetches",
        "p50_latency_ms",
        "ewma_num",
        F.expr("ewma_num DIV ewma_den").cast("long").alias("ewma_ms"),
        F.lit(50).cast("long").alias("old_budget_per_min"),
        F.least(
            F.lit(600),
            F.greatest(F.lit(6), F.expr("(50 * 200 * ewma_den) DIV ewma_num")),
        )
        .cast("long")
        .alias("new_budget_per_min"),
    )


# K-epoch recrawl history: content version v(e) = (k + e) DIV per with
# per = 1 + k % 5 — the version bumps exactly when per divides (k + e),
# so every URL has a closed-form, engine-shared change history: period-1
# URLs change every epoch, period-5 URLs at most once in the window.
_RECRAWL_EPOCHS = 5  # observed intervals (visits = epochs + 1)
_RECRAWL_TOPK = 10


@query(
    "recrawl_change_rate",
    oracle=f"""
    WITH f AS (
      SELECT p_partkey AS k, {_SQL_FRONTIER_URL} AS url,
             {_SQL_HOST} AS host, 1 + p_partkey % 5 AS per
      FROM part),
    v AS (
      SELECT f.*, t.e,
             CASE WHEN (f.k + t.e) % f.per = 0 THEN 1 ELSE 0 END
               AS changed
      FROM f CROSS JOIN (SELECT unnest(generate_series(1,
        {_RECRAWL_EPOCHS})) AS e) t),
    u AS (
      SELECT host, url,
             CAST({_RECRAWL_EPOCHS} + 1 AS BIGINT) AS n_visits,
             CAST(sum(changed) AS BIGINT) AS n_changes,
             max(CASE WHEN changed = 1 THEN e END) AS last_change_epoch,
             CAST(1000000 * sum(changed) // {_RECRAWL_EPOCHS} AS BIGINT)
               AS change_rate_ppm
      FROM v GROUP BY host, url),
    s AS (
      SELECT *,
             CAST(({_RECRAWL_EPOCHS} - COALESCE(last_change_epoch, 0))
                  AS BIGINT) AS staleness_epochs,
             change_rate_ppm
               * ({_RECRAWL_EPOCHS} - COALESCE(last_change_epoch, 0) + 1)
               AS priority
      FROM u),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY host
               ORDER BY priority DESC, url) AS rnk
      FROM s)
    SELECT host, url, n_visits, n_changes,
           CAST(last_change_epoch AS BIGINT) AS last_change_epoch,
           change_rate_ppm, staleness_epochs,
           CAST(priority AS BIGINT) AS priority, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {_RECRAWL_TOPK}
    """,
    doc="multi-epoch change-rate recrawl prioritization (the frequency-"
    "estimation half of Cho & Garcia-Molina freshness scheduling, "
    "extending recrawl_backoff's 2-epoch multiplicative rule to a "
    "6-visit history): per URL, changes across 5 observed intervals "
    "from a closed-form version counter both engines derive "
    "identically, change_rate_ppm = 1e6 * n_changes DIV intervals, "
    "staleness = epochs since last observed change, and priority = "
    "rate x (staleness + 1) — all integer. Per-host top-10 shortlist "
    "via row_number over the total (priority DESC, url) order (URLs "
    "unique, so rank ties are impossible) — output is hosts x 10 rows, "
    "metadata-sized at any SF, exactly what the politeness scheduler "
    "consumes as its refresh feed. Scale shape: the 6-epoch history "
    "explode is a bounded per-row sequence (never a giant array), one "
    "partial-agg groupBy(url), one shuffle to host for the top-k "
    "window — per-partition top-k pruned before the final sort.",
)
def recrawl_change_rate(spark, sf_dir):
    from pyspark.sql import Window as W

    p = load_table(spark, sf_dir, "part")
    k = F.col("p_partkey")
    f = p.select(
        k.alias("k"),
        F.concat(
            F.lit("https://"),
            _host(),
            F.lit("/api/symbols?id="),
            k.cast("string"),
        ).alias("url"),
        _host().alias("host"),
        (1 + k % 5).alias("per"),
    )
    v = f.select(
        "*",
        F.explode(
            F.sequence(F.lit(1), F.lit(_RECRAWL_EPOCHS))
        ).alias("e"),
    ).withColumn(
        "changed",
        F.when((F.col("k") + F.col("e")) % F.col("per") == 0, 1).otherwise(
            0
        ),
    )
    u = v.groupBy("host", "url").agg(
        F.lit(_RECRAWL_EPOCHS + 1).cast("long").alias("n_visits"),
        F.sum("changed").cast("long").alias("n_changes"),
        F.max(F.when(F.col("changed") == 1, F.col("e"))).alias(
            "last_change_epoch"
        ),
        F.expr(f"1000000 * sum(changed) DIV {_RECRAWL_EPOCHS}")
        .cast("long")
        .alias("change_rate_ppm"),
    )
    s = u.select(
        "*",
        (
            F.lit(_RECRAWL_EPOCHS)
            - F.coalesce("last_change_epoch", F.lit(0))
        )
        .cast("long")
        .alias("staleness_epochs"),
    ).withColumn(
        "priority",
        F.col("change_rate_ppm") * (F.col("staleness_epochs") + 1),
    )
    w = W.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url")
    )
    r = s.withColumn("rnk", F.row_number().over(w))
    return r.filter(F.col("rnk") <= _RECRAWL_TOPK).select(
        "host",
        "url",
        "n_visits",
        "n_changes",
        F.col("last_change_epoch").cast("long").alias("last_change_epoch"),
        "change_rate_ppm",
        "staleness_epochs",
        F.col("priority").cast("long").alias("priority"),
        F.col("rnk").cast("long").alias("rnk"),
    )
