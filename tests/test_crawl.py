"""Crawl frontier: Spark job vs the single-threaded oracle simulator, plus
determinism-under-parallelism, fetch-stub span invariants, and
checkpoint/resume."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from crypto_msg_parser_spark.crawl import oracle_sim
from crypto_msg_parser_spark.crawl.frontier import (
    FrontierCheckpoint,
    epoch_metrics,
    bloom_prefilter,
    crawl_step,
    dedup_against_seen,
    fetch_stub,
)
from crypto_msg_parser_spark.crawl.queries import _frontier_df
from crypto_msg_parser_spark.crawl.scheduler import schedule, visit_sequence
from crypto_msg_parser_spark.crawl.seeds import seed_frontier, synthetic_frontier
from tests.conftest import SF_SMOKE


def _sim_rows(spark):
    rows = [
        {
            "url": r["url"],
            "host": r["host"],
            "priority": r["priority"],
            "rate_budget_per_min": r["rate_budget_per_min"],
        }
        for r in _frontier_df(spark, SF_SMOKE).collect()
    ]
    return rows


def test_schedule_matches_oracle_simulator(spark):
    """north_rule: the distributed schedule reproduces the single-threaded
    simulator's visit sequence exactly (same seed list + budgets)."""
    sim = oracle_sim.simulate(_sim_rows(spark))
    sim_seq = [(r["epoch"], r["host"], r["in_host_rank"], r["canonical"]) for r in sim]

    got = visit_sequence(_frontier_df(spark, SF_SMOKE)).select(
        "epoch", "host", "in_host_rank", "canonical"
    ).collect()
    got_seq = [(r["epoch"], r["host"], r["in_host_rank"], r["canonical"]) for r in got]

    assert got_seq == sorted(sim_seq)
    # seen-set equality
    assert {r[3] for r in got_seq} == {r["canonical"] for r in sim}


def test_schedule_deterministic_across_parallelism(spark):
    """Same input at different partition counts -> identical schedule
    (logical-epoch scheduling, not wall clock)."""
    f = _frontier_df(spark, SF_SMOKE)
    a = schedule(f.repartition(2)).select("canonical", "epoch", "in_host_rank")
    b = schedule(f.repartition(16)).select("canonical", "epoch", "in_host_rank")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_canonicalization_matches_python_reference(spark):
    urls = [
        "HTTPS://Api.Binance.COM:443/api/v3/exchangeInfo?b=2&a=1#frag",
        "http://example.com:80/path/",
        "https://www.okx.com/api/v5/public/instruments?instType=SWAP",
        "https://host.com",
        "https://host.com/?z=1&y=2&x=3",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    from crypto_msg_parser_spark.crawl.canonicalize import canonical_url

    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    want = [oracle_sim.canonical_url(u) for u in urls]
    assert got == want


def test_fetch_stub_span_invariant(spark):
    """input_hint invariant: span sequence (kind, text, media_ref, offset)
    is preserved and offsets are dense ascending."""
    docs = fetch_stub(schedule(_frontier_df(spark, SF_SMOKE)).limit(50)).collect()
    assert docs
    for d in docs:
        offsets = [s["offset"] for s in d["spans"]]
        assert offsets == list(range(len(offsets)))
        text = "".join(s["text"] or "" for s in d["spans"] if s["kind"] == "text")
        assert text.startswith('{"url":')
        for s in d["spans"]:
            if s["kind"] == "media":
                assert s["media_ref"] and s["text"] is None
            else:
                assert s["media_ref"] is None


def test_seed_universe(spark):
    seeds = seed_frontier(spark).collect()
    hosts = {r["host"] for r in seeds}
    # the reference's multi-host binance universe (crypto-pair tests hit
    # api/dapi/fapi/vapi) must be distinct politeness queues
    assert {"api.binance.com", "dapi.binance.com", "fapi.binance.com"} <= hosts
    assert len(seeds) == len({r["url"] for r in seeds})
    full = synthetic_frontier(spark, SF_SMOKE)
    assert full.count() > len(seeds)


def test_bloom_prefilter_partitions_correctly(spark):
    f = schedule(_frontier_df(spark, SF_SMOKE))
    seen = f.filter(F.col("p_partkey") % 3 == 0).select(
        "rank_bucket", "url_hash", "canonical"
    )
    # per-bucket build: one filter row per rank_bucket, sized to that
    # bucket's cardinality (never a single merged global filter)
    from crypto_msg_parser_spark.crawl.bloom import build_bloom_buckets

    blooms = build_bloom_buckets(seen).collect()
    assert len(blooms) > 1
    per_bucket_n = {
        r["rank_bucket"]: r["count"]
        for r in seen.groupBy("rank_bucket").count().collect()
    }
    for r in blooms:
        assert r["n"] == per_bucket_n[r["rank_bucket"]]
        assert len(r["bits"]) * 8 == r["m"]

    definitely_new, needs_check = bloom_prefilter(spark, f, seen)
    n_def, n_chk = definitely_new.count(), needs_check.count()
    # no false negatives: everything actually seen must be in needs_check
    truly_seen = f.join(seen, ["url_hash", "canonical"], "left_semi")
    assert truly_seen.join(
        definitely_new.select("url_hash"), "url_hash", "left_semi"
    ).count() == 0
    assert n_def + n_chk == f.count()
    # and the exact layer finishes the job identically with or without bloom
    exact = dedup_against_seen(f, seen)
    via_bloom = definitely_new.unionByName(
        dedup_against_seen(needs_check, seen)
    )
    assert sorted(r["canonical"] for r in exact.collect()) == sorted(
        r["canonical"] for r in via_bloom.collect()
    )


def test_checkpoint_resume(spark, tmp_path):
    """Interrupted crawl resumed from a snapshot equals the uninterrupted
    run (per-partition lineage in the manifest)."""
    f = _frontier_df(spark, SF_SMOKE)
    empty_seen = spark.createDataFrame([], "url_hash long, canonical string")

    docs1, new1, seen1 = crawl_step(spark, f, empty_seen)
    ckpt = FrontierCheckpoint(str(tmp_path))
    metrics = epoch_metrics(docs1)
    manifest = ckpt.commit(spark, "s1", f, seen1, metrics=metrics)
    assert manifest["seen_rows"] == seen1.count() > 0
    assert manifest["partitions"]
    assert manifest["metrics"]["n_docs"] == docs1.count() > 0
    assert (
        manifest["metrics"]["n_spans"]
        == metrics["n_text_spans"] + metrics["n_media_spans"]
    )

    f2, seen2, m2 = ckpt.restore(spark, "s1")
    assert m2["snapshot_id"] == "s1"
    assert m2["metrics"] == metrics  # counters survive the round-trip
    # resuming with the restored seen set: nothing new to crawl
    _, new2, _ = crawl_step(spark, f2, seen2)
    assert new2.count() == 0


def test_crawl_to_parse_pipeline(spark):
    """End-to-end: frontier -> schedule -> fetch -> span-reassembled docs
    are valid JSON bodies (the crawl->parse seam)."""
    docs, new, seen = crawl_step(
        spark,
        _frontier_df(spark, SF_SMOKE),
        spark.createDataFrame([], "url_hash long, canonical string"),
    )
    reassembled = docs.select(
        "doc_id",
        F.concat_ws(
            "",
            F.transform(
                F.filter("spans", lambda s: s["kind"] == "text"),
                lambda s: s["text"],
            ),
        ).alias("body"),
    )
    parsed = reassembled.select(
        "doc_id", F.get_json_object("body", "$.host").alias("host")
    )
    assert parsed.filter(F.col("host").isNull()).count() == 0


def test_paginated_frontier_expansion(spark):
    """SURVEY §2.1 paginated scan: 1230 synthetic instruments at 500/page
    -> exactly 3 pages fetched, walk terminated by the short page
    (mirrors crypto-msg-parser/src/exchanges/bitmex.rs:504-544)."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.frontier import crawl_paginated

    total = 1230
    seeds = spark.createDataFrame(
        [
            (
                "https://www.bitmex.com/api/v1/instrument?start=0&count=500",
                "www.bitmex.com",
                0,
                600,
            )
        ],
        "url string, host string, priority int, rate_budget_per_min int",
    )

    def fetch_fn(scheduled):
        start = F.regexp_extract(
            F.col("canonical"), "[?&]start=([0-9]+)", 1
        ).cast("long")
        return scheduled.select(
            F.col("canonical").alias("url"),
            "host",
            "priority",
            "rate_budget_per_min",
            F.least(F.lit(total) - start, F.lit(500)).cast("int").alias("n_items"),
        )

    pages, seen = crawl_paginated(spark, seeds, fetch_fn, count=500)
    got = sorted(r["n_items"] for r in pages.collect())
    assert got == [230, 500, 500]
    assert seen.count() == 3


def test_normalize_currency(spark):
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.parser.market_type import normalize_currency

    df = spark.createDataFrame(
        [
            ("bitmex", "XBT", "BTC"),
            ("kraken", "XXBT", "BTC"),
            ("kraken", "XDG", "DOGE"),
            ("kucoin", "XBT", "BTC"),
            ("kucoin", "BCHSV", "BSV"),
            ("bitfinex", "UST", "USDT"),
            ("binance", "btc", "BTC"),
        ],
        "exchange string, cur string, expected string",
    )
    got = df.select(
        "expected",
        normalize_currency(F.col("exchange"), F.col("cur")).alias("got"),
    ).collect()
    assert all(r["got"] == r["expected"] for r in got), [
        (r["expected"], r["got"]) for r in got
    ]


def test_bucketed_layout_plans_without_exchanges(spark):
    """Regression guard for the scale design (BENCH/BASELINE.md): with
    frontier state bucketed on rank_bucket, the ranking window and the
    seen-set anti-join must plan with NO Exchange below them — the one
    stored partitioning is reused by every steady-state stage."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.frontier import dedup_against_seen
    from crypto_msg_parser_spark.crawl.scheduler import (
        bucketize,
        prepare_frontier,
        schedule,
    )

    raw = spark.range(10000).select(
        F.format_string(
            "https://api.binance.com/api/symbols?id=%d", F.col("id")
        ).alias("url"),
        F.lit("api.binance.com").alias("host"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.lit(600).cast("int").alias("rate_budget_per_min"),
    )
    prepared = bucketize(prepare_frontier(raw), 8).persist()
    prepared.count()
    try:
        sched = schedule(prepared).select(
            "rank_bucket", "canonical", "url_hash", "host", "priority",
            "in_host_rank", "epoch",
        )
        seen = prepared.filter(F.col("url_hash") % 3 == 0).select(
            "rank_bucket", "url_hash", "canonical"
        )
        plan = (
            dedup_against_seen(sched, seen)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the ONLY planner-inserted exchange allowed is the tiny offsets
        # host-window (hosts x priorities x buckets rows). The ranking
        # window and BOTH anti-join sides must reuse the stored
        # rank_bucket partitioning (requireAllClusterKeysForCoPartition
        # is off in session.py so the subset partitioning co-partitions).
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line and "ENSURE_REQUIREMENTS" in line:
                assert "host#" in line and "rank_bucket" not in line, (
                    f"frontier path re-shuffled: {line}"
                )
    finally:
        prepared.unpersist()


def test_robots_parse_and_cache(spark):
    from crypto_msg_parser_spark.crawl.robots import (
        ROBOTS_FETCH_SCHEMA,
        parse_robots,
        robots_cache_refresh,
    )

    fetched = spark.createDataFrame(
        [
            (
                "a.example",
                100,
                "User-agent: Googlebot\nDisallow: /\n"
                "User-agent: *\nDisallow: /x\nCrawl-delay: 5\n"
                "User-agent: bingbot\nDisallow: /y\n",
            ),
            ("b.example", 100, "User-agent: *\nDisallow:\n"),  # empty = allow all
            ("c.example", 100, None),
        ],
        ROBOTS_FETCH_SCHEMA,
    )
    rules = {r["host"]: r for r in parse_robots(fetched).collect()}
    # only the * group applies; the Googlebot/bingbot decoys must not leak
    assert rules["a.example"]["disallow"] == ["/x"]
    assert rules["a.example"]["crawl_delay"] == 5.0
    assert rules["b.example"]["disallow"] == []
    assert rules["c.example"]["disallow"] == []

    older = spark.createDataFrame(
        [
            ("a.example", 50, [(False, "/old")], ["/old"], None),
            ("stale.example", 1, [(False, "/s")], ["/s"], None),
        ],
        "host string, fetched_at long, "
        "rules array<struct<allow:boolean,pattern:string>>, "
        "disallow array<string>, crawl_delay double",
    )
    merged = {
        r["host"]: r
        for r in robots_cache_refresh(
            older, parse_robots(fetched), ttl_ms=60, now_ms=110
        ).collect()
    }
    # newest per host wins; entries older than the TTL fall out
    assert merged["a.example"]["disallow"] == ["/x"]
    assert "stale.example" not in merged


def test_robots_adjacent_ua_lines_share_group(spark):
    """RFC 9309 §2.1: adjacent User-agent lines form ONE group — the rules
    after 'User-agent: *\\nUser-agent: googlebot' bind to BOTH agents, so
    the star group must keep them (round-3 ADVICE: the old fold reset
    in_star on every UA line and failed OPEN on this shape)."""
    from crypto_msg_parser_spark.crawl.robots import (
        ROBOTS_FETCH_SCHEMA,
        parse_robots,
    )

    fetched = spark.createDataFrame(
        [
            # star first, specific second: rules bind to both
            ("a.example", 1, "User-agent: *\nUser-agent: googlebot\nDisallow: /x\n"),
            # specific first, star second: same group, same rules
            ("b.example", 1, "User-agent: googlebot\nUser-agent: *\nDisallow: /y\n"),
            # a rule line SPLITS the groups: star group here is only /s
            (
                "c.example",
                1,
                "User-agent: googlebot\nDisallow: /g\n"
                "User-agent: *\nDisallow: /s\n",
            ),
            # empty-value Disallow still terminates UA accumulation
            (
                "d.example",
                1,
                "User-agent: googlebot\nDisallow:\n"
                "User-agent: *\nDisallow: /z\n",
            ),
        ],
        ROBOTS_FETCH_SCHEMA,
    )
    got = {r["host"]: r["disallow"] for r in parse_robots(fetched).collect()}
    assert got["a.example"] == ["/x"]
    assert got["b.example"] == ["/y"]
    assert got["c.example"] == ["/s"]
    assert got["d.example"] == ["/z"]


def test_robots_then_schedule_matches_simulator(spark):
    """north_rule end-to-end with robots in the loop: the robots gate
    (disallow filter + Crawl-delay budget clamp) composed with the
    distributed scheduler reproduces the single-threaded simulator fed the
    same clamped frontier."""
    from crypto_msg_parser_spark.crawl.queries import _ROBOTS_BODIES
    from crypto_msg_parser_spark.crawl.robots import (
        ROBOTS_FETCH_SCHEMA,
        apply_robots,
        parse_robots,
    )

    f = _frontier_df(spark, SF_SMOKE)
    fetched = spark.createDataFrame(_ROBOTS_BODIES, ROBOTS_FETCH_SCHEMA)
    gated = apply_robots(f, parse_robots(fetched))
    sim_rows = [
        {
            "url": r["url"],
            "host": r["host"],
            "priority": r["priority"],
            "rate_budget_per_min": r["rate_budget_per_min"],
        }
        for r in gated.collect()
    ]
    sim = oracle_sim.simulate(sim_rows)
    got = visit_sequence(gated).select(
        "epoch", "host", "in_host_rank", "canonical"
    ).collect()
    got_seq = [(r["epoch"], r["host"], r["in_host_rank"], r["canonical"]) for r in got]
    sim_seq = sorted(
        (r["epoch"], r["host"], r["in_host_rank"], r["canonical"]) for r in sim
    )
    assert got_seq == sim_seq
    hosts = {r[1] for r in got_seq}
    assert "api.huobi.pro" not in hosts  # fully disallowed
    # okx budget clamped by Crawl-delay: 2s -> 30/min (epochs stretch)
    okx_epochs = max(r[0] for r in got_seq if r[1] == "www.okx.com")
    n_okx = sum(1 for r in got_seq if r[1] == "www.okx.com")
    assert okx_epochs == (n_okx - 1) // 30


def test_mega_host_splits_across_rank_buckets(spark):
    """Skew defense (SURVEY §7.3 item 5): the dominant host's ranking work
    must spread over many rank_buckets — the window partitions on
    (host, priority, rank_bucket), so no single task serializes binance."""
    sched = schedule(_frontier_df(spark, SF_SMOKE))
    per_host = (
        sched.groupBy("host")
        .agg(
            F.countDistinct("rank_bucket").alias("n_buckets"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    by_host = {r["host"]: r for r in per_host}
    big = by_host["api.binance.com"]
    assert big["n"] == max(r["n"] for r in per_host)  # it IS the mega host
    assert big["n_buckets"] >= 8  # and its window work is split


def test_robots_rfc9309_longest_match_and_wildcards(spark):
    """Allow/Disallow longest-match precedence, '*' wildcards, '$' end
    anchors, comments — RFC 9309 semantics as pure Catalyst expressions."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.robots import (
        ROBOTS_FETCH_SCHEMA,
        parse_robots,
        robots_verdict,
    )

    body = (
        "# global rules\n"
        "User-agent: *\n"
        "Disallow: /api/sym          # short prefix\n"
        "Allow: /api/symbols\n"
        "Disallow: /priv/*/keys\n"
        "Disallow: /exact$\n"
        "Allow: /priv/open/keys\n"
        "Disallow: /tail*\n"
    )
    fetched = spark.createDataFrame(
        [("h.example", 1, body)], ROBOTS_FETCH_SCHEMA
    )
    rules_df = parse_robots(fetched)
    cases = [
        # (path, expected_allowed, why)
        ("/api/symbols", True, "Allow /api/symbols (12) beats Disallow /api/sym (8)"),
        ("/api/symbols/x", True, "same longest-match"),
        ("/api/sympx", False, "only Disallow /api/sym matches"),
        ("/priv/a/keys", False, "wildcard disallow"),
        ("/priv/open/keys", True, "Allow (15) beats Disallow /priv/*/keys (12)"),
        ("/priv/ab/cd/keys", False, "'*' spans multiple segments"),
        ("/exact", False, "end-anchored match"),
        ("/exactly", True, "'$' anchor rejects longer path"),
        ("/tailanything", False, "trailing '*'"),
        ("/other", True, "no rule matches"),
    ]
    paths = spark.createDataFrame(
        [(p,) for p, _, _ in cases], "path string"
    )
    joined = paths.crossJoin(rules_df.select("rules"))
    got = {
        r["path"]: r["ok"]
        for r in joined.select(
            "path", robots_verdict(F.col("path"), F.col("rules")).alias("ok")
        ).collect()
    }
    for p, want, why in cases:
        assert got[p] == want, f"{p}: {why} (got {got[p]})"


def test_robots_wild_match_differential_fuzz(spark):
    """Differential check of the Catalyst greedy-segment wildcard matcher
    against an independent regex-translation reference (the RFC 9309 rule
    semantics: '*' = any run, trailing '$' = end anchor, else prefix) over
    seeded-random and adversarial (path, pattern) pairs — one Spark job."""
    import random
    import re

    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.robots import _wild_match

    rng = random.Random(9309)
    pairs = []
    for _ in range(4000):
        path = "/" + "".join(
            rng.choice("ab/") for _ in range(rng.randrange(0, 10))
        )
        pat = "".join(rng.choice("ab/*") for _ in range(rng.randrange(0, 8)))
        if rng.random() < 0.3:
            pat += "$"
        pairs.append((path, pat))
    pairs += [
        ("/abab", "a*b$"),
        ("/ab", "*"),
        ("/ab", "**"),
        ("/", "$"),
        ("/a", "/a$"),
        ("/aa", "/a$"),
        ("/abc", "*c$"),
        ("/b", "b"),
        ("/ab/ab", "/a*/a*"),
        ("/aaa", "a*a*a$"),
        ("/ab", "/ab*$"),
        ("/ab", "*a*b*"),
        ("/ba", "*a*b*"),
    ]

    def ref(path: str, pat: str) -> bool:
        end = pat.endswith("$")
        core = pat[:-1] if end else pat
        rx = (
            "^"
            + ".*".join(re.escape(s) for s in core.split("*"))
            + ("$" if end else "")
        )
        return re.search(rx, path) is not None

    df = spark.createDataFrame(pairs, "path string, pat string")
    got = df.select(
        "path", "pat", _wild_match(F.col("path"), F.col("pat")).alias("m")
    ).collect()
    bad = [
        (r["path"], r["pat"], bool(r["m"]), ref(r["path"], r["pat"]))
        for r in got
        if bool(r["m"]) != ref(r["path"], r["pat"])
    ]
    assert not bad, f"{len(bad)} mismatches, first 10: {bad[:10]}"


def test_canonicalize_differential_fuzz(spark):
    """Differential check of the staged Catalyst canonicalizer against an
    independent Python reference of its documented 6 steps (lowercase
    scheme+host, drop fragment, drop default port, bytewise query-param
    sort, strip one trailing slash off a non-root path, drop empty
    query) over seeded-random and adversarial URLs — one Spark job."""
    import random

    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.canonicalize import canonicalize_df

    def ref(url: str) -> str:
        nf = url.split("#", 1)[0]
        scheme, _, after = nf.partition("://")
        scheme = scheme.lower()
        cut = len(after)
        for sep in ("/", "?"):
            i = after.find(sep)
            if i != -1:
                cut = min(cut, i)
        auth, pq = after[:cut].lower(), after[cut:]
        if scheme == "https" and auth.endswith(":443"):
            auth = auth[:-4]
        elif scheme == "http" and auth.endswith(":80"):
            auth = auth[:-3]
        path, _, query = pq.partition("?")
        if len(path) > 1 and path.endswith("/"):
            path = path[:-1]
        if path == "":
            path = "/"
        sq = "&".join(sorted(query.split("&"))) if query else ""
        return f"{scheme}://{auth}{path}" + (f"?{sq}" if sq else "")

    rng = random.Random(4242)
    hosts = ["API.Binance.com", "www.okx.com:443", "x.io:80", "a.b:8080"]
    urls = []
    for _ in range(3000):
        u = rng.choice(["https", "HTTP", "http", "HTTPS"]) + "://"
        u += rng.choice(hosts)
        u += "".join(rng.choice("ab/") for _ in range(rng.randrange(0, 6)))
        if rng.random() < 0.5:
            n = rng.randrange(1, 4)
            u += "?" + "&".join(
                f"{rng.choice('zyx')}={rng.randrange(9)}" for _ in range(n)
            )
        if rng.random() < 0.3:
            u += "#frag" + str(rng.randrange(9))
        urls.append(u)
    urls += [
        "https://API.EXAMPLE.com:443/",
        "http://a.b:80",
        "https://a.b:8443/p/",
        "https://a.b/p?b=2&a=1&a=0",
        "https://a.b/?",
        "https://a.b#only-frag",
        "HTTPS://UP.CASE/PathStaysCased/",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = canonicalize_df(df).select("url", "canonical").collect()
    bad = [
        (r["url"], r["canonical"], ref(r["url"]))
        for r in got
        if r["canonical"] != ref(r["url"])
    ]
    assert not bad, f"{len(bad)} mismatches, first 10: {bad[:10]}"


def test_redirect_resolve_matches_closed_form(spark):
    from crypto_msg_parser_spark.crawl.queries import redirect_resolve

    rows = redirect_resolve(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        k = int(r.url.rsplit("/", 1)[1])
        term = int(r.terminal_url.rsplit("/", 1)[1])
        assert term == k - (k % 4)
        assert r.hops == k % 4


def test_redirect_resolve_cycle_raises(spark):
    from pyspark.sql import Row

    from crypto_msg_parser_spark.crawl.queries import resolve_pointer_doubling

    # 0 -> 1 -> 2 -> 0: a redirect cycle must hit the iteration cap,
    # never silently emit a bogus terminal
    edges = spark.createDataFrame(
        [Row(src=0, nxt=1, h=1), Row(src=1, nxt=2, h=1), Row(src=2, nxt=0, h=1)]
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="no fixpoint"):
        resolve_pointer_doubling(edges, max_iters=5).collect()


def test_redirect_resolve_long_chain_log_rounds(spark):
    from pyspark.sql import Row

    from crypto_msg_parser_spark.crawl.queries import resolve_pointer_doubling

    # chain of length 40: 40 -> 39 -> ... -> 0; pointer doubling must
    # resolve it within ceil(log2(40)) + 1 = 7 rounds, far below a
    # 40-round sequential walk
    edges = spark.createDataFrame(
        [Row(src=i, nxt=max(i - 1, 0), h=1 if i > 0 else 0) for i in range(41)]
    )
    got = {
        r.src: (r.nxt, r.h)
        for r in resolve_pointer_doubling(edges, max_iters=7).collect()
    }
    assert got[40] == (0, 40)
    assert got[0] == (0, 0)


def test_sitemap_extract_differential_fuzz(spark):
    """Differential check of the sitemap <url>/<loc>/<lastmod> extraction
    regexes against Python `re` over seeded-random XML with adversarial
    nesting noise (missing lastmod, empty loc, attributes, whitespace) —
    one Spark job. Patterns live in the Java ∩ RE2 ∩ Python lazy-quantifier
    subset."""
    import random
    import re

    from pyspark.sql import functions as F

    rng = random.Random(818)

    def entry(loc, lastmod):
        lm = f"<lastmod>{lastmod}</lastmod>" if lastmod is not None else ""
        return f"<url><loc>{loc}</loc>{lm}</url>"

    bodies = []
    for _ in range(1500):
        n = rng.randrange(0, 5)
        parts = ["<urlset>"]
        for _ in range(n):
            loc = rng.choice(
                [
                    f"https://h{rng.randrange(4)}.io/p{rng.randrange(99)}",
                    "HTTPS://UP.example.COM:443/x#f",
                    "",  # empty loc
                    "https://a.b/?q=1&p=2",
                ]
            )
            lastmod = rng.choice(["2024-01-02", "2023-12-31", None])
            parts.append(entry(loc, lastmod))
        if rng.random() < 0.3:
            parts.append("<sitemap><loc>nested-index-not-a-url-entry</loc></sitemap>")
        parts.append("</urlset>")
        bodies.append("".join(parts))

    url_re, loc_re, lm_re = (
        r"<url>(.*?)</url>",
        r"<loc>([^<]*)</loc>",
        r"<lastmod>([^<]*)</lastmod>",
    )

    def ref(body):
        out = []
        for u in re.findall(url_re, body):
            m_loc = re.search(loc_re, u)
            m_lm = re.search(lm_re, u)
            out.append(
                (m_loc.group(1) if m_loc else "", m_lm.group(1) if m_lm else "")
            )
        return out

    df = spark.createDataFrame([(b,) for b in bodies], "body string")
    got = (
        df.select(
            "body",
            F.transform(
                F.regexp_extract_all("body", F.lit(url_re), 1),
                lambda u: F.struct(
                    F.regexp_extract(u, loc_re, 1).alias("loc"),
                    F.regexp_extract(u, lm_re, 1).alias("lm"),
                ),
            ).alias("es"),
        )
        .collect()
    )
    bad = 0
    for r in got:
        want = ref(r["body"])
        have = [(e["loc"], e["lm"]) for e in r["es"]]
        if want != have:
            bad += 1
    assert bad == 0, f"{bad} of {len(got)} bodies disagree with the re reference"


def test_bfs_expansion_requires_accumulated_seen_set(spark):
    """Negative arm for crawl_bfs_expansion: the classic frontier bug —
    deduping each wave against only the PREVIOUS wave instead of the
    accumulated seen set — must produce LARGER waves from epoch 2 on
    (re-admitting already-crawled nodes), so the oracle row genuinely
    discriminates it. If a graph change makes the two variants agree,
    the row has lost its reason to exist and this test flags it."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.registry import all_queries
    from crypto_msg_parser_spark.sources.testdata import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    n = docs.count()

    def links(prev):
        return (
            prev.select(((2 * F.col("node") + 1) % n).alias("node"))
            .unionByName(prev.select((F.expr("node DIV 3") % n).alias("node")))
            .distinct()
        )

    seeds = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("doc_id").alias("node"))
        .localCheckpoint(eager=True)
    )
    correct_wave, broken_wave, seen = seeds, seeds, seeds
    diverged = False
    for _ in range(3):
        t_c = links(correct_wave)
        correct_wave = t_c.join(seen, "node", "left_anti").localCheckpoint(True)
        seen = seen.unionByName(correct_wave).localCheckpoint(True)
        t_b = links(broken_wave)
        broken_wave = t_b.join(broken_wave, "node", "left_anti").localCheckpoint(True)
        n_c, n_b = correct_wave.count(), broken_wave.count()
        if n_b > n_c:
            diverged = True
    assert diverged, "broken dedup never re-admitted a seen node"

    # and the registered row agrees with the correct variant's first wave
    q = all_queries()["crawl_bfs_expansion"]
    rows = {r["epoch"]: r["n_new"] for r in q.spark_fn(spark, sf).collect()}
    assert rows[0] == seeds.count()


def test_url_trap_detect_flags_low_yield_host(spark):
    """The planted trap host (13 contents over hundreds of fetches) is the
    ONLY flagged host at sf0.01, and wasted_fetches is the exact refetch
    count. At sf0.001 the same host sits BELOW the 50-fetch evidence floor
    (40 fetches, 13 contents) and must NOT be flagged — the floor exists
    so thin hosts never get their budget cut on noise."""
    from crypto_msg_parser_spark.crawl.queries import url_trap_detect

    rows = {
        r["host"]: r
        for r in url_trap_detect(spark, "/root/testdata/sf0.01").collect()
    }
    assert rows["www.okx.com"]["is_trap"]
    assert rows["www.okx.com"]["n_contents"] == 13
    for host, r in rows.items():
        assert r["wasted_fetches"] == r["n_fetches"] - r["n_contents"]
        if host != "www.okx.com":
            assert not r["is_trap"]
            # healthy hosts mint one content per URL: zero waste
            assert r["wasted_fetches"] == 0

    small = {r["host"]: r for r in url_trap_detect(spark, SF_SMOKE).collect()}
    assert small["www.okx.com"]["n_fetches"] < 50
    assert not small["www.okx.com"]["is_trap"]


def test_mirror_host_detect_thresholds(spark):
    """Exactly two host pairs share any content: the planted full mirror
    (Jaccard 1.0 -> flagged) and the half-overlap pair (Jaccard 1/3 ->
    below the 0.8 integer threshold)."""
    from crypto_msg_parser_spark.crawl.queries import mirror_host_detect

    rows = {
        (r["host_a"], r["host_b"]): r
        for r in mirror_host_detect(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {
        ("h0.example.org", "h1.example.org"),
        ("h2.example.org", "h3.example.org"),
    }
    full = rows[("h0.example.org", "h1.example.org")]
    assert full["is_mirror"] and full["jaccard_pct"] == 100
    assert full["shared_docs"] == full["n_docs_a"] == full["n_docs_b"]
    part = rows[("h2.example.org", "h3.example.org")]
    assert not part["is_mirror"] and part["jaccard_pct"] < 80
    # exact integer threshold: 5*shared vs 4*union, never a float compare
    union = part["n_docs_a"] + part["n_docs_b"] - part["shared_docs"]
    assert 5 * part["shared_docs"] < 4 * union


def test_dust_param_detect_verdicts(spark):
    """sessionid (content-invariant) is strippable; page (load-bearing)
    is not; single-variant groups never count as evidence."""
    from crypto_msg_parser_spark.crawl.queries import dust_param_detect

    rows = {r["param"]: r for r in dust_param_detect(spark, SF_SMOKE).collect()}
    assert set(rows) == {"sessionid", "page"}
    sess = rows["sessionid"]
    assert sess["is_irrelevant"]
    assert sess["n_multi_groups"] == sess["n_consistent_multi"] > 0
    page = rows["page"]
    assert not page["is_irrelevant"]
    assert page["n_consistent_multi"] == 0  # every varying group changes content
    # evidence accounting: multi groups never exceed total groups
    for r in rows.values():
        assert 0 < r["n_multi_groups"] <= r["n_groups"]


def test_domain_budget_rollup_psl_semantics(spark):
    """Subdomains of one owner merge; public suffixes never become the
    rollup key (example.co.uk does not collapse into co.uk)."""
    from crypto_msg_parser_spark.crawl.queries import domain_budget_rollup

    rows = {r["domain"]: r for r in domain_budget_rollup(spark, SF_SMOKE).collect()}
    assert set(rows) == {
        "binance.com", "example.co.uk", "okx.com", "site.com.au", "kraken.com",
    }
    assert rows["binance.com"]["n_hosts"] == 2  # api. + www. share the budget
    assert rows["example.co.uk"]["n_hosts"] == 2
    assert rows["site.com.au"]["n_hosts"] == 2
    # budget accounting is exact: per-URL budget is k%3+1
    total = sum(r["budget_total"] for r in rows.values())
    n = sum(r["n_urls"] for r in rows.values())
    assert total == sum(k % 3 + 1 for k in range(n))


def test_sitemap_coverage_audit_quadrants(spark):
    """The four reconciliation quadrants are mutually consistent and all
    non-empty (CRT overlap of the k%3 / k%2 synthetic sets), and the
    grand totals match the closed-form set sizes."""
    from crypto_msg_parser_spark.crawl.queries import sitemap_coverage_audit

    rows = sitemap_coverage_audit(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_listed"] == r["n_both"] + r["n_backlog"]
        assert r["n_crawled"] == r["n_both"] + r["n_orphan_crawled"]
        assert r["coverage_pct"] == (100 * r["n_both"]) // max(r["n_listed"], 1)
    # quadrants non-empty globally (api.huobi.pro sees only even k, so its
    # backlog is legitimately zero — the identity asserts above still bind)
    assert sum(r["n_both"] for r in rows) > 0
    assert sum(r["n_backlog"] for r in rows) > 0
    assert sum(r["n_orphan_crawled"] for r in rows) > 0
    n = 200  # part rows at sf0.001
    assert sum(r["n_listed"] for r in rows) == sum(1 for k in range(n) if k % 3 != 2)
    assert sum(r["n_crawled"] for r in rows) == sum(1 for k in range(n) if k % 2 == 0)
    assert sum(r["n_both"] for r in rows) == sum(
        1 for k in range(n) if k % 3 != 2 and k % 2 == 0
    )


def test_host_latency_budget_inverse_monotone(spark):
    """Budget is inverse in the EWMA: slower hosts never get MORE budget,
    and ewma_ms is a true weighted mean: the accumulator is divided by the
    weight sum of the fetches present, so it lies between the min and max
    of the host's <= 8 most recent latencies."""
    from crypto_msg_parser_spark.crawl.queries import (
        _host,
        host_latency_ewma_budget,
    )
    from crypto_msg_parser_spark.sources.testdata import load_table

    rows = host_latency_ewma_budget(spark, SF_SMOKE).collect()
    assert len(rows) == 4
    by_ewma = sorted(rows, key=lambda r: r.ewma_num)
    budgets = [r.new_budget_per_min for r in by_ewma]
    assert budgets == sorted(budgets, reverse=True)
    for r in rows:
        assert 6 <= r.new_budget_per_min <= 600
        # latency domain is [80, 649]; a weighted mean stays inside it
        assert 80 <= r.ewma_ms <= 649
        assert 80 <= r.p50_latency_ms <= 649

    # the recency window replayed in Python: latency of fetch k, newest
    # (largest k) first
    def latency(k):
        d = k % 10
        base = 80 if d <= 5 else 120 if d <= 7 else 200 if d == 8 else 350
        return base + (k * 37) % 300

    fetches = {}
    part = load_table(spark, SF_SMOKE, "part")
    for f in part.select(F.col("p_partkey").alias("k"), _host().alias("host")).collect():
        fetches.setdefault(f.host, []).append(f.k)
    for r in rows:
        recent = [latency(k) for k in sorted(fetches[r.host], reverse=True)[:8]]
        assert min(recent) <= r.ewma_ms <= max(recent), (r, recent)


def test_recrawl_change_rate_ranking_contract(spark):
    """Per-host shortlist: exactly top-10, rank-ordered by (priority desc,
    url), and the closed-form change counter matches a Python replay."""
    from crypto_msg_parser_spark.crawl.queries import (
        _RECRAWL_EPOCHS,
        recrawl_change_rate,
    )

    rows = recrawl_change_rate(spark, SF_SMOKE).collect()
    hosts = {}
    for r in rows:
        hosts.setdefault(r.host, []).append(r)
        k = int(r.url.rsplit("=", 1)[1])
        per = 1 + k % 5
        expect_changes = sum(
            1 for e in range(1, _RECRAWL_EPOCHS + 1) if (k + e) % per == 0
        )
        assert r.n_changes == expect_changes
        assert r.change_rate_ppm == 1000000 * r.n_changes // _RECRAWL_EPOCHS
    for host, hr in hosts.items():
        hr.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in hr] == list(range(1, len(hr) + 1))
        assert len(hr) <= 10
        keys = [(-r.priority, r.url) for r in hr]
        assert keys == sorted(keys)
