"""Seeded workload inputs, generated in plain Python (no Spark session).

The same seed gives the same rows, in the same order; ``input_sha`` is the
fingerprint the result records so two runs can be checked for identical
inputs.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import random

from crypto_msg_parser_spark.crawl.oracle_sim import canonical_url, stable_hash64
from crypto_msg_parser_spark.crawl.scheduler import _BUCKET_SHIFT

ROOT = pathlib.Path(__file__).resolve().parent.parent
FIXTURES = ROOT / "tests/fixtures/reference_fixtures.jsonl"

# id % 10 -> host, the skew of crawl/seeds.synthetic_frontier
HOST_BY_MOD = (
    ["api.binance.com"] * 5
    + ["www.okx.com"] * 2
    + ["api.huobi.pro", "api.kraken.com", "www.bitmex.com"]
)
RATE_BUDGET = 600
SEEN_SHARE = 1 / 3
DUP_SHARE = 0.1  # frontier rows that repeat an earlier id in another spelling
RECEIVED_AT = 1609459200000  # fixed crawl-receive time, as in tests/parser_util


def url_path(i: int, host: str) -> str:
    # every 13th binance id hits the robots Disallow: /api/symbols/private
    if host == "api.binance.com" and i % 13 == 0:
        return "/api/symbols/private"
    return "/api/symbols"


def clean_url(i: int) -> str:
    host = HOST_BY_MOD[i % 10]
    return f"https://{host}{url_path(i, host)}?id={i}&page={i % 3}"


def _messy_url(rng: random.Random, i: int) -> str:
    host = HOST_BY_MOD[i % 10]
    query = [f"id={i}", f"page={i % 3}"]
    rng.shuffle(query)
    scheme = "HTTPS" if rng.random() < 0.2 else "https"
    authority = host.upper() if rng.random() < 0.3 else host
    if rng.random() < 0.3:
        authority += ":443"
    frag = f"#s{rng.randrange(100)}" if rng.random() < 0.3 else ""
    return f"{scheme}://{authority}{url_path(i, host)}?{'&'.join(query)}{frag}"


def seen_row(canonical: str) -> tuple[int, int, str]:
    h = stable_hash64(canonical)
    return h >> _BUCKET_SHIFT, h, canonical


def frontier_rows(seed: int, n: int):
    """Return (frontier, seen): ``n`` messy frontier rows
    (url, host, priority, rate_budget_per_min) and the prior epoch's seen
    set as (rank_bucket, url_hash, canonical). About a third of the
    frontier is already seen; the seen set also holds URLs the frontier
    no longer mentions."""
    rng = random.Random(seed)
    n_ids = int(n * (1 - DUP_SHARE))
    ids = rng.sample(range(10 * n), n_ids)
    frontier_ids = ids + rng.choices(ids, k=n - n_ids)
    rng.shuffle(frontier_ids)
    frontier = [
        (_messy_url(rng, i), HOST_BY_MOD[i % 10], i % 3, RATE_BUDGET)
        for i in frontier_ids
    ]
    seen_ids = [i for i in ids if rng.random() < SEEN_SHARE]
    # retired-from-frontier URLs: ids above the frontier's id range
    seen_ids += range(10 * n, 10 * n + n // 20)
    seen = [seen_row(clean_url(i)) for i in seen_ids]
    return frontier, seen


def parse_rows(seed: int, copies: int, fixtures: pathlib.Path = FIXTURES):
    """The reference fixtures replicated ``copies`` times in a seeded
    shuffle, as raw-message rows
    (msg_id, exchange, market_type, msg_type, received_at, msg).

    Fixtures without a msg_type carry it in the fixture id
    (<exchange>:<msg_type>:<variant>:<n>); those without a market_type are
    read as spot, except bitfinex futures snapshots (tests do the same)."""
    fx = [json.loads(line) for line in fixtures.open()]
    one = []
    for r in fx:
        mt = r["market_type"] or (
            "linear_swap" if r["exchange"] == "bitfinex" and "F0" in r["raw"]
            else "spot"
        )
        msg_type = r["msg_type"] or r["fixture_id"].split(":")[1]
        one.append((r["fixture_id"], r["exchange"], mt, msg_type, r["raw"]))
    rows = [
        (f"{fid}#{k}", ex, mt, msg_type, RECEIVED_AT, raw)
        for k in range(copies)
        for fid, ex, mt, msg_type, raw in one
    ]
    random.Random(seed).shuffle(rows)
    return rows


def input_sha(*row_lists) -> str:
    h = hashlib.sha256()
    for rows in row_lists:
        for row in rows:
            h.update(json.dumps(row, separators=(",", ":")).encode())
            h.update(b"\n")
    return h.hexdigest()


def expected_new(frontier, seen) -> list[tuple[str, str]]:
    """(canonical, host) of every frontier row not in the seen set — the
    plain-Python twin of the prefilter + anti-join path."""
    seen_c = {c for _, _, c in seen}
    out = []
    for url, host, _, _ in frontier:
        c = canonical_url(url)
        if c not in seen_c:
            out.append((c, host))
    return out
