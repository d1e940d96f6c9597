"""crawl_fresh: the first crawl epoch over a seeded, messy, host-skewed
frontier.

The epoch canonicalizes and buckets the frontier, dedups it against the
prior seen set (cuckoo prefilter plus the exact anti-join backstop), gates
it on robots.txt, schedules it, fetches it, and commits the frontier and
the extended seen set. Then the next epoch resumes: it restores the
checkpoint and builds the cuckoo filters over the restored seen set. Every
layer's input is materialized before its span opens and its output inside
it, so a span is that layer's own time.
"""

from __future__ import annotations

import collections
import pathlib
from urllib.parse import urlsplit

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from crypto_msg_parser_spark.crawl import cuckoo, oracle_sim, robots, scheduler
from crypto_msg_parser_spark.crawl import frontier as fr
from crypto_msg_parser_spark.crawl.queries import _ROBOTS_BODIES

from perfbench import inputs

N_URLS = 20_000
# filter granularity rank_bucket >> 5 = 32 groups, as the registry's cuckoo
# rows use: at this size 1024 per-bucket pandas groups are mostly overhead
COARSEN = 5
ORACLE_SLICE = 400

FRONTIER_COLS = ["url", "host", "priority", "rate_budget_per_min"]
FRONTIER_DDL = "url string, host string, priority int, rate_budget_per_min int"
SEEN_DDL = "rank_bucket long, url_hash long, canonical string"
SEEN_COLS = ["rank_bucket", "url_hash", "canonical"]

# closed form of _ROBOTS_BODIES for this frontier's paths
ROBOTS_BLOCKED_HOSTS = {"api.huobi.pro"}  # Disallow: /api
ROBOTS_BLOCKED_PATH = "/api/symbols/private"  # binance's longer Disallow
ROBOTS_BUDGET = {"www.okx.com": 30}  # Crawl-delay: 2 -> 60/2 per minute


def _hash_sum(df):
    """Order-independent content hash of the (url_hash, canonical) rows."""
    h = F.xxhash64("url_hash", "canonical").bitwiseAND(F.lit(0xFFFFFFFF))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return int(row["n"]), int(row["h"] or 0)


def coarse(df):
    """Filter-table granularity: rank_bucket >> COARSEN, the grouping
    cuckoo_prefilter uses, under the column build_cuckoo_buckets keys on."""
    return df.withColumn("rank_bucket", F.shiftright("rank_bucket", COARSEN))


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in pathlib.Path(path).rglob("*") if p.is_file())


class CrawlFresh:
    # the first warm epoch still shares the host with 13-15 CPU s of JIT
    # compilation, and its work CPU rose and fell with that
    warmup = 1
    passes = 1  # warm epochs per run: one epoch is ~10 s of work

    def __init__(self, spark, work: pathlib.Path, seed: int):
        self.spark = spark
        self.frontier, self.seen = inputs.frontier_rows(seed, N_URLS)
        self.input_sha = inputs.input_sha(self.frontier, self.seen)
        self.items = len(self.frontier)
        self.parts = spark.sparkContext.defaultParallelism
        self.raw = (
            spark.createDataFrame(pd.DataFrame(self.frontier, columns=FRONTIER_COLS), FRONTIER_DDL)
            .repartition(self.parts)
            .localCheckpoint(eager=True)
        )
        self.prior_seen = (
            spark.createDataFrame(pd.DataFrame(self.seen, columns=SEEN_COLS), SEEN_DDL)
            .localCheckpoint(eager=True)
        )
        self.ckpt = fr.FrontierCheckpoint(str(work / "frontier"))
        self.bodies = spark.createDataFrame(_ROBOTS_BODIES, robots.ROBOTS_FETCH_SCHEMA)
        self.out: dict = {}

    def build(self, tr) -> None:
        """Crawl plans are built inside each layer call; nothing to prebuild."""

    def run(self, tr) -> None:
        spark, seen = self.spark, self.prior_seen
        with tr.span("crawl.epoch"):
            with tr.span("crawl.scheduler.prepare_frontier"):
                prepared = scheduler.prepare_frontier(self.raw).localCheckpoint(eager=True)
            with tr.span("crawl.scheduler.bucketize"):
                bucketed = scheduler.bucketize(prepared, self.parts).localCheckpoint(eager=True)
            tr.count("crawl.scheduler.prepare_frontier.rows_out", prepared.count)

            with tr.span("crawl.frontier.cuckoo_prefilter"):
                fresh, maybe = fr.cuckoo_prefilter(spark, bucketed, seen, coarsen=COARSEN)
                fresh = fresh.localCheckpoint(eager=True)
                maybe = maybe.localCheckpoint(eager=True)
            with tr.span("crawl.frontier.dedup_against_seen"):
                rechecked = fr.dedup_against_seen(maybe, seen).localCheckpoint(eager=True)
            new = fresh.unionByName(rechecked)
            n_maybe = maybe.count() if tr.enabled else 0
            tr.count("crawl.frontier.cuckoo_prefilter.pass_ratio",
                     lambda: n_maybe / self.items)
            tr.count("crawl.frontier.cuckoo_prefilter.fp_ratio",
                     lambda: rechecked.count() / max(n_maybe, 1))
            tr.count("crawl.frontier.dedup_against_seen.rows_out", rechecked.count)

            with tr.span("crawl.robots.parse_robots"):
                rules = robots.parse_robots(self.bodies).localCheckpoint(eager=True)
            with tr.span("crawl.robots.apply_robots"):
                allowed = robots.apply_robots(new, rules).localCheckpoint(eager=True)
            n_new = new.count() if tr.enabled else 0
            tr.count("crawl.robots.apply_robots.rows_in", lambda: n_new)
            tr.count("crawl.robots.apply_robots.blocked_ratio",
                     lambda: 1 - allowed.count() / max(n_new, 1))

            with tr.span("crawl.scheduler.schedule"):
                sched = scheduler.schedule(allowed).localCheckpoint(eager=True)
            with tr.span("crawl.frontier.fetch_stub"):
                docs = fr.fetch_stub(sched).localCheckpoint(eager=True)
            tr.count("crawl.frontier.fetch_stub.docs", docs.count)
            tr.count("crawl.frontier.fetch_stub.spans",
                     lambda: docs.agg(F.sum(F.size("spans"))).first()[0])

            new_seen = seen.unionByName(new.select(*SEEN_COLS))
            with tr.span("crawl.frontier.checkpoint_commit"):
                manifest = self.ckpt.commit(spark, "epoch1", sched, new_seen)
            tr.count("crawl.frontier.checkpoint_commit.bytes",
                     lambda: _dir_bytes(self.ckpt._snap_dir("epoch1")))

            # the next epoch resumes from the checkpoint
            with tr.span("crawl.frontier.checkpoint_restore"):
                r_sched, r_seen, r_manifest = self.ckpt.restore(spark, "epoch1")
                r_sched = r_sched.localCheckpoint(eager=True)
                r_seen = r_seen.localCheckpoint(eager=True)
            with tr.span("crawl.cuckoo.build"):
                filters = cuckoo.build_cuckoo_buckets(coarse(r_seen)).localCheckpoint(eager=True)
        self.out = dict(bucketed=bucketed, new=new, allowed=allowed, sched=sched,
                        docs=docs, manifest=manifest, new_seen=new_seen,
                        r_sched=r_sched, r_seen=r_seen, r_manifest=r_manifest,
                        filters=filters)

    def checks(self) -> dict[str, str | None]:
        """name -> None when the check holds, else what differed."""
        o = self.out
        res = {}
        exp_new = inputs.expected_new(self.frontier, self.seen)

        exact = fr.dedup_against_seen(o["bucketed"], self.prior_seen)
        got, want = _hash_sum(o["new"]), _hash_sum(exact)
        res["prefilter_equals_exact_antijoin"] = (
            None if got == want else f"prefilter {got} != exact {want}"
        )

        by_host = collections.Counter(h for _, h in exp_new)
        got_host = {r["host"]: r["count"] for r in o["new"].groupBy("host").count().collect()}
        res["new_urls_match_python_oracle"] = (
            None if got_host == dict(by_host) else f"{got_host} != {dict(by_host)}"
        )

        exp_allowed = collections.Counter(
            h for c, h in exp_new
            if h not in ROBOTS_BLOCKED_HOSTS and urlsplit(c).path != ROBOTS_BLOCKED_PATH
        )
        rows = o["allowed"].groupBy("host").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rate_budget_per_min").alias("lo"),
            F.max("rate_budget_per_min").alias("hi"),
        ).collect()
        got_allowed = {r["host"]: r["n"] for r in rows}
        budgets = {r["host"]: (r["lo"], r["hi"]) for r in rows}
        exp_budgets = {
            h: (ROBOTS_BUDGET.get(h, inputs.RATE_BUDGET),) * 2 for h in exp_allowed
        }
        res["robots_closed_form"] = (
            None if got_allowed == dict(exp_allowed) and budgets == exp_budgets
            else f"allowed {got_allowed} budgets {budgets}"
        )

        n_sched = o["sched"].count()
        n_docs, n_spans = o["docs"].agg(
            F.count(F.lit(1)), F.sum(F.size("spans"))
        ).first()
        n_media = o["sched"].filter(F.col("in_host_rank") % 7 == 0).count()
        res["fetch_docs_match_schedule"] = (
            None if n_docs == n_sched == sum(exp_allowed.values())
            and n_spans == 2 * n_docs + n_media
            else f"docs {n_docs} spans {n_spans} scheduled {n_sched}"
        )

        m = o["manifest"]
        res["checkpoint_manifest_rows"] = (
            None if m["seen_rows"] == len(self.seen) + len(exp_new)
            and m["frontier_rows"] == n_sched
            else f"manifest seen {m['seen_rows']} frontier {m['frontier_rows']}"
        )

        want = _hash_sum(o["new_seen"])
        got = _hash_sum(o["r_seen"])
        res["restore_equals_commit"] = (
            None if got == want and o["r_sched"].count() == n_sched
            and o["r_manifest"]["seen_rows"] == m["seen_rows"]
            else f"restored seen {got} != committed {want}"
        )
        res["cuckoo_filters_equal_python_twin"] = self._check_cuckoo(o["filters"], o["r_seen"])

        res["schedule_equals_oracle_sim"] = self._oracle_slice()
        return res

    def _check_cuckoo(self, filters, r_seen) -> str | None:
        """The filter table equals a plain-Python twin built per coarse
        bucket from the restored seen set, and holds every seen URL."""
        by_bucket = collections.defaultdict(list)
        for b, h in coarse(r_seen).select("rank_bucket", "url_hash").collect():
            by_bucket[b].append(h)
        want = {}
        for b, hs in by_bucket.items():
            hs = np.array(hs, dtype=np.int64)
            c = cuckoo.Cuckoo(max(len(hs), 64))
            c.insert(hs)
            m, table, ovf = c.to_state()
            want[b] = (len(hs), m, table, list(ovf), bool(c.might_contain(hs).all()))
        got = {r["rank_bucket"]: (r["n"], r["m"], bytes(r["table"]), list(r["overflow"]), True)
               for r in filters.collect()}
        bad = sorted(b for b in set(got) | set(want) if got.get(b) != want.get(b))
        return None if not bad else f"{len(bad)} filter buckets differ, e.g. {bad[0]}"

    def _oracle_slice(self) -> str | None:
        """schedule() on a small seeded slice equals crawl/oracle_sim."""
        first: dict[str, tuple] = {}
        for row in self.frontier:
            first.setdefault(oracle_sim.canonical_url(row[0]), row)
            if len(first) == ORACLE_SLICE:
                break
        rows = list(first.values())
        want = sorted(
            (r["epoch"], r["host"], r["in_host_rank"], r["canonical"])
            for r in oracle_sim.simulate(
                [dict(zip(FRONTIER_COLS, r)) for r in rows]
            )
        )
        df = self.spark.createDataFrame(pd.DataFrame(rows, columns=FRONTIER_COLS), FRONTIER_DDL)
        got = sorted(
            tuple(r) for r in scheduler.schedule(df)
            .select("epoch", "host", "in_host_rank", "canonical").collect()
        )
        return None if got == want else f"{len(got)} scheduled rows differ from the oracle's {len(want)}"
