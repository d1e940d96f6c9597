"""Physical-plan regression guards for the optimizer claims the engine
makes (BENCH/BASELINE.md, SURVEY §4): filters reach the parquet scan,
column pruning holds, small dimensions broadcast, and no query silently
degenerates to a cartesian product. Plan strings are asserted loosely
(feature presence, not exact trees) so Spark upgrades don't break them."""

from __future__ import annotations

import pytest

from crypto_msg_parser_spark.registry import all_queries

SF = "/root/testdata/sf0.001"

QUERIES = all_queries()


def _plan(spark, name: str) -> str:
    df = QUERIES[name].spark_fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_leeready_filter_pushed_and_columns_pruned(spark):
    plan = _plan(spark, "trade_sign_leeready_1m")
    assert "EqualTo(l_linenumber,1)]" in plan
    # projection pruning: the filtered scan must not read provenance-only
    # columns
    read = plan.split("EqualTo(l_linenumber,1)], ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read and "l_shipinstruct" not in read


def test_dimension_joins_broadcast(spark):
    # the contract-value dictionaries are fixed-size dimension tables
    for name in ("parse_gate_linear_swap_trade", "parse_okx_swap_trade"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def _dimension_builders():
    from crypto_msg_parser_spark.crawl.seeds import seed_frontier
    from crypto_msg_parser_spark.parser import (
        bitget, bitmex, gate, huobi, kucoin, mexc, okx, zbg,
    )

    return [
        bitget._cv_dict, bitmex._ticks_dict, bitmex._cv_dict, gate._cv_dict,
        huobi._linear_cv_dict, kucoin._cv_dict, mexc._cv_dict,
        okx._linear_cv_dict, zbg._swap_map, seed_frontier,
    ]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_dimension_tables_are_local_relations(spark, arrow):
    """A constant table built from a Python list must be a LocalRelation
    whatever the session's Arrow setting: an RDD of pickled rows
    (LogicalRDD) starts Python workers on every execution of every plan
    that joins it."""
    from crypto_msg_parser_spark.schemas import FRONTIER_SCHEMA

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        for build in _dimension_builders():
            df = build(spark)
            plan = df._jdf.queryExecution().optimizedPlan()
            assert plan.nodeName() == "LocalRelation", (
                build.__qualname__, plan.toString()
            )
            assert plan.children().isEmpty(), build.__qualname__
            # the same schema createDataFrame(rows, ddl) gave: all nullable,
            # except the frontier's declared non-null columns
            want = FRONTIER_SCHEMA if build.__name__ == "seed_frontier" else None
            assert [f.nullable for f in df.schema.fields] == (
                [f.nullable for f in want.fields] if want else [True] * len(df.columns)
            ), build.__qualname__
            assert df.count() > 0, build.__qualname__
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("escaped", ["true", "false"])
def test_local_table_equals_create_dataframe(spark, escaped):
    """local_table holds the same rows and schema as createDataFrame for
    values SQL quoting could mangle, under either string-literal parser
    mode."""
    from crypto_msg_parser_spark.sources.local import local_table

    ddl = "s string not null, n bigint, x double, b boolean"
    rows = [
        ("a'b\\c\n\"d`", -(1 << 59) - 7, 1e-08, True),
        ("ünï☃ \\' '' \\n", None, 1.0000000000000002, None),
        ("", 2147483648, -2.5e300, False),
    ]
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        got = local_table(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        empty = local_table(spark, [], "h bigint, c string")
        assert empty.schema == spark.createDataFrame([], "h bigint, c string").schema
        assert empty.count() == 0
    finally:
        spark.conf.set(key, old)


def test_api_parse_plans_read_no_rdd_but_their_input(spark, tmp_path):
    """Over a parquet input, no api.parse_* plan has an RDD leaf: every
    dimension table it joins is a LocalRelation."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.parser import api
    from tests.parser_util import fixtures_df, load_fixtures

    rows = [dict(r, market_type=r["market_type"] or "spot") for r in load_fixtures()]
    fixtures_df(spark, rows).write.parquet(str(tmp_path / "raw"))
    raw = spark.read.parquet(str(tmp_path / "raw")).withColumn(
        "routed_symbol", F.lit(None).cast("string")
    )
    for fn in (api.parse_trade, api.parse_l2, api.parse_l2_topk, api.parse_bbo,
               api.parse_funding_rate, api.parse_candlestick, api.parse_l2_snapshot):
        qe = fn(raw)._jdf.queryExecution()
        leaves = qe.optimizedPlan().collectLeaves()
        names = {leaves.apply(i).nodeName() for i in range(leaves.size())}
        assert "LogicalRDD" not in names, (fn.__name__, names)
        assert "ExistingRDD" not in qe.executedPlan().toString(), fn.__name__


def test_no_cartesian_products_anywhere(spark):
    # every registered query must avoid accidental cross joins; the ANN
    # brute-force scans are explicit BroadcastNestedLoop by design, and
    # corpus_domain_rebalance cross-joins a global aggregate's SINGLE row
    # (the grand token total) — a 1-row build side is bounded at any scale
    # ann_recall_report embeds the brute-force side as its ground truth,
    # so it inherits ann_cosine_topk's intentional BNL scan — as does
    # ann_ivf_kmeans_gate, whose within-brute-bound invariant needs the
    # same broadcast-query-set x corpus pass
    # corpus_drift_topk cross-joins the same kind of SINGLE-row global
    # aggregate (the two snapshot token totals) — 1-row build side,
    # bounded at any scale; collocation_lift_topk cross-joins the 1-row
    # corpus token total onto the min-count-filtered bigram heavy
    # hitters (same grand-total pattern, documented in its docstring)
    allowed_bnl = {
        "ann_cosine_topk",
        "ann_recall_report",
        "ann_ivf_kmeans_gate",
        "collocation_lift_topk",
        "corpus_domain_rebalance",
        "corpus_drift_topk",
    }
    for name in sorted(QUERIES):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnl:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_parse_queries_scan_once(spark):
    """The parsed_once Generate barrier: each single-format parse query
    evaluates its from_json envelope exactly once per row."""
    for name in (
        "parse_binance_spot_trade",
        "parse_kucoin_spot_trade",
        "parse_okx_swap_trade",
        "parse_huobi_spot_trade",
    ):
        plan = _plan(spark, name)
        assert plan.count("from_json") <= 2, (  # envelope + optional probe
            f"{name}: from_json duplicated {plan.count('from_json')}x"
        )


def test_seen_set_anti_join_is_exchange_free(spark):
    """Bucketed seen-set dedup: the co-partitioned merge anti-join adds no
    shuffle beyond the frontier's own preparation."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.frontier import dedup_against_seen
    from crypto_msg_parser_spark.crawl.queries import _frontier_df
    from crypto_msg_parser_spark.crawl.scheduler import bucketize, prepare_frontier

    f = bucketize(prepare_frontier(_frontier_df(spark, SF)), 8)
    seen = f.filter(F.col("p_partkey") % 3 == 0).select(
        "rank_bucket", "url_hash", "canonical"
    )
    plan = (
        dedup_against_seen(f, seen)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "LeftAnti" in plan
    # the anti-join itself introduces no hash-partitioning exchange on the
    # full (bucket, hash, canonical) tuple
    assert "hashpartitioning(rank_bucket" in plan.lower() or plan.count(
        "Exchange"
    ) <= plan.count("REPARTITION") + 2


def _run_plans(spark, action) -> list[tuple[dict, dict]]:
    """Run ``action`` and return the (node id -> name, child -> parent id)
    plan graph of every SQL execution it started, read from the status
    store: a checkpointed frame's own executedPlan is only a scan, so the
    work behind it shows only in the executions that ran it."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    first = store.executionsCount()
    action()
    bus.waitUntilEmpty()
    execs = store.executionsList(first, store.executionsCount() - first)
    graphs = []
    for i in range(execs.size()):
        g = store.planGraph(execs.apply(i).executionId())
        nodes, edges = g.allNodes(), g.edges()
        graphs.append((
            {nodes.apply(k).id(): nodes.apply(k).name() for k in range(nodes.size())},
            {edges.apply(k).fromId(): edges.apply(k).toId() for k in range(edges.size())},
        ))
    return graphs


def test_cuckoo_prefilter_builds_once_and_probes_in_catalyst(spark):
    """Materializing both prefilter outputs builds the filters once (one
    grouped map), probes them without a pandas cogroup, and shuffles only
    the build's input: the frontier side has no Exchange."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.crawl.frontier import cuckoo_prefilter
    from crypto_msg_parser_spark.crawl.queries import _frontier_df
    from crypto_msg_parser_spark.crawl.scheduler import prepare_frontier

    f = prepare_frontier(_frontier_df(spark, SF)).repartition(4).localCheckpoint(eager=True)
    seen = f.filter(F.col("p_partkey") % 3 == 0).select(
        "rank_bucket", "url_hash", "canonical"
    )

    def both():
        fresh, maybe = cuckoo_prefilter(spark, f, seen, coarsen=5)
        fresh.localCheckpoint(eager=True)
        maybe.localCheckpoint(eager=True)

    names = []
    for nodes, parent in _run_plans(spark, both):
        names += nodes.values()
        for nid, name in nodes.items():
            if name != "Exchange":
                continue
            above = []
            while nid in parent:
                nid = parent[nid]
                above.append(nodes[nid])
            assert "FlatMapGroupsInPandas" in above, f"frontier shuffled: {above}"
    assert names.count("FlatMapGroupsInPandas") == 1, names
    assert "FlatMapCoGroupsInPandas" not in names
    assert "BroadcastHashJoin" in names


def test_pack_prefix_sum_two_level(spark):
    """Sequence packing (r02 verdict scale-killer #2): the only
    single-partition stage allowed is the global window over PER-SUPER
    totals (n_docs/2^20 rows); both bounded window levels (_b leaf, _s
    super) must exist. A plan with >1 SinglePartition exchange, or one
    missing an aggregation level, has regressed to an input-proportional
    serial stage."""
    for name in ("corpus_pack_sequences", "corpus_prep_full"):
        plan = _plan(spark, name)
        assert plan.count("Exchange SinglePartition") == 1, name
        assert "hashpartitioning(_b" in plan, name
        assert "hashpartitioning(_s" in plan, name


def test_no_forced_broadcast_on_unbounded_sides():
    """r02 verdict scale-killers #3/#4: dedup/corpus operators must not
    force-broadcast frames that grow with the corpus (component sizes,
    benchmark trigrams, pack offsets). Source-level guard: no F.broadcast
    hint at all in these modules — every remaining broadcast there is
    AQE's runtime decision. Parser/crawl modules keep their hints: those
    sides are genuinely fixed-size dictionaries (contract-value tables,
    robots caches)."""
    import pathlib

    import crypto_msg_parser_spark.operators.corpus as corpus_mod
    import crypto_msg_parser_spark.operators.dedup as dedup_mod

    for mod in (corpus_mod, dedup_mod):
        src = pathlib.Path(mod.__file__).read_text()
        assert "F.broadcast(" not in src, mod.__name__


def test_route_ladder_single_generate_barrier(spark):
    """The fused routing triple: ONE struct ladder behind ONE Generate
    barrier (three parallel column ladders re-evaluated the match and blew
    HotSpot's JIT method limit), and no Python evaluation anywhere."""
    plan = _plan(spark, "route_mixed_exchanges")
    assert plan.count("Generate explode") == 1, plan.count("Generate explode")
    assert "BatchEvalPython" not in plan
    # the session conf that keeps oversized codegen subtrees from running
    # interpreted-by-JIT-refusal must be applied by the query wrapper
    assert spark.conf.get("spark.sql.codegen.hugeMethodLimit") == "8000"


def test_route_parses_each_message_once(spark):
    """In api.route's optimized plan, ``msg`` is the argument of exactly
    one JSON-parsing expression: every arm of the routing ladder reads the
    one parse, none re-scans the text."""
    import re

    from crypto_msg_parser_spark.parser import api
    from tests.parser_util import fixtures_df, load_fixtures

    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        rows = [dict(r, market_type=r["market_type"] or "spot") for r in load_fixtures()]
        for extended in (False, True):
            df = api.route(fixtures_df(spark, rows), extended=extended)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            parses = re.findall(
                r"(?:get_json_object|json_tuple|from_json|parse_json|parseJson)"
                r"\((?:[^()]*, )?msg#\d+",
                plan,
            )
            assert len(parses) == 1, (extended, parses[:5], len(parses))
    finally:
        spark.conf.set(key, old)


def test_word_rarity_skew_contract(spark):
    """word_rarity_score skew contract (r03 verdict 'What's wrong #3'):
    the word-key join is maximally skewed at corpus scale (stop words
    touch ~every doc), and the engine's contract is AQE's skew-join split
    — NOT a forced broadcast of the unbounded vocabulary side. Guard both
    halves: the session must keep skew-join handling on, and no
    UNBOUNDED word-keyed join in textstats may hint a broadcast. The
    module's allowed F.broadcast sites are exactly the builds bounded BY
    CONSTRUCTION at any corpus scale: collocation_lift_topk's 1-row
    grand-total crossJoin and oov_rate_by_source's LIMIT-K vocabulary
    (both documented in their docstrings); the full unigram table is
    never one of them."""
    import pathlib

    import crypto_msg_parser_spark.operators.textstats as textstats_mod

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    src = pathlib.Path(textstats_mod.__file__).read_text()
    assert src.count("F.broadcast(") == 2
    assert "crossJoin(F.broadcast(n))" in src
    assert "F.broadcast(vocab)" in src
    plan = _plan(spark, "word_rarity_score")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_padding_single_partition_budget(spark):
    """batch_padding_efficiency owns exactly ONE SinglePartition stage,
    the documented metadata-level bucket-share window; a second one means
    the bucket rollup regressed to a global sort."""
    plan = _plan(spark, "batch_padding_efficiency")
    assert plan.count("Exchange SinglePartition") == 1


def test_fixed_rows_keep_input_parallelism(spark):
    """Regression guard for the input-parallelism fixes: the one-row-group
    testdata scan must be repartitioned BEFORE the heavy map-side stage in
    binance_router (routing probes), neardup_simhash (simhash bit loops)
    and neardup_ngram_jaccard (shingle hashing). The dedup rows' plans
    must carry the round-robin exchange; binance_router hides its
    repartition behind the _msg_source localCheckpoint barrier (invisible
    in the final executedPlan), so it is guarded at source level like the
    broadcast contracts."""
    import inspect

    from crypto_msg_parser_spark.parser import queries as pq

    for name in ("neardup_simhash", "neardup_ngram_jaccard"):
        plan = _plan(spark, name)
        assert (
            "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
        ), f"{name}: input repartition missing\n{plan[:2000]}"
    src = inspect.getsource(pq.binance_router)
    assert "_msg_source(spark, sf_dir)" in src
    assert "load_table(spark" not in src
