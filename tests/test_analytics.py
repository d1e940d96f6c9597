"""Crafted-input tests for the analytics wave (candle rollup, VWAP,
order-flow imbalance, int8 quantization, unigram rarity) — semantics the
oracle replay can't isolate."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_rollup_open_close_pick_child_windows(spark):
    """5m open must come from the EARLIEST 1m child, close from the
    LATEST — crafted two-symbol frame with shuffled row order."""
    c1 = spark.createDataFrame(
        [
            Row(symbol="X", window_start=300000, low=9.0, high=11.0,
                volume=1.0, open=10.0, close=11.0, n_trades=2),
            Row(symbol="X", window_start=0, low=1.0, high=5.0,
                volume=2.0, open=2.0, close=3.0, n_trades=3),
            Row(symbol="X", window_start=60000, low=4.0, high=8.0,
                volume=3.0, open=6.0, close=7.0, n_trades=1),
        ]
    )
    win5 = (F.col("window_start") - F.col("window_start") % 300000).alias("w5")
    out = {
        (r.symbol, r.w5): r
        for r in c1.groupBy("symbol", win5)
        .agg(
            F.min_by("open", "window_start").alias("open"),
            F.max_by("close", "window_start").alias("close"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.sum("n_trades").alias("n_trades"),
        )
        .collect()
    }
    first = out[("X", 0)]
    assert first.open == 2.0   # from window_start=0
    assert first.close == 7.0  # from window_start=60000 (latest child in w5=0)
    assert first.high == 8.0 and first.low == 1.0 and first.n_trades == 4
    second = out[("X", 300000)]
    assert second.open == 10.0 and second.close == 11.0


def test_vwap_integer_units_are_exact(spark):
    """0.1-style decimals that are INEXACT in binary must still produce
    the exact rational VWAP because sums happen in integer units."""
    rows = [Row(price=0.1, qty=0.1) for _ in range(100)]
    df = spark.createDataFrame(rows)
    cents = F.round(F.col("price") * 100).cast("long")
    deci = F.round(F.col("qty") * 10).cast("long")
    got = (
        df.agg(
            (F.sum(cents * deci) / F.sum(deci) / F.lit(100.0)).alias("vwap"),
            F.sum(cents * deci).alias("notional"),
            F.sum(deci).alias("q"),
        ).head()
    )
    assert got.notional == 100 * 10 * 1  # exact integers
    assert got.q == 100
    assert got.vwap == 0.1  # exact: (1000/100)/100.0, no drift


def test_imbalance_bounds(spark):
    from crypto_msg_parser_spark.registry import all_queries

    rows = all_queries()["order_flow_imbalance_1m"].spark_fn(spark, SF).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r.imbalance <= 1.0
        assert r.n_buys + r.n_sells > 0
        assert (r.buy_qty_deci - r.sell_qty_deci) / (
            r.buy_qty_deci + r.sell_qty_deci
        ) == r.imbalance


def test_quantize_roundtrip_error_bound(spark):
    """Reconstruction x' = q*scale/127 must be within scale/254 of x per
    element (half a quantization step)."""
    from crypto_msg_parser_spark.registry import all_queries
    from crypto_msg_parser_spark.sources.testdata import load_table

    out = {
        r.vec_id: r
        for r in all_queries()["embedding_quantize_int8"].spark_fn(spark, SF)
        .collect()
    }
    src = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF, "embeddings").limit(50).collect()
    }
    checked = 0
    for vid, vec in src.items():
        r = out[vid]
        if r.scale == 0:
            continue
        q = [int(s) for s in r.qvec_csv.split(",")]
        assert len(q) == len(vec) == r.dim
        step = r.scale / 127.0
        for x, qi in zip(vec, q):
            assert abs(qi * step - x) <= step / 2 + 1e-12
            assert -127 <= qi <= 127
        checked += 1
    assert checked > 10


def test_word_rarity_unique_words_max_score(spark):
    """A doc whose words appear nowhere else must score 1e6 per word."""
    from crypto_msg_parser_spark.registry import all_queries
    from crypto_msg_parser_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    out = {
        r.doc_id: r
        for r in all_queries()["word_rarity_score"].spark_fn(spark, SF).collect()
    }
    assert out
    for r in out.values():
        # every rarity term is floor(1e6/df) with df >= 1 -> bounded
        assert 0 < r.rarity_micro <= r.n_distinct_words * 1_000_000
        assert abs(r.mean_rarity - r.rarity_micro / r.n_distinct_words) < 1e-9
    assert docs.count() == len(out)


# ---------------------------------------------------------------- round 5
# new downstream estimators: Roll spread, Amihud illiquidity, cross-venue
# arb screen, leakage-free split


def test_roll_spread_sign_convention(spark):
    """Roll estimator: alternating bid-ask bounce (negative serial cov)
    must yield a defined spread; a monotone trend (positive cov) must
    yield NULL — crafted minute-close series, one symbol each."""
    from crypto_msg_parser_spark.parser.analytics import roll_spread_1h

    # monkeypatch-free: replicate the grouped tail on crafted closes
    from pyspark.sql import Row, Window as W

    closes = spark.createDataFrame(
        # BOUNCE: 100, 102, 100, 102 cents -> diffs +2,-2,+2 -> cov<0
        [Row(symbol="BOUNCE", minute=i * 60000, close_cents=c)
         for i, c in enumerate([10000, 10200, 10000, 10200])]
        # TREND: accelerating rise -> diffs +100,+200,+300 -> cov>0 -> NULL
        + [Row(symbol="TREND", minute=i * 60000, close_cents=c)
           for i, c in enumerate([10000, 10100, 10300, 10600])]
    )
    w = W.partitionBy("symbol").orderBy("minute")
    d = closes.select(
        "symbol",
        "minute",
        (F.col("close_cents") - F.lag("close_cents").over(w)).alias("diff"),
        (F.lag("close_cents").over(w) - F.lag("close_cents", 2).over(w)).alias(
            "prev_diff"
        ),
    ).filter(F.col("diff").isNotNull() & F.col("prev_diff").isNotNull())
    g = d.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.count(F.lit(1)) * F.sum(F.col("diff") * F.col("prev_diff"))
            - F.sum("diff") * F.sum("prev_diff")
        ).alias("cov_num"),
    )
    out = {r.symbol: r for r in g.collect()}
    assert out["BOUNCE"].cov_num < 0  # bounce -> estimator defined
    assert out["TREND"].cov_num > 0   # trend -> estimator undefined (NULL)
    # and the registered query agrees with itself end-to-end at smoke SF
    rows = roll_spread_1h(spark, SF).collect()
    assert rows, "no hours produced"
    for r in rows:
        if r.cov_num < 0:
            assert r.roll_spread_usd is not None and r.roll_spread_usd > 0
        else:
            assert r.roll_spread_usd is None


def test_amihud_ratio_of_sums_identity(spark):
    """amihud_nano must equal (sum_abs_move_cents / dollar_deci_cents)*1e9
    exactly (ratio of the row's own integer columns) and every volume day
    must be present even without price moves (LEFT join)."""
    from crypto_msg_parser_spark.parser.analytics import amihud_illiquidity_daily

    rows = amihud_illiquidity_daily(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.dollar_deci_cents > 0
        expect = (float(r.sum_abs_move_cents) / float(r.dollar_deci_cents)) * 1e9
        assert r.amihud_nano == expect  # bit-exact: same IEEE chain


def test_venue_arb_single_venue_null(spark):
    """BNB/BTC is binance-only: its arb columns must be NULL; two-venue
    pairs must carry both venues' quotes and a concrete arb verdict."""
    from crypto_msg_parser_spark.parser.analytics import venue_arb_spread_1m

    rows = venue_arb_spread_1m(spark, SF).collect()
    by_pair = {}
    for r in rows:
        by_pair.setdefault(r.pair, []).append(r)
    assert "BNB/BTC" in by_pair
    for r in by_pair["BNB/BTC"]:
        assert r.n_venues == 1
        assert r.arb_cents is None and r.arb_open is None
        assert r.kraken_bid_cents is None
    two = [r for rs in by_pair.values() for r in rs if r.n_venues == 2]
    assert two, "no two-venue minutes at smoke SF"
    for r in two:
        assert r.arb_cents == max(
            r.binance_bid_cents - r.kraken_ask_cents,
            r.kraken_bid_cents - r.binance_ask_cents,
        )
        assert r.arb_open == (r.arb_cents > 0)


def test_split_leakfree_no_cluster_straddle(spark):
    """THE invariant: no near-dup component (and no exact-dup group) may
    straddle train/holdout — verified against the independently computed
    cluster labels, not the query's own split_key."""
    from crypto_msg_parser_spark.operators.dedup import (
        corpus_split_leakfree,
        neardup_components,
    )

    split = corpus_split_leakfree(spark, SF)
    comp = neardup_components(spark, SF).select("doc_id", "component_id")
    j = split.join(comp, split.split_key == comp.component_id, "inner")
    per_comp = (
        j.groupBy("component_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert per_comp, "no clusters at smoke SF"
    assert all(r.n_splits == 1 for r in per_comp)
    # split fractions sane: holdout nonempty, minority
    rows = split.collect()
    holdout = sum(1 for r in rows if r.split == "holdout")
    assert 0 < holdout < len(rows) / 2


def test_markout_decomposition_identity(spark):
    """Effective spread must decompose EXACTLY: sum_eff = sum_realized +
    sum_impact_x2 on every symbol-hour (integer identity, no float
    slack), partial-match hours must be reported not guessed, and the
    guarded average must reproduce from the row's own integers."""
    from crypto_msg_parser_spark.parser.analytics import trade_markout_5m

    rows = trade_markout_5m(spark, SF).collect()
    assert rows
    assert any(r.sum_impact_x2_cents != 0 for r in rows)
    saw_partial = False
    for r in rows:
        assert (
            r.sum_eff_spread_cents
            == r.sum_realized_5m_cents + r.sum_impact_x2_cents
        )
        assert r.n_matched <= r.n_signed <= r.n_trades
        saw_partial = saw_partial or r.n_matched < r.n_signed
        if r.n_matched > 0:
            assert r.avg_eff_spread_usd == (
                float(r.sum_eff_spread_cents) / float(r.n_matched) / 100.0
            )
        else:
            assert r.avg_eff_spread_usd is None
    assert saw_partial, "exclusion path never exercised at smoke SF"


def test_quoted_spread_tw_durations_tile_the_tape(spark):
    """TWAS invariants: per pair, the hour durations tile exactly from the
    first quote to the last hour's end (no gaps, no double counting);
    the display ratio is the integer identity over the two exact sums;
    every TWAS sits inside the synthesized 200..208-cent spread band."""
    from crypto_msg_parser_spark.parser.analytics import (
        _BASE_TS,
        quoted_spread_tw_1h,
    )
    from crypto_msg_parser_spark.sources.testdata import load_table
    from tests.conftest import SF_SMOKE

    rows = quoted_spread_tw_1h(spark, SF_SMOKE).collect()
    assert rows
    per_pair_quotes = {}
    per_pair_dur = {}
    for r in rows:
        assert r["twas_millicents"] == (
            1000 * r["sum_spread_dur"]
        ) // r["dur_ms_total"]
        assert 200_000 <= r["twas_millicents"] <= 208_000
        per_pair_quotes[r["pair"]] = (
            per_pair_quotes.get(r["pair"], 0) + r["n_quotes"]
        )
        per_pair_dur[r["pair"]] = (
            per_pair_dur.get(r["pair"], 0) + r["dur_ms_total"]
        )
        # hour bucket is aligned and the tape clock starts after the epoch
        assert r["hour_start"] % 3600000 == 0

    li = load_table(spark, SF_SMOKE, "lineitem").collect()
    import collections

    sym_counts = collections.Counter(r["l_partkey"] % 4 for r in li)
    pair_of = {0: "BTC/USDT", 1: "ETH/USDT", 2: "DOGE/USDT", 3: "BNB/BTC"}
    want_counts = collections.Counter()
    for c, n in sym_counts.items():
        want_counts[pair_of[c]] += n
    assert per_pair_quotes == dict(want_counts)
    for pair, n in want_counts.items():
        last_ts = _BASE_TS + n * 1000
        last_hour_end = (last_ts - last_ts % 3600000) + 3600000
        assert per_pair_dur[pair] == last_hour_end - (_BASE_TS + 1000)


def test_max_drawdown_nonneg_and_bounded_by_range(spark):
    """Drawdown is >=0, <= peak - trough, and bps matches the integer
    per-minute floor convention on a crafted monotone-then-crash path."""
    from crypto_msg_parser_spark.parser.analytics import max_drawdown_daily

    rows = max_drawdown_daily(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.max_drawdown_cents >= 0
        assert r.max_drawdown_cents <= r.peak_cents - r.trough_cents
        assert 0 <= r.max_drawdown_bps <= 10000
    # crafted check of the running-peak semantics: 10, 20, 5, 15 ->
    # peak path 10,20,20,20; max dd = 15 (not 20-15=5, not 10-5)
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate([1000, 2000, 500, 1500])],
        "minute long, close_cents long",
    )
    w = W.orderBy("minute").rowsBetween(W.unboundedPreceding, 0)
    got = (
        df.select((F.max("close_cents").over(w) - F.col("close_cents")).alias("dd"))
        .agg(F.max("dd"))
        .first()[0]
    )
    assert got == 1500


def test_bipower_jump_identity_and_null_convention(spark):
    """RV >= 0, jump_share in [0,1] when defined, NULL exactly when a
    day has no complete |d_t||d_(t-1)| pair."""
    from crypto_msg_parser_spark.parser.analytics import bipower_jump_daily

    rows = bipower_jump_daily(spark, SF).collect()
    assert rows
    import math

    for r in rows:
        assert r.rv_num >= 0 and r.bv_num >= 0
        if r.n_pairs == 0 or r.rv_num == 0:
            assert r.jump_share is None
        else:
            assert 0.0 <= r.jump_share <= 1.0
            # recompute the IEEE chain from the exact integers
            expect = max(
                0.0,
                (float(r.rv_num) - (math.pi / 2.0) * float(r.bv_num))
                / float(r.rv_num),
            )
            assert r.jump_share == expect


def test_volume_profile_poc_is_modal_bin(spark):
    """POC bin holds max_vol, share_ppm consistent, lowest-bin tie rule."""
    from crypto_msg_parser_spark.parser.analytics import volume_profile_poc

    rows = volume_profile_poc(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.poc_vol_deci <= r.total_vol_deci
        assert r.poc_share_ppm == 1000000 * r.poc_vol_deci // r.total_vol_deci
        assert r.poc_price_low_cents == r.poc_bin * 10000
        assert r.n_bins >= 1


def test_order_flow_persistence_pair_accounting(spark):
    """n_same + n_flip == n_pairs and persistence matches integer DIV."""
    from crypto_msg_parser_spark.parser.analytics import (
        order_flow_persistence_1h,
    )

    rows = order_flow_persistence_1h(spark, SF).collect()
    assert rows
    saw_pairs = False
    for r in rows:
        assert r.n_same + r.n_flip == r.n_pairs
        assert r.n_pairs <= r.n_trades
        if r.n_pairs > 0:
            saw_pairs = True
            assert r.persistence_ppm == 1000000 * r.n_same // r.n_pairs
        else:
            assert r.persistence_ppm is None
    assert saw_pairs


def test_oov_rate_vocab_covers_head(spark):
    """With a 1000-word vocab over a small corpus, OOV mass must be the
    complement of vocab mass, and a source made ONLY of vocab words
    would score 0 — checked via the identity on per-source counts."""
    from crypto_msg_parser_spark.operators.textstats import (
        oov_rate_by_source,
    )

    rows = oov_rate_by_source(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.oov_tokens <= r.n_tokens
        assert 0 <= r.oov_distinct <= r.n_distinct_words
        assert r.oov_ppm == 1000000 * r.oov_tokens // r.n_tokens


def test_batch_padding_bucket_containment(spark):
    """Every bucket's max token count fits its capacity and exceeds the
    next-smaller capacity; waste accounting is exact."""
    from crypto_msg_parser_spark.operators.corpus import (
        batch_padding_efficiency,
    )

    rows = batch_padding_efficiency(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.max_tokens <= r.bucket_cap
        assert r.bucket_cap == 1 or r.max_tokens > r.bucket_cap // 2
        assert r.padded_tokens == r.n_docs * r.bucket_cap
        assert r.waste_tokens == r.padded_tokens - r.sum_tokens
        assert (
            r.waste_ppm == 1000000 * r.waste_tokens // r.padded_tokens
        )
