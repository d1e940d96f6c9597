"""Cuckoo-filter seen-set layer: membership, deletion (the capability the
Bloom layer lacks), false-positive bound, and the per-bucket Spark
build/update path."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crypto_msg_parser_spark.crawl.cuckoo import (
    FP_MASK,
    Cuckoo,
    build_cuckoo_buckets,
    cuckoo_update_buckets,
    might_contain_col,
)


def _hashes(n, seed=7):
    rng = np.random.RandomState(seed)
    return rng.randint(1, 1 << 60, size=n, dtype=np.int64)


def test_no_false_negatives_and_bounded_fpp():
    keys = _hashes(5000)
    c = Cuckoo(len(keys))
    c.insert(keys)
    assert c.might_contain(keys).all()  # every inserted key answers yes
    probes = _hashes(20000, seed=99)
    fresh = probes[~np.isin(probes, keys)]
    fpp = c.might_contain(fresh).mean()
    # 12-bit fingerprints, 2x4 candidate slots: theoretical fpp ~ 8/2^12
    assert fpp < 0.01, fpp


def test_overflow_keeps_every_inserted_key():
    """Past the table's capacity the kick loop gives up; the key left
    without a slot must still answer yes. 256 keys cannot all fit the
    256 slots (64 buckets x 4) of a filter sized for 200."""
    keys = _hashes(256)
    c = Cuckoo(200)
    c.insert(keys)
    assert c.overflow
    assert c.might_contain(keys).all()


def test_delete_forgets_only_the_deleted():
    keys = _hashes(2000)
    c = Cuckoo(len(keys))
    c.insert(keys)
    gone, kept = keys[:500], keys[500:]
    assert c.delete(gone) == 500
    assert c.might_contain(kept).all()  # untouched keys still present
    # deleted keys answer no (barring fp collisions with surviving keys)
    assert c.might_contain(gone).mean() < 0.02


def test_state_roundtrip():
    keys = _hashes(300)
    c = Cuckoo(len(keys))
    c.insert(keys)
    c2 = Cuckoo.from_state(*c.to_state())
    assert c2.might_contain(keys).all()
    assert (c2.table == c.table).all()


def test_per_bucket_build_and_update(spark):
    df = spark.range(4000).select(
        (F.col("id") % 8).alias("rank_bucket"),
        (F.xxhash64("id").bitwiseAND(F.lit((1 << 60) - 1))).alias("url_hash"),
    )
    filters = build_cuckoo_buckets(df)
    rows = filters.collect()
    assert len(rows) == 8  # one filter per storage bucket
    per_bucket = {
        r["rank_bucket"]: r["count"]
        for r in df.groupBy("rank_bucket").count().collect()
    }
    for r in rows:
        assert r["n"] == per_bucket[r["rank_bucket"]]

    # retire half of bucket 3's URLs partition-locally
    retired = df.filter((F.col("rank_bucket") == 3) & (F.col("url_hash") % 2 == 0))
    updated = cuckoo_update_buckets(filters, retired)
    u3 = [r for r in updated.collect() if r["rank_bucket"] == 3][0]
    kept = df.filter(
        (F.col("rank_bucket") == 3) & (F.col("url_hash") % 2 == 1)
    ).collect()
    c = Cuckoo.from_state(u3["m"], u3["table"], u3["overflow"])
    assert c.might_contain(
        np.array([r["url_hash"] for r in kept], dtype=np.int64)
    ).all()
    assert u3["n"] == per_bucket[3] - retired.count()


def test_update_with_both_change_sets_keeps_60_bit_hashes(spark):
    """Retire 20 of a 200-URL filter and add 20 new URLs in ONE update.
    Both change sets share the cogroup, so every hash must reach the
    filter exactly: a change column padded with NULLs arrives in pandas as
    float64, which drops the low bits of a 60-bit hash — the retired URLs
    then stay members and the added ones land under the wrong hash."""
    urls = spark.range(220).select(
        "id",
        F.lit(0).cast("long").alias("rank_bucket"),
        F.xxhash64(F.concat(F.lit("https://example.com/p/"), F.col("id").cast("string")))
        .bitwiseAND(F.lit((1 << 60) - 1))
        .alias("url_hash"),
    )
    seen = urls.filter(F.col("id") < 200)
    retired = urls.filter(F.col("id") < 20)
    added = urls.filter(F.col("id") >= 200)
    (row,) = cuckoo_update_buckets(
        build_cuckoo_buckets(seen), retired, added
    ).collect()
    c = Cuckoo.from_state(row["m"], row["table"], row["overflow"])

    def hashes(df):
        return np.array([r["url_hash"] for r in df.collect()], dtype=np.int64)

    assert not c.might_contain(hashes(retired)).any()
    assert c.might_contain(hashes(added)).all()
    kept = urls.filter((F.col("id") >= 20) & (F.col("id") < 200))
    assert c.might_contain(hashes(kept)).all()
    assert row["n"] == 200


def test_column_twin_equals_might_contain(spark):
    """might_contain_col answers exactly as Cuckoo.might_contain, row for
    row: on a filter with overflow and one without, for inserted keys,
    random keys, negative longs and hashes whose fingerprint bits are 0
    (stored as fingerprint 1)."""
    zero_fp = _hashes(500, seed=13) & ~np.int64(FP_MASK << 45)
    over = Cuckoo(200)
    over.insert(_hashes(256))
    assert over.overflow
    plain = Cuckoo(1000)
    plain.insert(np.concatenate([_hashes(800, seed=11), zero_fp[:100]]))
    assert not plain.overflow

    rng = np.random.RandomState(3)
    probes = np.concatenate([
        _hashes(256),
        _hashes(800, seed=11),
        _hashes(2000, seed=5),
        rng.randint(-(1 << 63), 0, size=2000, dtype=np.int64),
        zero_fp,
        -zero_fp,
    ])
    rows = [
        (fid, int(h), m, table, ovf)
        for fid, c in enumerate((over, plain))
        for m, table, ovf in [c.to_state()]
        for h in probes
    ]
    df = spark.createDataFrame(
        rows, "fid int, h long, m long, table binary, overflow array<long>"
    )
    got = df.select(
        "fid", "h",
        might_contain_col(F.col("h"), F.col("m"), F.col("table"), F.col("overflow"))
        .alias("hit"),
    ).toPandas().sort_values(["fid", "h"], kind="stable")
    for fid, c in enumerate((over, plain)):
        g = got[got["fid"] == fid]
        want = c.might_contain(g["h"].to_numpy(dtype=np.int64))
        assert want.any() and not want.all()
        assert (g["hit"].to_numpy(dtype=bool) == want).all(), fid
