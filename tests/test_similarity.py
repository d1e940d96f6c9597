"""k-means IVF: the distributed Lloyd's fit vs an exact numpy replica, and
assignment invariants. The fit is iterative, so no SQL oracle replays it:
ann_ivf_kmeans_gate checks the invariants of the search built on it, and
this file pins the fit itself."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crypto_msg_parser_spark.operators.similarity import (
    _dvec,
    assign_cells,
    kmeans_fit,
)
from crypto_msg_parser_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"
K, ITERS = 8, 3


def _numpy_kmeans(X, ids, k, iters):
    order = np.argsort(ids)
    cents = X[order[:k]].astype(np.float64).copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cells = d.argmin(axis=1)  # ties -> lowest cid, same as struct min
        for c in range(k):
            m = cells == c
            if m.any():
                cents[c] = X[m].mean(axis=0)
    return cents, cells


def test_kmeans_matches_numpy_replica(spark):
    emb = load_table(spark, SF, "embeddings")
    rows = emb.select("vec_id", _dvec(F.col("embedding")).alias("v")).collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["v"] for r in rows], dtype=np.float64)

    cents = np.array(kmeans_fit(emb, k=K, iters=ITERS))
    np_cents, np_cells = _numpy_kmeans(X, ids, K, ITERS)
    assert np.allclose(cents, np_cents, rtol=1e-9, atol=1e-12)

    assigned = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            emb.select("vec_id", _dvec(F.col("embedding")).alias("v")), cents
        ).collect()
    }
    # float summation order can flip points sitting ON a decision
    # boundary; require every Spark assignment to be a true near-argmin
    by_id = {i: x for i, x in zip(ids, X)}
    for i, cell in assigned.items():
        d = ((by_id[i] - np_cents) ** 2).sum(axis=1)
        assert d[cell] <= d.min() + 1e-9, (i, cell)
    agree = sum(assigned[i] == c for i, c in zip(ids, np_cells))
    assert agree >= 0.95 * len(ids)
    assert len(set(assigned.values())) > 1  # quantizer actually partitions


def test_kmeans_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    a = kmeans_fit(emb, k=4, iters=2)
    b = kmeans_fit(emb, k=4, iters=2)
    assert a == b


def test_lsh_bucket_structure(spark):
    """Sign-hyperplane buckets: in [0, 2^bits), deterministic across
    evaluations, and the probe expansion emits exactly 1+bits buckets per
    query (Hamming<=1 multi-probe)."""
    from crypto_msg_parser_spark.operators.similarity import (
        LSH_BITS,
        _PROBE_MASKS,
        lsh_bucket,
    )

    emb = load_table(spark, SF, "embeddings")
    sig = emb.select(
        "vec_id", _dvec(F.col("embedding")).alias("v")
    ).withColumn("bucket", lsh_bucket(F.col("v")))
    stats = sig.agg(
        F.min("bucket").alias("lo"),
        F.max("bucket").alias("hi"),
        F.countDistinct("bucket").alias("nb"),
    ).collect()[0]
    assert 0 <= stats["lo"] and stats["hi"] < (1 << LSH_BITS)
    assert stats["nb"] > 1  # actually partitions the corpus
    a = {r["vec_id"]: r["bucket"] for r in sig.collect()}
    b = {r["vec_id"]: r["bucket"] for r in sig.collect()}
    assert a == b  # no RNG state anywhere
    assert len(_PROBE_MASKS) == LSH_BITS + 1
