"""Scale-parameterized dedup operators: the 60-bit/6-band SimHash path,
checked against brute-force definitions in-Spark (DuckDB cannot express
60-bit hamming, so the registry keeps a 16-bit oracle query and this file
covers the scale configuration)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_msg_parser_spark.operators.dedup import (
    _words,
    neardup_simhash_pairs,
    simhash_col,
)
from crypto_msg_parser_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def test_simhash_60bit_banding_matches_bruteforce(spark):
    docs = load_table(spark, SF, "documents").limit(200)
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in neardup_simhash_pairs(docs, bits=60, n_bands=6).collect()
    }
    sh = docs.select(
        "doc_id", simhash_col(_words(F.col("text")), 60).alias("simhash")
    )
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 5)
        .collect()
    }
    assert banded == brute


def test_simhash_width_is_a_real_parameter(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    sh = docs.select(
        simhash_col(_words(F.col("text")), 16).alias("s16"),
        simhash_col(_words(F.col("text")), 60).alias("s60"),
    ).collect()
    assert all(0 <= r["s16"] < (1 << 16) for r in sh)
    assert any(r["s60"] >= (1 << 16) for r in sh)  # high bits actually used
    # low 16 bits agree: widening extends, never changes, existing bits
    assert all(r["s60"] & 0xFFFF == r["s16"] for r in sh)


def test_connected_components_reliable_checkpoint_parity(spark, tmp_path):
    """checkpoint_dir switches the per-round plan truncation from
    localCheckpoint (executor-memory, lost on executor death) to reliable
    df.checkpoint() — the 100 TB setting. The loop must converge to the
    identical labeling either way."""
    from crypto_msg_parser_spark.operators.dedup import connected_components

    # two chains and one triangle: {1-2-3-4}, {10-11}, {20-21-22 cyclic}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    local = {
        (r["doc_id"], r["component_id"])
        for r in connected_components(edges).collect()
    }
    reliable = {
        (r["doc_id"], r["component_id"])
        for r in connected_components(
            edges, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    }
    assert local == reliable
    comp_of = dict(local)
    assert comp_of[4] == comp_of[1] == 1
    assert comp_of[11] == comp_of[10] == 10
    assert comp_of[22] == comp_of[20] == 20


def test_connected_components_raises_when_not_converged(spark):
    """A chain whose diameter exceeds max_iters must raise, not silently
    return a half-propagated labeling (r03 ADVICE)."""
    import pytest as _pytest

    from crypto_msg_parser_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, max_iters=2)


def test_minhash_lsh_reliable_checkpoint_parity(spark, tmp_path):
    """neardup_minhash_lsh(checkpoint_dir=...) must produce the identical
    pair set through reliable df.checkpoint() barriers (r02 verdict #8)."""
    from crypto_msg_parser_spark.operators.dedup import neardup_minhash_lsh

    local = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_minhash_lsh(spark, SF).collect()
    }
    reliable = {
        (r["doc_a"], r["doc_b"])
        for r in neardup_minhash_lsh(
            spark, SF, checkpoint_dir=str(tmp_path / "lsh_ckpt")
        ).collect()
    }
    assert local == reliable and local


def test_neardup_best_rep_invariants(spark):
    """The quality-picked representative is a real member of its component,
    sizes agree with neardup_components, and policy_changed rows picked a
    STRICTLY more diverse doc than the min-id survivor (ties go to min id,
    so a tie can never flip the policy)."""
    from pyspark.sql import functions as F

    from crypto_msg_parser_spark.operators.dedup import (
        neardup_best_rep,
        neardup_components,
    )
    from crypto_msg_parser_spark.sources.testdata import load_table

    comp = {
        (r["doc_id"], r["component_id"]): r["n_members"]
        for r in neardup_components(spark, SF).collect()
    }
    quality = {
        r["doc_id"]: r["nd"]
        for r in load_table(spark, SF, "documents")
        .select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " "))).alias("nd"),
        )
        .collect()
    }
    rows = neardup_best_rep(spark, SF).collect()
    assert rows
    members_by_comp = {}
    for (doc, cid), _n in comp.items():
        members_by_comp.setdefault(cid, set()).add(doc)
    assert set(r["component_id"] for r in rows) == set(members_by_comp)
    changed = 0
    for r in rows:
        m = members_by_comp[r["component_id"]]
        assert r["rep_doc_id"] in m
        assert r["n_members"] == len(m)
        # the rep maximizes (n_distinct, -doc_id) over the members
        best = max(m, key=lambda d: (quality[d], -d))
        assert r["rep_doc_id"] == best
        assert r["rep_n_distinct"] == quality[best]
        if r["policy_changed"]:
            changed += 1
            assert r["rep_doc_id"] != r["component_id"]
            assert quality[r["rep_doc_id"]] > quality[r["component_id"]]
    assert changed > 0  # the synthetic corpus exercises the policy delta
