"""Deduplication operators over the `documents` table.

Large-scale-training-pipeline dedup family: exact (hash groupBy), MinHash +
LSH banding, SimHash + hamming-band join, and blocked n-gram Jaccard.

Scale design:
- Exact dedup is a single shuffle on the content hash.
- MinHash signatures and SimHash are computed per-row with array
  expressions (no shuffle, no Python) — at 100 TB the only shuffles are the
  LSH band self-joins, which group by (band_idx, band_hash), a key whose
  cardinality grows with corpus size so partitions stay bounded; AQE skew
  join covers pathological bands.
- The O(n^2) verify step only ever runs on LSH candidate pairs, never on
  the full corpus.

All hashes use the md5-derived stable_hash64 (functions/scalar.py) so the
DuckDB oracle reproduces them exactly; Spark-internal-only keys would use
xxhash64 instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark.registry import query
from crypto_msg_parser_spark.sources.testdata import load_table

N_MINHASH = 8  # minhash permutations (md5-salted)
N_BANDS = 4  # LSH bands of 2 rows each
SIMHASH_BITS = 16
JACCARD_THRESHOLD = 0.6


def _barrier(df: DataFrame, checkpoint_dir: str | None, eager: bool = True):
    """Materialization barrier for iterative/multi-consumer frames:
    localCheckpoint (executor memory — fast, lost on executor death) by
    default, reliable df.checkpoint() into ``checkpoint_dir`` when given —
    the 100 TB setting, where recomputing a truncated lineage on executor
    loss would replay the whole upstream job."""
    if checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _words(col):
    """Distinct word set of a document (order-irrelevant downstream)."""
    return F.array_distinct(F.split(col, " "))


def _sql_words(expr: str) -> str:
    return f"list_distinct(string_split({expr}, ' '))"


def _word_hash(word_col, salt: int):
    # per-word salted stable hash; identical to the DuckDB template below
    return F.conv(
        F.substring(F.md5(F.concat(word_col, F.lit(f"#{salt}"))), 1, 15), 16, 10
    ).cast("long")


def _hasher(salt: int):
    # single-arg closure: a 2-arg lambda would make F.transform/F.filter pass
    # the element *index* as the second argument
    return lambda w: _word_hash(w, salt)


# xor-permutation constants for the MinHash family: md5 runs ONCE per word
# (the base 60-bit hash); each of the N_MINHASH permutations is h XOR C_s,
# a bijection of the hash space costing one integer op instead of a fresh
# md5 pass. Round-1 profiling put neardup_minhash_lsh at 76% of the whole
# bench, almost all of it 8x md5 over every distinct word. xor stays inside
# 60 bits, so both engines agree with no overflow semantics in play
# (DuckDB BIGINT arithmetic errors on overflow; Java wraps).
_XOR_SALTS = [
    0x0,
    0x243F6A8885A308D,  # pi digits
    0x13198A2E0370734,
    0xA4093822299F31D,
    0x082EFA98EC4E6C8,
    0x452821E638D0137,
    0xBE5466CF34E90C6,
    0xC0AC29B7C97C50D,
]
assert len(_XOR_SALTS) == N_MINHASH


def minhash_cols(hashes_col):
    """N_MINHASH min-hash values from a pre-hashed word array (no shuffle,
    one md5 pass shared by all permutations)."""
    def _perm(c):
        return lambda h: h.bitwiseXOR(F.lit(c).cast("long"))

    return [
        F.array_min(F.transform(hashes_col, _perm(c))).alias(f"mh{s}")
        for s, c in enumerate(_XOR_SALTS)
    ]


def _sql_word_hashes(words_expr: str) -> str:
    return (
        f"list_transform({words_expr}, "
        f"w -> ('0x' || substr(md5(w || '#0'), 1, 15))::BIGINT)"
    )


def _sql_minhash(hashes_expr: str, salt_idx: int) -> str:
    c = _XOR_SALTS[salt_idx]
    return (
        f"list_aggregate(list_transform({hashes_expr}, "
        f"h -> xor(h, {c})), 'min')"
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, count(*) AS n_copies,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    doc="exact dedup: hash-groupBy on content, deterministic survivor "
    "(min doc_id). One shuffle on the 128-bit content hash.",
)
def dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT content_hash, n_copies, keep_doc_id FROM (
      SELECT md5(text) AS content_hash, count(*) AS n_copies,
             min(doc_id) AS keep_doc_id
      FROM documents GROUP BY md5(text))
    WHERE n_copies > 1
    """,
    doc="duplicate groups only (the rows exact dedup would drop).",
)
def dedup_exact_groups(spark, sf_dir):
    return dedup_exact(spark, sf_dir).filter(F.col("n_copies") > 1)


@query(
    "minhash_signatures",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, {_sql_word_hashes(_sql_words('text'))} AS wh
      FROM documents)
    SELECT doc_id,
           {", ".join(f"{_sql_minhash('wh', s)} AS mh{s}" for s in range(N_MINHASH))}
    FROM hashed
    """,
    doc="per-doc MinHash signature over the distinct-word set, computed as "
    "pure array expressions (no shuffle, no Python); one md5 per word, "
    "xor-permutations for the signature rows.",
)
def minhash_signatures(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    hashes = F.transform(_words(F.col("text")), _hasher(0))
    return docs.select("doc_id", *minhash_cols(hashes))


def _lsh_bands(sig_df: DataFrame) -> DataFrame:
    """Explode a signature table into (doc_id, band_idx, band_hash) rows.
    The band key is the plain joined minhash pair — hashing it again buys
    nothing (the groupBy key is already uniform) and md5 isn't free."""
    rows_per_band = N_MINHASH // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig_df.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_hash"
    )


def _bigrams(words_col):
    """Distinct word-bigram shingles: zip the word array with itself
    shifted by one (zip_with pads the shorter side with nulls — filtered)."""
    shifted = F.slice(
        words_col, 2, F.greatest(F.size(words_col) - 1, F.lit(0))
    )
    joined = F.zip_with(
        words_col,
        shifted,
        lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
    )
    return F.array_distinct(F.filter(joined, lambda x: x.isNotNull()))


def _sql_bigrams(words_expr: str) -> str:
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, len({words_expr}) - 1), "
        f"i -> {words_expr}[i] || ' ' || {words_expr}[i + 1]))"
    )


_SQL_REPS = (
    "SELECT min(doc_id) AS doc_id, any_value(text) AS text "
    "FROM documents GROUP BY md5(text)"
)
_SQL_HASHED = (
    # shingle the RAW word sequence (split order is deterministic in both
    # engines; list_distinct's output order is NOT) — _bigrams/_sql_bigrams
    # dedupe the shingles themselves
    "SELECT doc_id, "
    f"{_sql_word_hashes(_sql_bigrams('ws'))} AS wh "
    "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM reps)"
)
_SQL_SIG = (
    "SELECT doc_id, wh, "
    + ", ".join(f"{_sql_minhash('wh', s)} AS mh{s}" for s in range(N_MINHASH))
    + " FROM hashed"
)
_SQL_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_idx, "
    f"concat_ws(',', mh{2 * b}::VARCHAR, mh{2 * b + 1}::VARCHAR) AS band_hash "
    f"FROM sig"
    for b in range(N_BANDS)
)


NEARDUP_LSH_ORACLE = f"""
    WITH reps AS ({_SQL_REPS}),
    hashed AS ({_SQL_HASHED}),
    sig AS ({_SQL_SIG}),
    bands AS ({_SQL_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(wa.wh, x -> list_contains(wb.wh, x))) /
             (len(wa.wh) + len(wb.wh)
              - len(list_filter(wa.wh, x -> list_contains(wb.wh, x)))) AS jaccard
      FROM cand c
      JOIN hashed wa ON wa.doc_id = c.doc_a
      JOIN hashed wb ON wb.doc_id = c.doc_b)
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """


@query(
    "neardup_minhash_lsh",
    oracle=NEARDUP_LSH_ORACLE,
    doc="near-dup pairs over exact-dedup REPRESENTATIVES (min doc_id per "
    "content hash): bigram-shingle MinHash -> LSH banding -> bucket pair "
    "expansion -> shingle-set Jaccard verify on candidates only, computed "
    "on the hashed shingle sets (60-bit, collision odds ~n^2/2^60 — "
    "identical in both engines either way). Shingles, not unigrams: on a "
    "Zipfian/small vocabulary most docs share most WORDS (this corpus has "
    "31 distinct words; unigram banding put 3,177 of 4,992 reps in ONE "
    "bucket = 21M candidate pairs at sf0.1), while bigram shingles (931 "
    "here) keep random-pair similarity near zero — the standard MMDS "
    "shingling argument. Exact duplicates are the exact-dedup pass's job "
    "(dedup_exact) — feeding them to LSH creates quadratic buckets of "
    "identical docs.",
)
def neardup_minhash_lsh(spark, sf_dir, checkpoint_dir: str | None = None):
    return lsh_neardup_pairs(
        load_table(spark, sf_dir, "documents"), checkpoint_dir
    )


def lsh_neardup_pairs(raw_docs, checkpoint_dir: str | None = None):
    """The LSH near-dup core over ANY (doc_id, text) frame — shared by the
    flat-documents query above and the interleaved-payload variant
    (operators.interleaved.interleaved_neardup)."""
    # ONE md5 pass: representatives' shingle sets are hashed once and that
    # array feeds every consumer — all 8 minhash permutations (xor-min) AND
    # both sides of the Jaccard verify. Round 1 ran 8 separate md5 passes
    # for the signature plus a string-array intersect for the verify; this
    # was 76% of the whole bench. The barrier materializes the compact
    # (doc_id, int-array) table; pass checkpoint_dir for the reliable
    # variant at 100 TB so executor loss doesn't recompute.
    hashed = _barrier(
        raw_docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text"))
        .select(
            "doc_id",
            F.transform(_bigrams(F.split(F.col("text"), " ")), _hasher(0)).alias("wh"),
        ),
        checkpoint_dir,
    )
    sig = hashed.select("doc_id", *minhash_cols(F.col("wh")))
    bands = _lsh_bands(sig)
    # two measured pathologies at sf0.1 steer this shape:
    #   (a) a naive band self-join evaluates the signature pipeline once
    #       PER SIDE (2x the query cost);
    #   (b) expanding each bucket's pairs inside one array row serializes
    #       the biggest near-dup family onto one task (skew: 126s vs 55s).
    # So: materialize the SMALL bucket table once, then a self-join over
    # the materialized buckets spreads pair expansion across tasks, with
    # AQE skew-split on top.
    ids = F.sort_array(F.collect_set("doc_id")).alias("ids")
    buckets = _barrier(
        bands.groupBy("band_idx", "band_hash")
        .agg(ids)
        .filter(F.size("ids") > 1),
        checkpoint_dir,
    )
    a = buckets.select(
        "band_idx", "band_hash", F.explode("ids").alias("doc_a")
    )
    b = buckets.select(
        "band_idx", "band_hash", F.explode("ids").alias("doc_b")
    )
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    union = F.size(F.col("wa")) + F.size(F.col("wb")) - inter
    return (
        cand.join(
            hashed.select(F.col("doc_id").alias("doc_a"), F.col("wh").alias("wa")),
            "doc_a",
        )
        .join(
            hashed.select(F.col("doc_id").alias("doc_b"), F.col("wh").alias("wb")),
            "doc_b",
        )
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def simhash_col(words_col, bits: int = SIMHASH_BITS):
    """``bits``-wide SimHash as a pure column expression (default 16 for
    the DuckDB-checkable demo queries; pass 64 for the scale path — the
    base hash is 60 bits, so widths up to 60 draw independent bits).

    bit_i set iff more than half the document's distinct words have bit_i
    set in their stable hash (tie -> 0). Accumulated with bitwise OR (not
    +) so bit 62 stays inside signed-long semantics in both engines."""
    assert bits <= 60, "base stable hash is 60 bits"
    hashes = F.transform(words_col, _hasher(0))

    def _bit_set(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("long")
    for i in range(bits):
        term = F.when(
            2 * F.size(F.filter(hashes, _bit_set(i))) > F.size(hashes),
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(term)
    return out


def simhash_band_cols(simhash_col_, bits: int, n_bands: int):
    """(band_idx, band_val) struct array for LSH banding a SimHash.

    Pigeonhole: any pair with hamming <= n_bands-1 must agree on at least
    one band, so a band equi-join finds all such pairs without an O(n^2)
    comparison. Bucket cardinality per band is 2^(bits/n_bands) — at the
    default 64-bit/8-band operating point that is 2^8 buckets per band
    PER BAND-VALUE-DISTRIBUTION over corpus-sized data; the round-1 16-bit
    /4-band default had 16 buckets per band and went near-quadratic at
    scale, which is why width is now a parameter."""
    assert bits % n_bands == 0
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(simhash_col_, band_bits * b)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )


def neardup_simhash_pairs(
    docs: DataFrame,
    bits: int = 60,
    n_bands: int = 6,
    max_hamming: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """General SimHash near-dup operator: (doc_a, doc_b, hamming) pairs
    with hamming <= max_hamming (default n_bands-1, the largest threshold
    the banding is exact for). Default 60-bit/6-band — the scale
    configuration; the 16-bit registry query exists for oracle parity."""
    if max_hamming is None:
        max_hamming = n_bands - 1
    assert max_hamming <= n_bands - 1, "banding is only exact to n_bands-1"
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        simhash_col(_words(F.col(text_col)), bits).alias("simhash"),
    )
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(simhash_band_cols(F.col("simhash"), bits, n_bands)).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _sql_simhash(words_expr: str) -> str:
    hashes = (
        f"list_transform({words_expr}, "
        f"w -> ('0x' || substr(md5(w || '#0'), 1, 15))::BIGINT)"
    )
    terms = [
        f"(CASE WHEN 2 * len(list_filter({hashes}, h -> (h >> {i}) & 1 = 1))"
        f" > len({hashes}) THEN {1 << i} ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    ]
    return "(" + " + ".join(terms) + ")::BIGINT"


@query(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {_sql_simhash(_sql_words('text'))} AS simhash
    FROM documents
    """,
    doc="per-doc SimHash fingerprint (16-bit here; 64-bit at scale) as a "
    "pure column expression.",
)
def dedup_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", simhash_col(_words(F.col("text"))).alias("simhash")
    )


@query(
    "neardup_simhash",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_sql_simhash(_sql_words('text'))} AS simhash
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT))::BIGINT AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash::UBIGINT, b.simhash::UBIGINT)) <= 3
    """,
    doc="SimHash near-dup pairs (hamming <= 3) through the parameterized "
    "band operator at 16-bit/4-band so DuckDB can oracle it; the scale "
    "default is 60-bit/6-band (neardup_simhash_pairs). The oracle is the "
    "O(n^2) definition.",
)
def neardup_simhash(spark, sf_dir):
    # repartition before the simhash projection: the testdata parquet is
    # ONE row group, and the 16-bit simhash is 32 array passes per doc
    # evaluated map-side BEFORE the band shuffle — on the bare scan that
    # work runs single-partition (measured 13.6 s warm_min at quiet load
    # vs ~1 s with input parallelism restored; the binance_router /
    # _msg_source trap). A production corpus scan is thousands of files.
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    return neardup_simhash_pairs(
        docs, bits=SIMHASH_BITS, n_bands=4, max_hamming=3
    )


@query(
    "neardup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_transform({_sql_bigrams("string_split(text, ' ')")},
                            s -> ('0x' || substr(md5(s || '#0'), 1, 15))::BIGINT)
               AS hs
      FROM documents),
    blocked AS (
      SELECT doc_id, hs, list_aggregate(hs, 'min') AS blk FROM sh
      WHERE len(hs) > 0)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_filter(a.hs, x -> list_contains(b.hs, x))) /
             (len(a.hs) + len(b.hs)
              - len(list_filter(a.hs, x -> list_contains(b.hs, x)))) AS jaccard
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.doc_id < b.doc_id)
    WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    doc="n-gram (word-bigram shingle) Jaccard near-dup with a "
    "HIGH-CARDINALITY blocking key: the minimum shingle hash (a 1-band "
    "minhash — docs sharing their rarest-hashing shingle collide). "
    "Deterministic and identical in both engines; recall < 1 by design "
    "(the full-recall path is neardup_minhash_lsh), block cardinality "
    "grows with the corpus so no block outgrows a task.",
)
def neardup_ngram_jaccard(spark, sf_dir):
    # repartition for the same reason as neardup_simhash: the bigram
    # shingle hashing runs map-side before the block-key shuffle, and the
    # one-row-group testdata scan would evaluate it single-partition
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism * 2
    )
    # shingles over the RAW word sequence (adjacency is the signal;
    # _words would dedupe and reorder)
    hs = F.transform(_bigrams(F.split(F.col("text"), " ")), _hasher(0))
    blocked = docs.select(
        "doc_id", hs.alias("hs"), F.array_min(hs).alias("blk")
    ).filter(F.size("hs") > 0)
    inter = F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs")))
    union = F.size(F.col("a.hs")) + F.size(F.col("b.hs")) - inter
    return (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# -------------------------------------------- near-dup cluster components

def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b",
    max_iters: int = 25, checkpoint_dir: str | None = None,
) -> DataFrame:
    """Deterministic distributed connected components over an undirected
    edge list: min-label propagation (label(v) <- min over {v} U N(v) of
    labels) iterated to fixpoint. Each round is ONE equi-join + ONE
    partial-aggregated groupBy — the standard Spark CC shape (GraphX'
    small-star/large-star converges in fewer rounds but the label-prop
    round is strictly cheaper and dup clusters have tiny diameters).

    A per-round checkpoint truncates the exponentially nesting plan:
    ``localCheckpoint`` by default (executor-memory blocks — lost on
    executor death, fine single-node), or RELIABLE ``df.checkpoint()``
    when ``checkpoint_dir`` is given (HDFS/object-store path; the 100 TB
    setting, where an executor loss must not recompute the whole chain).

    Convergence is tracked on sum(label) — strictly decreasing until
    fixpoint because labels only move down. If ``max_iters`` rounds pass
    without reaching fixpoint (a chain-shaped component with diameter >
    max_iters), the labels are NOT component ids and silently returning
    them would corrupt downstream survivor picks — raise instead."""
    def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
        return _barrier(df, checkpoint_dir, eager=eager)

    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    )
    edges = _ckpt(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ),
        eager=False,
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        eager=False,
    )
    prev = labels.agg(F.sum("label")).collect()[0][0]
    converged = prev is None  # empty edge list is trivially converged
    for _ in range(max_iters):
        prop = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), "label")
        labels = _ckpt(
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label")),
            eager=False,
        )
        cur = labels.agg(F.sum("label")).collect()[0][0]
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


_SQL_ND_PAIRS = f"""
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
    nd AS (
      SELECT doc_a, doc_b FROM (
        SELECT c.doc_a, c.doc_b,
               len(list_filter(wa.wh, x -> list_contains(wb.wh, x))) /
               (len(wa.wh) + len(wb.wh)
                - len(list_filter(wa.wh, x -> list_contains(wb.wh, x)))) AS jaccard
        FROM cand c
        JOIN hashed wa ON wa.doc_id = c.doc_a
        JOIN hashed wb ON wb.doc_id = c.doc_b)
      WHERE jaccard >= {JACCARD_THRESHOLD})"""


@query(
    "neardup_components",
    oracle=f"""
    WITH RECURSIVE reps AS ({_SQL_REPS}),
    hashed AS ({_SQL_HASHED}),
    sig AS ({_SQL_SIG}),
    bands AS ({_SQL_BANDS}),
    {_SQL_ND_PAIRS},
    e AS (SELECT doc_a AS a, doc_b AS b FROM nd
          UNION ALL SELECT doc_b, doc_a FROM nd),
    reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, min(b) AS component_id
      FROM (SELECT a, b FROM reach
            UNION ALL SELECT DISTINCT a, a FROM e)
      GROUP BY a)
    SELECT c.doc_id, c.component_id, CAST(s.n AS BIGINT) AS n_members
    FROM comp c
    JOIN (SELECT component_id, count(*) AS n FROM comp
          GROUP BY component_id) s USING (component_id)
    """,
    doc="near-dup CLUSTERS: connected components over the MinHash-LSH "
    "pair graph by distributed min-label propagation (one join + one "
    "aggregate per round, checkpointed, converges in diameter rounds — "
    "dup clusters are shallow). The survivor policy 'keep min doc_id per "
    "component' falls out of the component id. Oracle: transitive "
    "closure by recursive CTE — O(V*E) and driver-side, exactly what the "
    "distributed form avoids.",
)
def neardup_components(spark, sf_dir):
    pairs = neardup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    # NO broadcast hint: `sizes` is one row per component and components
    # grow with the corpus, so forcing it driver-side is unbounded at
    # 100 TB. Plain equi-join — AQE broadcasts it when (and only when) it
    # measures small at runtime.
    return comp.join(sizes, "component_id").select(
        "doc_id", "component_id", "n_members"
    )


@query(
    "minhash_estimate_quality",
    oracle=f"""
    WITH reps AS ({_SQL_REPS}),
    hashed AS ({_SQL_HASHED}),
    sig AS ({_SQL_SIG}),
    bands AS ({_SQL_BANDS}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             len(list_filter(wa.wh, x -> list_contains(wb.wh, x))) /
             (len(wa.wh) + len(wb.wh)
              - len(list_filter(wa.wh, x -> list_contains(wb.wh, x))))
               AS jaccard,
             CAST({" + ".join(f"CASE WHEN sa.mh{s} = sb.mh{s} THEN 1 ELSE 0 END" for s in range(N_MINHASH))}
                  AS BIGINT) AS n_agree
      FROM cand c
      JOIN hashed wa ON wa.doc_id = c.doc_a
      JOIN hashed wb ON wb.doc_id = c.doc_b
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, jaccard, n_agree,
           n_agree / {N_MINHASH} AS jaccard_est
    FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    doc="sketch-quality measurement for the MinHash family ('measure, "
    "don't guess' applied to the estimator itself): for every CONFIRMED "
    "near-dup pair, report the exact shingle-set Jaccard next to the "
    "MinHash estimate (fraction of agreeing signature coordinates — the "
    "unbiased estimator whose stderr is sqrt(J(1-J)/k), here k=8). "
    "Agreement is an integer count, both similarity numbers are single "
    "divisions — no float aggregation. A production pipeline uses this "
    "row to size k before trusting LSH thresholds at 100 TB.",
)
def minhash_estimate_quality(spark, sf_dir):
    raw_docs = load_table(spark, sf_dir, "documents")
    hashed = _barrier(
        raw_docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"), F.any_value("text").alias("text"))
        .select(
            "doc_id",
            F.transform(_bigrams(F.split(F.col("text"), " ")), _hasher(0)).alias("wh"),
        ),
        None,
    )
    sig = hashed.select("doc_id", *minhash_cols(F.col("wh")))
    bands = _lsh_bands(sig)
    ids = F.sort_array(F.collect_set("doc_id")).alias("ids")
    buckets = _barrier(
        bands.groupBy("band_idx", "band_hash").agg(ids).filter(F.size("ids") > 1),
        None,
    )
    a = buckets.select("band_idx", "band_hash", F.explode("ids").alias("doc_a"))
    b = buckets.select("band_idx", "band_hash", F.explode("ids").alias("doc_b"))
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    union = F.size(F.col("wa")) + F.size(F.col("wb")) - inter
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(N_MINHASH)],
    )
    n_agree = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("long")
        for s in range(N_MINHASH)
    )
    return (
        cand.join(hashed.select(F.col("doc_id").alias("doc_a"), F.col("wh").alias("wa")), "doc_a")
        .join(hashed.select(F.col("doc_id").alias("doc_b"), F.col("wh").alias("wb")), "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter / union).alias("jaccard"),
            n_agree.cast("long").alias("n_agree"),
            (n_agree.cast("long") / F.lit(N_MINHASH)).alias("jaccard_est"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@query(
    "corpus_split_leakfree",
    oracle=f"""
    WITH RECURSIVE reps AS ({_SQL_REPS}),
    hashed AS ({_SQL_HASHED}),
    sig AS ({_SQL_SIG}),
    bands AS ({_SQL_BANDS}),
    {_SQL_ND_PAIRS},
    e AS (SELECT doc_a AS a, doc_b AS b FROM nd
          UNION ALL SELECT doc_b, doc_a FROM nd),
    reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, min(b) AS component_id
      FROM (SELECT a, b FROM reach
            UNION ALL SELECT DISTINCT a, a FROM e)
      GROUP BY a),
    rmap AS (
      SELECT d.doc_id, r.rep
      FROM documents d
      JOIN (SELECT md5(text) AS h, min(doc_id) AS rep
            FROM documents GROUP BY md5(text)) r
        ON md5(d.text) = r.h)
    SELECT m.doc_id,
           COALESCE(c.component_id, m.rep) AS split_key,
           c.component_id IS NOT NULL AS in_cluster,
           CASE WHEN COALESCE(c.component_id, m.rep) % 10 = 0
                THEN 'holdout' ELSE 'train' END AS split
    FROM rmap m LEFT JOIN comp c ON c.doc_id = m.rep
    """,
    doc="leakage-free train/holdout split assignment — the step between "
    "dedup and training that naive pipelines get wrong: splitting by "
    "per-doc hash puts NEAR-DUPLICATES of training docs into the "
    "holdout set, silently inflating eval scores (the train/test "
    "contamination SemDeDup/decontaminate_ngram_overlap exist to "
    "prevent). The split key is therefore assigned per DUPLICATE "
    "CLUSTER, not per doc: every doc maps to its exact-dup "
    "representative (min doc_id over md5(text) — the dedup_exact "
    "survivor rule), reps that belong to a MinHash-LSH near-dup "
    "component (neardup_components' pair graph) inherit the component "
    "id, singletons keep their own rep id, and split = key % 10 == 0 "
    "-> holdout (~10%). Every member of an exact or near-dup cluster "
    "lands in the SAME split by construction. Scale shape: one md5 "
    "groupBy for the rep map, the components loop (one join + one agg "
    "per round over the PAIR graph only — dup clusters are shallow and "
    "sparse), one left equi-join of docs to cluster labels, split is a "
    "projection; no all-pairs work anywhere (pairs come banded from "
    "LSH buckets).",
)
def corpus_split_leakfree(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    reps = docs.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("rep")
    )
    rmap = (
        docs.select("doc_id", F.md5("text").alias("_h"))
        .join(reps, "_h")
        .select("doc_id", "rep")
    )
    comp = neardup_components(spark, sf_dir).select(
        F.col("doc_id").alias("rep"), "component_id"
    )
    key = F.coalesce("component_id", "rep")
    return rmap.join(comp, "rep", "left").select(
        "doc_id",
        key.alias("split_key"),
        F.col("component_id").isNotNull().alias("in_cluster"),
        F.when(key % 10 == 0, "holdout").otherwise("train").alias("split"),
    )


@query(
    "neardup_best_rep",
    oracle=f"""
    WITH RECURSIVE reps AS ({_SQL_REPS}),
    hashed AS ({_SQL_HASHED}),
    sig AS ({_SQL_SIG}),
    bands AS ({_SQL_BANDS}),
    {_SQL_ND_PAIRS},
    e AS (SELECT doc_a AS a, doc_b AS b FROM nd
          UNION ALL SELECT doc_b, doc_a FROM nd),
    reach AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    comp AS (
      SELECT a AS doc_id, min(b) AS component_id
      FROM (SELECT a, b FROM reach
            UNION ALL SELECT DISTINCT a, a FROM e)
      GROUP BY a),
    q AS (
      SELECT doc_id,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct
      FROM documents),
    m AS (
      SELECT c.doc_id, c.component_id, q.n_distinct
      FROM comp c JOIN q USING (doc_id)),
    r AS (
      SELECT m.*,
             row_number() OVER (PARTITION BY component_id
                                ORDER BY n_distinct DESC, doc_id ASC) AS rn
      FROM m),
    s AS (
      SELECT component_id, CAST(count(*) AS BIGINT) AS n_members
      FROM m GROUP BY component_id)
    SELECT r.component_id, r.doc_id AS rep_doc_id,
           r.n_distinct AS rep_n_distinct, s.n_members,
           (r.doc_id <> r.component_id) AS policy_changed
    FROM r JOIN s USING (component_id) WHERE rn = 1
    """,
    doc="quality-aware canonical-representative selection for near-dup "
    "clusters: production dedup keeps ONE doc per cluster, and 'min "
    "doc_id' (the label-propagation default) keeps whichever URL was "
    "crawled first — often the thinnest mirror of the page. This row "
    "re-picks each component's survivor by an EXACT integer quality key "
    "(distinct-word count, doc_id ascending as the total tie-break — no "
    "float score, no ordering drift), and reports policy_changed = the "
    "new survivor differs from the min-id one, i.e. how much content the "
    "naive policy was discarding. Scale: the pair graph and components "
    "come from the banded-LSH + min-label-propagation path (never "
    "all-pairs); the ranking window partitions BY COMPONENT (bounded: "
    "dup clusters are shallow), and the quality join touches only "
    "clustered docs — a semi-join-sized subset of the corpus.",
)
def neardup_best_rep(spark, sf_dir):
    from pyspark.sql import Window as W

    pairs = neardup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents")
    quality = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("n_distinct"),
    )
    members = comp.join(quality, "doc_id")
    ranked = members.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("component_id").orderBy(
                F.desc("n_distinct"), F.asc("doc_id")
            )
        ),
    )
    sizes = members.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(sizes, "component_id")
        .select(
            "component_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_distinct").alias("rep_n_distinct"),
            "n_members",
            (F.col("doc_id") != F.col("component_id")).alias("policy_changed"),
        )
    )


@query(
    "distinct_sketch_gate",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_exact,
           (abs(approx_count_distinct(text) - count(DISTINCT text))
            * 100 <= 15 * count(DISTINCT text)) AS sketch_within_15pct
    FROM documents GROUP BY source
    """,
    doc="HLL distinct-count sketch with an in-plan error gate: per "
    "source, the EXACT distinct-text count (the small-SF ground truth) "
    "next to a boolean asserting the engine's own HyperLogLog estimate "
    "landed within 15%. The approx VALUE is deliberately NOT a result "
    "column — Spark's HLL++ and DuckDB's HLL are different sketches "
    "with different biases, so publishing it would hash-mismatch by "
    "construction; publishing the GATE makes each engine audit its own "
    "sketch against the same exact reference, the ann_recall_report "
    "pattern (the deployment check is engine-portable even when the "
    "estimator isn't). The gate margin is 3x the requested 5% rsd, so "
    "it is a correctness tripwire, not a coin flip, and both sketches "
    "are seed-deterministic. Why it matters at 100 TB: COUNT(DISTINCT) "
    "is an Expand + full shuffle of every distinct value — at frontier "
    "scale the sketch (fixed 2^p registers per group, map-side "
    "mergeable, one narrow shuffle) is the only affordable form, and "
    "this row is the audit that licenses the swap. The exact arm "
    "exists at any SF the driver grades; a production deployment runs "
    "the gate on a sampled stratum and ships the sketch corpus-wide.",
)
def distinct_sketch_gate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = F.countDistinct("text").cast("long")
    approx = F.approx_count_distinct("text", 0.05)
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        exact.alias("n_distinct_exact"),
        (F.abs(approx - exact) * 100 <= 15 * exact).alias(
            "sketch_within_15pct"
        ),
    )
