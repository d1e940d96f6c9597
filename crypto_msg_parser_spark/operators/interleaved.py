"""Interleaved text+media span documents — the crawl payload table.

This is the input_hint table shape from BASELINE.json:
    (doc_id: string,
     spans: array<struct<kind: string, text: string,
                         media_ref: string, offset: int32>>)

The reference pipeline (crypto-crawler -> crypto-msg-parser) lands fetched
payloads as ordered message sequences; the per-row invariant we carry is
span-sequence equality: (kind, text, media_ref, order) must survive every
transformation of the table.  `span_sequence_signature` reduces a document
to a deterministic per-doc fingerprint of exactly that tuple sequence, so
two pipelines (or a pipeline and its checkpoint-restore) can be compared
with a single equi-join.

The driver's `documents` parquet has no spans column, so
`synth_interleaved` derives the interleaved table deterministically from
(doc_id, text): two text spans split at floor(len/2) plus, for every 7th
doc, a trailing media span — mirroring `crawl.frontier.fetch_stub`'s
emission convention.  The DuckDB oracles rebuild the same spans with
UNION ALL, making the explode -> order -> reassemble path a value-hashed
CORRECTNESS row rather than a pytest-only claim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scalar import stable_hash64
from ..registry import query
from ..sources.testdata import load_table
from .corpus import PACK_TOKENS


def synth_interleaved(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> the interleaved span table, deterministically.

    Span layout per doc (L = length(text), h = floor(L/2)):
      [text  | text[1..h]   | null                      | 0]
      [text  | text[h+1..L] | null                      | h]
      [media | null         | media/<doc_id>.{svg|bin}  | L]   (doc_id %% 7 == 0;
                                                               .svg when %% 14 == 0)
    """
    L = F.length("text")
    half = F.floor(L / F.lit(2)).cast("int")
    did = F.col("doc_id").cast("string")
    ext = F.when(F.col("doc_id") % 14 == 0, F.lit(".svg")).otherwise(F.lit(".bin"))
    ref = F.concat(F.lit("media/"), did, ext)
    nul = F.lit(None).cast("string")

    def span(kind, text, media_ref, offset):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            offset.cast("int").alias("offset"),
        )

    s1 = span("text", F.col("text").substr(F.lit(1), half), nul, F.lit(0))
    s2 = span("text", F.col("text").substr(half + F.lit(1), L), nul, half)
    sm = span("media", nul, ref, L)
    spans = F.when(F.col("doc_id") % 7 == 0, F.array(s1, s2, sm)).otherwise(
        F.array(s1, s2)
    )
    return docs.select(did.alias("doc_id"), spans.alias("spans"))


def span_sequence_signature(inter: DataFrame) -> DataFrame:
    """Per-doc fingerprint of the (kind, media_ref, order) sequence plus the
    reassembled text — the north-rule span-sequence-equality invariant as
    one row per doc.  Explodes, re-sorts by (offset, tie-breakers), and
    folds back; any reorder, drop, or mutation of a span changes the row.
    """
    ex = inter.select("doc_id", F.explode("spans").alias("s"))
    sig_item = F.struct(
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.coalesce(F.col("s.media_ref"), F.lit("")).alias("media_ref"),
    )
    txt_item = F.struct(
        F.col("s.offset").alias("offset"),
        F.coalesce(F.col("s.text"), F.lit("")).alias("text"),
    )
    return ex.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(sig_item)),
                lambda s: F.concat_ws(
                    ":", s["kind"], s["offset"].cast("string"), s["media_ref"]
                ),
            ),
            "|",
        ).alias("seq_sig"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(txt_item)), lambda s: s["text"]),
            "",
        ).alias("reassembled"),
    )


# Shared oracle fragment: the same spans, built with UNION ALL in DuckDB.
_SQL_SPANS = """
  base AS (
    SELECT doc_id AS did, doc_id::VARCHAR AS doc_id, text,
           length(text) AS L, CAST(length(text) // 2 AS INT) AS h
    FROM documents
  ),
  spans AS (
    SELECT doc_id, 'text' AS kind, substr(text, 1, h) AS stext,
           '' AS media_ref, 0 AS soff FROM base
    UNION ALL
    SELECT doc_id, 'text', substr(text, h + 1, L), '', h FROM base
    UNION ALL
    SELECT doc_id, 'media', NULL,
           'media/' || doc_id || CASE WHEN did % 14 = 0 THEN '.svg' ELSE '.bin' END,
           L
    FROM base WHERE did % 7 = 0
  )
"""


@query(
    "spans_interleave_roundtrip",
    oracle=f"""
    WITH {_SQL_SPANS},
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             string_agg(kind || ':' || soff || ':' || coalesce(media_ref, ''),
                        '|' ORDER BY soff, kind, coalesce(media_ref, '')) AS seq_sig,
             coalesce(string_agg(stext, '' ORDER BY soff, coalesce(stext, '')),
                      '') AS reassembled
      FROM spans GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_spans, a.seq_sig,
           (length(a.reassembled) > 0) AS has_payload,
           (a.reassembled = b.text) AS roundtrip_ok
    FROM agg a JOIN base b USING (doc_id)
    """,
    doc="input_hint invariant as a value-hashed row: synthesize the "
    "interleaved span table, explode, re-sort, fingerprint the "
    "(kind, offset, media_ref) sequence, and verify the text spans "
    "reassemble to the source text.",
)
def spans_interleave_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    inter = synth_interleaved(docs)
    sig = span_sequence_signature(inter)
    src = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    return (
        sig.join(src, "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "seq_sig",
            (F.length("reassembled") > 0).alias("has_payload"),
            (F.col("reassembled") == F.col("text")).alias("roundtrip_ok"),
        )
    )


@query(
    "spans_media_extract",
    oracle="""
    SELECT 'media/' || doc_id || CASE WHEN doc_id % 14 = 0
                                      THEN '.svg' ELSE '.bin' END AS media_ref,
           CASE WHEN doc_id % 14 = 0 THEN 'image/svg+xml'
                ELSE 'application/octet-stream' END AS media_type
    FROM documents WHERE doc_id % 7 = 0
    """,
    doc="media-span extraction from the interleaved table into the "
    "multimodal decode shape (operators.multimodal.media_from_documents).",
)
def spans_media_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import media_from_documents

    inter = synth_interleaved(load_table(spark, sf_dir, "documents"))
    return media_from_documents(inter).select("media_ref", "media_type")


# Deterministic boilerplate payload: crawl pages repeat per-site chrome
# (footers, cookie banners, subscribe nags) verbatim across documents —
# the classic corpus-prep target of paragraph-level dedup (CCNet /
# RefinedWeb publish the recipe). Every third doc carries the same footer
# span so the operator has guaranteed work at any SF.
_FOOTER = "subscribe for realtime market data - (c) example exchange 2024"
_BOILER_MIN_DOCS = 5

_SQL_SPANS_FOOTER = (
    _SQL_SPANS
    + f""",
  spans_f AS (
    SELECT * FROM spans
    UNION ALL
    SELECT doc_id, 'text', '{_FOOTER}', '', 1000000
    FROM base WHERE did % 3 = 0
  )
"""
)


def synth_interleaved_with_footer(docs: DataFrame) -> DataFrame:
    """The interleaved table plus the shared footer span on every third
    doc — the deterministic stand-in for site-chrome boilerplate."""
    footer = F.struct(
        F.lit("text").alias("kind"),
        F.lit(_FOOTER).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(1_000_000).cast("int").alias("offset"),
    )
    inter = synth_interleaved(docs)
    spans = F.when(
        F.col("doc_id").cast("long") % 3 == 0,
        F.array_append(F.col("spans"), footer),
    ).otherwise(F.col("spans"))
    return inter.select("doc_id", spans.alias("spans"))


def _boilerplate_key(kind: Column, text: Column) -> Column:
    """A text span's boilerplate key: the stable hash of its normalized
    (lower+trim) text; NULL for media spans, which are never dropped."""
    return F.when(kind == "text", stable_hash64(F.lower(F.trim(text))))


def _flag_boilerplate(keyed: DataFrame) -> tuple[DataFrame, Column]:
    """(flagged, kept): spans (doc_id, bkey, ...) left-joined to the keys
    that recur in >= _BOILER_MIN_DOCS distinct docs, and the column that
    is true on the spans whose key is not one of them. One
    partial-aggregated shuffle counts the docs per key, and the flag-back
    is a plain equi-join on the key (AQE picks the strategy)."""
    boiler = (
        keyed.filter(F.col("bkey").isNotNull())
        .groupBy("bkey")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _BOILER_MIN_DOCS)
        .select("bkey", F.lit(True).alias("_boiler"))
    )
    return keyed.join(boiler, "bkey", "left"), F.col("_boiler").isNull()


@query(
    "spans_boilerplate_strip",
    oracle=f"""
    WITH {_SQL_SPANS_FOOTER},
    keyed AS (
      SELECT doc_id, kind, stext, soff,
             CASE WHEN kind = 'text'
                  THEN ('0x' || substr(md5(lower(trim(stext))), 1, 15))::BIGINT
             END AS bkey
      FROM spans_f
    ),
    boiler AS (
      SELECT bkey FROM keyed WHERE bkey IS NOT NULL
      GROUP BY bkey HAVING count(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE b.bkey IS NULL) AS BIGINT) AS n_kept,
           CAST(count(*) FILTER (WHERE b.bkey IS NOT NULL) AS BIGINT)
             AS n_dropped,
           CAST(coalesce(sum(CASE WHEN b.bkey IS NULL
                                  THEN coalesce(length(k.stext), 0)
                                  ELSE 0 END), 0) AS BIGINT) AS chars_kept,
           coalesce(string_agg(CASE WHEN b.bkey IS NULL
                                    THEN k.kind || ':' || k.soff END,
                               '|' ORDER BY k.soff, k.kind), '') AS kept_sig
    FROM keyed k LEFT JOIN boiler b ON k.bkey = b.bkey
    GROUP BY doc_id
    """,
    doc="span-level boilerplate removal over the INTERLEAVED table — the "
    "paragraph-dedup move of CCNet/RefinedWeb corpus prep, at span "
    "granularity: normalize each text span (lower+trim), hash it "
    "(cross-engine md5 stable_hash64), count DISTINCT docs per hash in "
    "one partial-aggregated shuffle, and drop text spans whose content "
    "recurs in >= 5 docs (site chrome); media spans are never dropped. "
    "The boilerplate set is corpus-dependent and unbounded, so the "
    "flag-back is a plain equi-join on the hash (AQE decides the "
    "strategy) — never a forced broadcast, never all-pairs. Output keeps "
    "one row per doc even when every span dropped (aggregate over the "
    "flagged explode, not over the survivors).",
)
def spans_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    inter = synth_interleaved_with_footer(docs)
    ex = inter.select("doc_id", F.explode("spans").alias("s"))
    flagged, kept = _flag_boilerplate(
        ex.withColumn("bkey", _boilerplate_key(F.col("s.kind"), F.col("s.text")))
    )
    kept_item = F.when(
        kept,
        F.struct(
            F.col("s.offset").alias("offset"), F.col("s.kind").alias("kind")
        ),
    )
    return flagged.groupBy("doc_id").agg(
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum((~kept).cast("long")).alias("n_dropped"),
        F.sum(
            F.when(kept, F.coalesce(F.length("s.text"), F.lit(0))).otherwise(0)
        )
        .cast("long")
        .alias("chars_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_item)),
                lambda s: F.concat_ws(
                    ":", s["kind"], s["offset"].cast("string")
                ),
            ),
            "|",
        ).alias("kept_sig"),
    )


# Token budget for truncation: documents carry 10-99 whitespace tokens
# (median 56), so 48 truncates roughly the upper half while short docs
# pass through whole — both branches exercised at every SF. A media span
# costs a fixed 16 tokens (a patch-embedding placeholder budget).
_TRUNC_BUDGET = 48
_MEDIA_TOKEN_COST = 16


def _span_tokens(
    kind: Column, text: Column, offset: Column, kept: Column | None = None
) -> tuple[Column, Column]:
    """(tok, cum): a span's token cost (whitespace tokens of a text span,
    _MEDIA_TOKEN_COST for a media span) and its doc's running total in
    span order. With ``kept`` only kept spans advance the total. The
    running sum is a per-doc window, so its partitions stay bounded."""
    tok = (
        F.when(kind == "text", F.coalesce(F.size(F.split(text, " ")), F.lit(0)))
        .otherwise(F.lit(_MEDIA_TOKEN_COST))
        .cast("long")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy(offset, kind)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    counted = tok if kept is None else F.when(kept, tok).otherwise(F.lit(0))
    return tok, F.sum(counted).over(w)


@query(
    "spans_token_truncate",
    oracle=f"""
    WITH {_SQL_SPANS},
    toks AS (
      SELECT doc_id,
             CASE WHEN kind = 'text'
                  THEN coalesce(len(string_split(stext, ' ')), 0)
                  ELSE {_MEDIA_TOKEN_COST} END AS tok,
             soff, kind
      FROM spans
    ),
    cums AS (
      SELECT doc_id, tok,
             sum(tok) OVER (PARTITION BY doc_id ORDER BY soff, kind
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM toks
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE cum <= {_TRUNC_BUDGET}) AS BIGINT)
             AS n_kept,
           CAST(coalesce(sum(CASE WHEN cum <= {_TRUNC_BUDGET} THEN tok END),
                         0) AS BIGINT) AS tokens_kept,
           (max(cum) > {_TRUNC_BUDGET}) AS truncated
    FROM cums GROUP BY doc_id
    """,
    doc="token-budget truncation at SPAN boundaries over the interleaved "
    "table: spans are kept in offset order while the running token total "
    "stays within the training-sequence budget (48); text spans cost "
    "their whitespace token count, media spans a fixed 16-token "
    "patch-embedding budget. The running sum is a per-doc window "
    "(bounded partitions — a doc's span count is tiny), so the plan is "
    "one explode, one window over doc_id, one partial-aggregated "
    "groupBy: no global window, no driver loop, safe at any corpus "
    "size. Spans are atomic — a span that would cross the budget is "
    "dropped whole, the multimodal-training constraint that plain "
    "character truncation violates.",
)
def spans_token_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = synth_interleaved(load_table(spark, sf_dir, "documents"))
    ex = inter.select("doc_id", F.explode("spans").alias("s"))
    tok, cum = _span_tokens(F.col("s.kind"), F.col("s.text"), F.col("s.offset"))
    staged = ex.select("doc_id", tok.alias("tok"), cum.alias("cum"))
    within = F.col("cum") <= _TRUNC_BUDGET
    return staged.groupBy("doc_id").agg(
        F.sum(within.cast("long")).alias("n_kept"),
        F.coalesce(F.sum(F.when(within, F.col("tok"))), F.lit(0))
        .cast("long")
        .alias("tokens_kept"),
        (F.max("cum") > _TRUNC_BUDGET).alias("truncated"),
    )


@query(
    "spans_text_stats",
    oracle=f"""
    WITH {_SQL_SPANS}
    SELECT doc_id,
           CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_text_spans,
           CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_media_spans,
           CAST(sum(coalesce(length(stext), 0)) AS BIGINT) AS n_chars,
           CAST(sum(CASE WHEN kind = 'text'
                         THEN len(string_split(stext, ' ')) ELSE 0 END)
                AS BIGINT) AS n_tokens
    FROM spans GROUP BY doc_id
    """,
    doc="token/char accounting over the INTERLEAVED payload (the "
    "input_hint table), per doc: text-span and media-span counts, chars "
    "and whitespace tokens summed over text spans only — the quantity a "
    "mixed text+media training mixture budgets by. Explode -> single "
    "partial-aggregated groupBy(doc_id); media spans contribute to span "
    "counts but never to the token budget.",
)
def spans_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = synth_interleaved(load_table(spark, sf_dir, "documents"))
    ex = inter.select("doc_id", F.explode("spans").alias("s"))
    is_text = (F.col("s.kind") == "text").cast("long")
    return ex.groupBy("doc_id").agg(
        F.sum(is_text).alias("n_text_spans"),
        F.sum((F.col("s.kind") == "media").cast("long")).alias("n_media_spans"),
        F.sum(F.coalesce(F.length("s.text"), F.lit(0))).alias("n_chars"),
        F.sum(
            F.when(
                F.col("s.kind") == "text", F.size(F.split("s.text", " "))
            ).otherwise(0)
        ).alias("n_tokens"),
    )


from .scrub import _SQL_AUG as _SQL_PII_AUG  # noqa: E402
from .scrub import _sql_scrub as _sql_pii_scrub  # noqa: E402


@query(
    "spans_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, {_SQL_PII_AUG} AS text FROM documents
    ),
    base AS (
      SELECT doc_id AS did, doc_id::VARCHAR AS doc_id, text,
             length(text) AS L, CAST(length(text) // 2 AS INT) AS h
      FROM aug
    ),
    spans AS (
      SELECT doc_id, 'text' AS kind,
             {_sql_pii_scrub("substr(text, 1, h)")} AS stext,
             '' AS media_ref, 0 AS soff FROM base
      UNION ALL
      SELECT doc_id, 'text', {_sql_pii_scrub("substr(text, h + 1, L)")}, '', h
      FROM base
      UNION ALL
      SELECT doc_id, 'media', NULL,
             'media/' || doc_id || CASE WHEN did % 14 = 0
                                        THEN '.svg' ELSE '.bin' END,
             L
      FROM base WHERE did % 7 = 0
    ),
    agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_spans,
             string_agg(kind || ':' || soff || ':' || coalesce(media_ref, ''),
                        '|' ORDER BY soff, kind, coalesce(media_ref, '')) AS seq_sig,
             coalesce(string_agg(stext, '' ORDER BY soff, coalesce(stext, '')),
                      '') AS scrubbed_text
      FROM spans GROUP BY doc_id
    )
    SELECT doc_id, n_spans, seq_sig, scrubbed_text,
           CAST(len(regexp_extract_all(scrubbed_text, '<(EMAIL|PHONE|IP)>'))
                AS BIGINT) AS n_redactions
    FROM agg
    """,
    doc="PII redaction applied IN PLACE over the interleaved payload "
    "(input_hint table): each text span is scrubbed independently; media "
    "spans and the (kind, offset, media_ref) sequence are untouched — the "
    "seq_sig column IS the north-rule span-sequence-equality proof that "
    "the transformation preserved span order. Contract: a PII token that "
    "straddles a span boundary is NOT redacted (spans are scrubbed "
    "independently, exactly like a page-shard boundary in a real crawl "
    "store); both engines compute the identical per-span closed form.",
)
def spans_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scrub import _augmented_text, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _augmented_text().alias("text"))
    inter = synth_interleaved(aug)
    scrubbed = inter.select(
        "doc_id",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(s["kind"] == "text", scrub_pii(s["text"]))
                .otherwise(s["text"])
                .alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )
    sig = span_sequence_signature(scrubbed)
    return sig.select(
        "doc_id",
        "n_spans",
        "seq_sig",
        F.col("reassembled").alias("scrubbed_text"),
        F.regexp_count("reassembled", F.lit("<(EMAIL|PHONE|IP)>"))
        .cast("long")
        .alias("n_redactions"),
    )


@query(
    "spans_caption_extract",
    oracle="""
    WITH base AS (
      SELECT doc_id AS did, doc_id::VARCHAR AS doc_id, text,
             length(text) AS L, CAST(length(text) // 2 AS INT) AS h
      FROM documents)
    SELECT doc_id,
           'media/' || doc_id || CASE WHEN did % 14 = 0
                                      THEN '.svg' ELSE '.bin' END AS media_ref,
           substr(greatest('0000000000:' || substr(text, 1, h),
                           lpad(CAST(h AS VARCHAR), 10, '0') || ':'
                             || substr(text, h + 1, L)), 12) AS caption,
           CAST(length(substr(greatest('0000000000:' || substr(text, 1, h),
                           lpad(CAST(h AS VARCHAR), 10, '0') || ':'
                             || substr(text, h + 1, L)), 12)) AS BIGINT)
             AS caption_len
    FROM base WHERE did % 7 = 0
    """,
    doc="caption-candidate extraction for media spans: pair each media "
    "span with the nearest PRECEDING text span in its own document "
    "(offset <= media offset, latest offset wins — the standard "
    "alt-text/caption heuristic for multimodal pair mining). The "
    "reduction key is lpad(offset)||':'||text, so ties on offset break "
    "deterministically on content in both engines; the join is "
    "doc-local (equi-join on doc_id over <=3 spans/doc), never "
    "cross-document. Oracle = the closed form of the synthetic layout.",
)
def spans_caption_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = synth_interleaved(load_table(spark, sf_dir, "documents"))
    ex = inter.select("doc_id", F.explode("spans").alias("s"))
    media = ex.filter(F.col("s.kind") == "media").select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("m_off"),
    )
    texts = ex.filter(F.col("s.kind") == "text").select(
        "doc_id",
        F.col("s.offset").alias("t_off"),
        F.col("s.text").alias("t_text"),
    )
    key = F.concat(
        F.lpad(F.col("t_off").cast("string"), 10, "0"),
        F.lit(":"),
        F.col("t_text"),
    )
    return (
        media.join(texts, "doc_id")
        .filter(F.col("t_off") <= F.col("m_off"))
        .groupBy("doc_id", "media_ref")
        .agg(F.max(key).alias("k"))
        .select(
            "doc_id",
            "media_ref",
            F.expr("substring(k, 12)").alias("caption"),
            F.length(F.expr("substring(k, 12)")).cast("long").alias("caption_len"),
        )
    )


_MIN_TOK_GATE = 8  # post-strip post-truncate token floor
_MIN_STOP_GATE = 1  # stop-word evidence floor over surviving spans

_SQL_SPANS_AUG_FOOTER = (
    "aug_docs AS (SELECT doc_id, " + _SQL_PII_AUG + " AS text FROM documents),\n"
    + _SQL_SPANS_FOOTER.replace("FROM documents", "FROM aug_docs")
)


@query(
    "web_corpus_prep_full",
    oracle=f"""
    WITH {_SQL_SPANS_AUG_FOOTER},
    scr AS (
      SELECT doc_id, kind,
             CASE WHEN kind = 'text' THEN {_sql_pii_scrub("stext")}
                  ELSE stext END AS stext,
             soff
      FROM spans_f),
    keyed AS (
      SELECT doc_id, kind, stext, soff,
             CASE WHEN kind = 'text'
                  THEN ('0x' || substr(md5(lower(trim(stext))), 1, 15))::BIGINT
             END AS bkey,
             CASE WHEN kind = 'text'
                  THEN CAST(len(regexp_extract_all(stext,
                       '<(EMAIL|PHONE|IP)>')) AS BIGINT)
                  ELSE 0 END AS nred
      FROM scr),
    boiler AS (
      SELECT bkey FROM keyed WHERE bkey IS NOT NULL
      GROUP BY bkey HAVING count(DISTINCT doc_id) >= {_BOILER_MIN_DOCS}),
    flagged AS (
      SELECT k.doc_id, k.kind, k.soff, k.nred,
             (b.bkey IS NULL) AS kept,
             CASE WHEN k.kind = 'text'
                  THEN coalesce(len(string_split(k.stext, ' ')), 0)
                  ELSE {_MEDIA_TOKEN_COST} END AS tok,
             CASE WHEN k.kind = 'text'
                  THEN len(list_filter(string_split(k.stext, ' '),
                       w -> list_contains({["the", "a", "of", "and", "to", "in"]!r}, w)))
                  ELSE 0 END AS stp
      FROM keyed k LEFT JOIN boiler b ON k.bkey = b.bkey),
    cums AS (
      SELECT doc_id, kept, tok, nred, stp,
             sum(CASE WHEN kept THEN tok ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY soff, kind
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM flagged),
    perdoc AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(count(*) FILTER (WHERE kept AND cum <= {_TRUNC_BUDGET})
                  AS BIGINT) AS n_spans_final,
             CAST(coalesce(sum(CASE WHEN kept AND cum <= {_TRUNC_BUDGET}
                                    THEN tok END), 0) AS BIGINT) AS n_tok,
             CAST(sum(nred) AS BIGINT) AS n_redactions,
             CAST(coalesce(sum(CASE WHEN kept AND cum <= {_TRUNC_BUDGET}
                                    THEN stp END), 0) AS BIGINT) AS stop_hits
      FROM cums GROUP BY doc_id),
    gated AS (
      SELECT * FROM perdoc
      WHERE n_tok >= {_MIN_TOK_GATE} AND stop_hits >= {_MIN_STOP_GATE})
    SELECT doc_id, n_spans_final, n_tok, n_redactions, stop_hits,
           CAST(cum2 - n_tok AS BIGINT) AS start_offset,
           CAST(floor((cum2 - n_tok) / {PACK_TOKENS}) AS BIGINT) AS pack_id
    FROM (SELECT *, sum(n_tok) OVER (ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum2
          FROM gated)
    """,
    doc="the WEB-corpus flagship — what a crawl-to-training-data pipeline "
    "actually runs, as ONE declarative plan over the interleaved payload: "
    "per-span PII redaction (scrub BEFORE boilerplate hashing, so chrome "
    "that differs only in embedded PII still dedups) -> span-level "
    "boilerplate strip -> token accounting over surviving spans -> "
    "token-budget truncation at span boundaries -> doc-level quality "
    "gate (token floor + stop-word evidence over the SURVIVING spans — "
    "thin or gibberish docs never reach packing) -> two-level prefix-sum "
    "packing of the gated set. The oracle replays the entire chain in "
    "closed form; stage coupling (scrub before hash, gate after "
    "truncation, pack offsets over the gated subset only) is exactly "
    "what single-operator tests cannot catch.",
)
def web_corpus_prep_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import pack_sequences
    from .scrub import _augmented_text, scrub_pii
    from .textstats import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _augmented_text().alias("text"))
    inter = synth_interleaved_with_footer(aug)
    ex = inter.select("doc_id", F.explode("spans").alias("s"))
    is_text = F.col("s.kind") == "text"
    scr = ex.select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.when(is_text, scrub_pii(F.col("s.text")))
        .otherwise(F.col("s.text"))
        .alias("stext"),
        F.col("s.offset").alias("soff"),
    )
    keyed = scr.select(
        "*",
        _boilerplate_key(F.col("kind"), F.col("stext")).alias("bkey"),
        F.when(
            F.col("kind") == "text",
            F.regexp_count("stext", F.lit("<(EMAIL|PHONE|IP)>")).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("nred"),
    )
    flagged, kept = _flag_boilerplate(keyed)
    tok, cum = _span_tokens(F.col("kind"), F.col("stext"), F.col("soff"), kept)
    stp = (
        F.when(
            F.col("kind") == "text",
            F.size(
                F.filter(
                    F.split("stext", " "),
                    lambda w: F.array_contains(F.lit(STOPWORDS), w),
                )
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    staged = flagged.select(
        "doc_id",
        kept.alias("kept"),
        tok.alias("tok"),
        "nred",
        stp.alias("stp"),
        cum.alias("cum"),
    )
    within = F.col("kept") & (F.col("cum") <= _TRUNC_BUDGET)
    perdoc = staged.groupBy(
        F.col("doc_id").cast("long").alias("doc_id")
    ).agg(
        F.sum(within.cast("long")).alias("n_spans_final"),
        F.coalesce(F.sum(F.when(within, F.col("tok"))), F.lit(0))
        .cast("long")
        .alias("n_tok"),
        F.sum("nred").cast("long").alias("n_redactions"),
        F.coalesce(F.sum(F.when(within, F.col("stp"))), F.lit(0))
        .cast("long")
        .alias("stop_hits"),
    )
    gated = perdoc.filter(
        (F.col("n_tok") >= _MIN_TOK_GATE)
        & (F.col("stop_hits") >= _MIN_STOP_GATE)
    )
    # pack_sequences references its input three times (local cumsum, leaf
    # totals, offsets join); without a barrier Catalyst re-evaluates the
    # whole scrub+strip+truncate subtree per reference. The gated frame is
    # a few longs per doc, so the expensive subtree runs exactly once.
    gated = gated.localCheckpoint(eager=False)
    return pack_sequences(gated).select(
        "doc_id",
        "n_spans_final",
        "n_tok",
        "n_redactions",
        "stop_hits",
        "start_offset",
        "pack_id",
    )


@query(
    "docs_lake_roundtrip",
    oracle="""
    SELECT (doc_id % 7 = 0) AS has_media,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_roundtrip_ok
    FROM documents GROUP BY doc_id % 7 = 0
    """,
    doc="the north-rule landing step made a CORRECTNESS row: the "
    "interleaved span table is ACTUALLY WRITTEN to a partitioned "
    "parquet lake (partition key = media presence; the Iceberg-table "
    "stand-in, same convention as sinks.write_parquet_lake) and read "
    "back, and every document's span-sequence signature AND reassembled "
    "text must survive the codec round-trip — n_roundtrip_ok counts "
    "docs whose (kind, text, media_ref, order) sequence is bit-equal "
    "after the write/read. Arrays of structs cross the parquet "
    "nested-type path, the part every toy sink skips.",
)
def docs_lake_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    inter = synth_interleaved(docs)
    staged = inter.select(
        "doc_id",
        "spans",
        F.exists("spans", lambda s: s["kind"] == F.lit("media")).alias(
            "has_media"
        ),
    )
    lake = tempfile.mkdtemp(prefix="docs_lake_")
    try:
        staged.write.mode("overwrite").partitionBy("has_media").parquet(lake)
        # partition values come back as directory strings; restore the type
        back = spark.read.parquet(lake).withColumn(
            "has_media", F.col("has_media").cast("boolean")
        )
        sig_mem = span_sequence_signature(inter).select(
            "doc_id",
            F.col("seq_sig").alias("sig_a"),
            F.col("reassembled").alias("re_a"),
        )
        sig_back = span_sequence_signature(
            back.select("doc_id", "spans")
        ).select(
            "doc_id",
            F.col("seq_sig").alias("sig_b"),
            F.col("reassembled").alias("re_b"),
        )
        ok = (F.col("sig_a") == F.col("sig_b")) & (
            F.col("re_a") == F.col("re_b")
        )
        out = (
            back.select("doc_id", "has_media")
            .join(sig_mem, "doc_id")
            .join(sig_back, "doc_id")
            .groupBy("has_media")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(ok.cast("long")).cast("long").alias("n_roundtrip_ok"),
            )
        )
        rows = out.collect()  # materialize BEFORE the lake dir is removed
    finally:
        shutil.rmtree(lake, ignore_errors=True)
    return spark.createDataFrame(
        rows, "has_media boolean, n_docs long, n_roundtrip_ok long"
    )


# ViT-L/14 at 336px: a 24x24 patch grid = 576 image tokens per media span
# (public CLIP/LLaVA architecture constant) — the fixed context cost a
# multimodal packer must budget for each interleaved image.
MEDIA_TOKENS_PER_SPAN = 576


@query(
    "interleaved_pack_budget",
    oracle=f"""
    SELECT doc_id, text_tokens, media_tokens, n_tok,
           CAST(cum - n_tok AS BIGINT) AS start_offset,
           CAST(floor((cum - n_tok) / {PACK_TOKENS}) AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, text_tokens, media_tokens, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
               AS cum
      FROM (
        SELECT doc_id,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                    w -> (length(w) + 3) // 4), 'sum') AS BIGINT)
                 AS text_tokens,
               CAST({MEDIA_TOKENS_PER_SPAN} * CASE WHEN doc_id % 7 = 0
                    THEN 1 ELSE 0 END AS BIGINT) AS media_tokens,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                    w -> (length(w) + 3) // 4), 'sum')
                    + {MEDIA_TOKENS_PER_SPAN} * CASE WHEN doc_id % 7 = 0
                      THEN 1 ELSE 0 END AS BIGINT) AS n_tok
        FROM documents))
    """,
    doc="modality-aware sequence packing over the interleaved corpus: "
    "each doc's context cost = BPE-ish subword estimate of its text "
    "(ceil(len/4) per word, the token_count convention) PLUS a fixed "
    f"{MEDIA_TOKENS_PER_SPAN}-token budget per media span (ViT-L/14@336 "
    "patch grid — the public constant multimodal trainers pack against). "
    "The media-span count comes from the REAL interleaved span table "
    "(synth_interleaved -> filter kind='media'), not the doc_id rule, so "
    "a span-layout change surfaces here. Packing reuses the two-level "
    "distributed prefix-sum (operators/corpus.pack_sequences): bounded "
    "leaf/super windows, the only single-partition stage sees "
    "n_docs/2^20 rows. Integer-exact end to end; the oracle is the "
    "single global cumsum DuckDB can afford at test SF.",
)
def interleaved_pack_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    inter = synth_interleaved(docs)
    n_media = inter.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media"))
        )
        .cast("long")
        .alias("n_media"),
    )
    words = F.split("text", " ")
    text_tokens = F.aggregate(
        F.transform(
            words, lambda w: F.floor((F.length(w) + 3) / 4).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = docs.select("doc_id", text_tokens.alias("text_tokens"))
    toks = base.join(n_media, "doc_id").select(
        "doc_id",
        "text_tokens",
        (F.col("n_media") * MEDIA_TOKENS_PER_SPAN)
        .cast("long")
        .alias("media_tokens"),
        (
            F.col("text_tokens") + F.col("n_media") * MEDIA_TOKENS_PER_SPAN
        )
        .cast("long")
        .alias("n_tok"),
    )
    return pack_sequences(toks).select(
        "doc_id",
        "text_tokens",
        "media_tokens",
        "n_tok",
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("pack_id").cast("long").alias("pack_id"),
    )


@query(
    "spans_epoch_diff",
    oracle="""
    WITH base AS (
      SELECT doc_id AS did, doc_id::VARCHAR AS doc_id, text,
             length(text) AS L, CAST(length(text) // 2 AS INT) AS h
      FROM documents),
    e1 AS (
      SELECT doc_id, 'text' AS kind, substr(text, 1, h) AS stext,
             '' AS media_ref, 0 AS soff FROM base WHERE did % 19 <> 0
      UNION ALL
      SELECT doc_id, 'text', substr(text, h + 1, L), '', h
      FROM base WHERE did % 19 <> 0
      UNION ALL
      SELECT doc_id, 'media', '',
             'media/' || doc_id
               || CASE WHEN did % 14 = 0 THEN '.svg' ELSE '.bin' END,
             L
      FROM base WHERE did % 19 <> 0 AND did % 7 = 0),
    e2 AS (
      SELECT doc_id, 'text' AS kind, substr(text, 1, h) AS stext,
             '' AS media_ref, 0 AS soff FROM base WHERE did % 17 <> 0
      UNION ALL
      SELECT doc_id, 'text',
             substr(text, h + 1, L)
               || CASE WHEN did % 5 = 0 THEN '~' ELSE '' END,
             '', h
      FROM base WHERE did % 17 <> 0
      UNION ALL
      SELECT doc_id, 'media', '',
             'media/' || doc_id
               || CASE WHEN did % 14 = 0 THEN '.svg' ELSE '.bin' END
               || CASE WHEN did % 13 = 0 THEN '.v2' ELSE '' END,
             L
      FROM base
      WHERE did % 17 <> 0 AND did % 7 = 0 AND did % 11 <> 0),
    d AS (
      SELECT coalesce(e1.doc_id, e2.doc_id) AS doc_id,
             (e1.doc_id IS NOT NULL) AS in1,
             (e2.doc_id IS NOT NULL) AS in2,
             CASE WHEN e1.doc_id IS NOT NULL AND e2.doc_id IS NOT NULL
                   AND (e1.stext <> e2.stext
                        OR e1.media_ref <> e2.media_ref)
                  THEN 1 ELSE 0 END AS modified
      FROM e1 FULL OUTER JOIN e2
        ON e1.doc_id = e2.doc_id AND e1.soff = e2.soff
           AND e1.kind = e2.kind),
    agg AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN in1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_spans_e1,
             CAST(sum(CASE WHEN in2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_spans_e2,
             CAST(sum(CASE WHEN in2 AND NOT in1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN in1 AND NOT in2 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_removed,
             CAST(sum(modified) AS BIGINT) AS n_modified,
             CAST(sum(CASE WHEN in1 AND in2 AND modified = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
      FROM d GROUP BY doc_id)
    SELECT doc_id, n_spans_e1, n_spans_e2, n_added, n_removed,
           n_modified, n_unchanged,
           CASE WHEN n_spans_e1 = 0 THEN 'new'
                WHEN n_spans_e2 = 0 THEN 'gone'
                WHEN n_added + n_removed + n_modified > 0 THEN 'changed'
                ELSE 'same' END AS status
    FROM agg
    """,
    doc="re-crawl span diff between two crawl epochs of the interleaved "
    "corpus — the change-detection report a recrawl scheduler consumes "
    "(recrawl_backoff prices WHEN to refetch; this row computes WHAT "
    "changed once the refetch lands). Epoch 1 excludes every 19th doc "
    "(pages that appeared later = 'new'), epoch 2 excludes every 17th "
    "(404s = 'gone') and deterministically mutates surviving spans: "
    "every 5th doc's second text span drifts (content update), every "
    "13th doc's media_ref gains a '.v2' suffix (asset re-encode = "
    "modified), every 11th doc's media span disappears (removed). "
    "Spans align across epochs on the STABLE identity key (doc_id, "
    "offset, kind) via one FULL OUTER equi-join — the null sides ARE "
    "the added/removed signal, exactly the sitemap_coverage_audit "
    "join discipline — and payload drift (text OR media_ref) on "
    "aligned spans marks 'modified', i.e. the span-sequence-equality "
    "invariant (kind, text, media_ref, order) evaluated per span "
    "with the violation localized instead of just flagged. The text "
    "mutation is a concat ('~' suffix), not a case map, so both "
    "engines produce byte-identical strings with no locale surface. "
    "Offsets are collision-free because the corpus min doc length "
    "(44 chars) keeps 0 < h < L. Scale: the two epoch frames "
    "explode to ~3 rows/doc, the join shuffles on doc_id (the "
    "natural lake partition key), and the per-doc rollup is one "
    "partial-agg groupBy riding the same key — no window, no "
    "broadcast of anything unbounded.",
)
def spans_epoch_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("did")

    def epoch_spans(excl_mod: int, mutate: bool) -> DataFrame:
        ex = (
            synth_interleaved(
                docs.filter(F.col("doc_id") % excl_mod != 0)
            )
            .join(
                docs.select(
                    F.col("doc_id").cast("string").alias("doc_id"),
                    F.col("doc_id").alias("did"),
                ),
                "doc_id",
            )
            .select("doc_id", "did", F.explode("spans").alias("s"))
            .select(
                "doc_id",
                "did",
                F.col("s.kind").alias("kind"),
                F.coalesce(F.col("s.text"), F.lit("")).alias("stext"),
                F.coalesce(F.col("s.media_ref"), F.lit("")).alias(
                    "media_ref"
                ),
                F.col("s.offset").alias("soff"),
            )
        )
        if not mutate:
            return ex
        is_text2 = (F.col("kind") == "text") & (F.col("soff") > 0)
        is_media = F.col("kind") == "media"
        return (
            ex.filter(~(is_media & (did % 11 == 0)))
            .withColumn(
                "stext",
                F.when(
                    is_text2 & (did % 5 == 0),
                    F.concat(F.col("stext"), F.lit("~")),
                ).otherwise(F.col("stext")),
            )
            .withColumn(
                "media_ref",
                F.when(
                    is_media & (did % 13 == 0),
                    F.concat(F.col("media_ref"), F.lit(".v2")),
                ).otherwise(F.col("media_ref")),
            )
        )

    e1 = epoch_spans(19, mutate=False).alias("e1")
    e2 = epoch_spans(17, mutate=True).alias("e2")
    j = e1.join(
        e2,
        (F.col("e1.doc_id") == F.col("e2.doc_id"))
        & (F.col("e1.soff") == F.col("e2.soff"))
        & (F.col("e1.kind") == F.col("e2.kind")),
        "full_outer",
    )
    in1 = F.col("e1.doc_id").isNotNull()
    in2 = F.col("e2.doc_id").isNotNull()
    modified = (
        in1
        & in2
        & (
            (F.col("e1.stext") != F.col("e2.stext"))
            | (F.col("e1.media_ref") != F.col("e2.media_ref"))
        )
    ).cast("int")
    d = j.select(
        F.coalesce(F.col("e1.doc_id"), F.col("e2.doc_id")).alias("doc_id"),
        in1.alias("in1"),
        in2.alias("in2"),
        modified.alias("modified"),
    )
    agg = d.groupBy("doc_id").agg(
        F.sum(F.col("in1").cast("int")).cast("long").alias("n_spans_e1"),
        F.sum(F.col("in2").cast("int")).cast("long").alias("n_spans_e2"),
        F.sum((F.col("in2") & ~F.col("in1")).cast("int"))
        .cast("long")
        .alias("n_added"),
        F.sum((F.col("in1") & ~F.col("in2")).cast("int"))
        .cast("long")
        .alias("n_removed"),
        F.sum("modified").cast("long").alias("n_modified"),
        F.sum(
            (F.col("in1") & F.col("in2") & (F.col("modified") == 0)).cast(
                "int"
            )
        )
        .cast("long")
        .alias("n_unchanged"),
    )
    status = (
        F.when(F.col("n_spans_e1") == 0, "new")
        .when(F.col("n_spans_e2") == 0, "gone")
        .when(
            F.col("n_added") + F.col("n_removed") + F.col("n_modified") > 0,
            "changed",
        )
        .otherwise("same")
    )
    return agg.select(
        "doc_id",
        "n_spans_e1",
        "n_spans_e2",
        "n_added",
        "n_removed",
        "n_modified",
        "n_unchanged",
        status.alias("status"),
    )


@query(
    "media_ref_integrity",
    oracle="""
    WITH base AS (
      SELECT doc_id AS did, doc_id::VARCHAR AS doc_id,
             length(text) AS L FROM documents),
    refs AS (
      SELECT doc_id,
             'media/' || doc_id
               || CASE WHEN did % 14 = 0 THEN '.svg' ELSE '.bin' END
               AS ref
      FROM base WHERE did % 7 = 0),
    store AS (
      SELECT 'media/' || doc_id
               || CASE WHEN did % 14 = 0 THEN '.svg' ELSE '.bin' END
               AS obj,
             CAST(1 + did % 97 AS BIGINT) AS size_kb
      FROM base WHERE (did % 7 = 0 AND did % 35 <> 0) OR did % 9 = 0),
    j AS (
      SELECT refs.ref, store.obj, store.size_kb
      FROM refs FULL OUTER JOIN store ON refs.ref = store.obj)
    SELECT CASE WHEN ref IS NULL THEN 'orphan_object'
                WHEN obj IS NULL THEN 'dangling_ref'
                ELSE 'ok' END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(coalesce(sum(size_kb), 0) AS BIGINT) AS bytes_kb,
           min(coalesce(ref, obj)) AS sample_path
    FROM j GROUP BY 1
    """,
    doc="media-store referential-integrity audit for the interleaved "
    "corpus: every media_ref the span table carries is reconciled "
    "against the object-store listing via one FULL OUTER equi-join on "
    "the storage path — dangling refs (span points at a deleted/"
    "never-fetched object: the doc renders broken and must be "
    "re-fetched or the span dropped) and orphan objects (stored bytes "
    "no span references: reclaimable space, priced in kb) both come "
    "from the join's null sides, the established audit-join "
    "discipline (sitemap_coverage_audit, spans_epoch_diff). The "
    "synthetic store drops every 35th doc's object and adds unref'd "
    "objects for every 9th doc so all three statuses are non-empty; "
    "sample_path is min() per status — an order-independent exact "
    "order statistic, giving operators one concrete path per failure "
    "class without collecting lists. Scale: refs explode from the "
    "span table (bounded per doc), the store listing is a metadata "
    "scan, the join shuffles once on the path key both sides are "
    "naturally bucketed by, and the report is 3 rows.",
)
def media_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spans = synth_interleaved(docs)
    refs = (
        spans.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("ref"))
    )
    did = F.col("doc_id")
    ext = F.when(did % 14 == 0, F.lit(".svg")).otherwise(F.lit(".bin"))
    store = docs.filter(
        ((did % 7 == 0) & (did % 35 != 0)) | (did % 9 == 0)
    ).select(
        F.concat(F.lit("media/"), did.cast("string"), ext).alias("obj"),
        (1 + did % 97).cast("long").alias("size_kb"),
    )
    j = refs.join(store, refs["ref"] == store["obj"], "full_outer")
    status = (
        F.when(F.col("ref").isNull(), "orphan_object")
        .when(F.col("obj").isNull(), "dangling_ref")
        .otherwise("ok")
    )
    return j.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("size_kb"), F.lit(0))
        .cast("long")
        .alias("bytes_kb"),
        F.min(F.coalesce("ref", "obj")).alias("sample_path"),
    )
