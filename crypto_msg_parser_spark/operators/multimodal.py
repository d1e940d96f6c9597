"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
metadata struct; decode / feature-extract / resize / frame-sample are
Arrow-batched mapInPandas stages. The image/audio codec libraries are not
in this container, so the actual decode is STUBBED: set
SPARK_GRAFT_REAL_DECODE=1 to hit the NotImplementedError guard; otherwise a
deterministic fake decoder exercises the full Spark-side plumbing (schema,
batching, partitioning) that a real PIL/ffmpeg-backed decoder would use
unchanged.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crypto_msg_parser_spark.registry import query
from crypto_msg_parser_spark.sources.testdata import load_table

MEDIA_META_DDL = (
    "media_ref string, media_type string, payload binary, "
    "width int, height int, n_frames int, feature_hash string"
)


def _fake_decode(ref: str, payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic stand-in: dimensions and a feature hash derived from
    content so downstream operators (dedup by feature, size filters) are
    fully testable."""
    h = hashlib.md5((ref or "").encode() + (payload or b"")).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    n_frames = 1 + h[2] % 30
    return width, height, n_frames, h.hex()[:16]


def _real_decode(ref: str, payload: bytes) -> tuple[int, int, int, str]:
    """PIL-backed image decode: true dimensions, frame count (animated
    formats expose n_frames), and a feature hash over the decoded pixel
    bytes of frame 0 — content-addressed like the stand-in, but post-codec
    so two encodings of the same pixels collide. Raises NotImplementedError
    when Pillow is absent (this container) so the env-gate fails loudly
    instead of silently falling back to the fake."""
    try:
        from io import BytesIO

        from PIL import Image
    except ImportError as ex:  # pragma: no cover — exercised sans PIL only
        raise NotImplementedError(
            "SPARK_GRAFT_REAL_DECODE=1 requires Pillow for image decode "
            "(audio/video would add ffmpeg); the Spark-side plumbing is "
            "identical to the deterministic stand-in"
        ) from ex
    with Image.open(BytesIO(payload)) as im:
        width, height = im.size
        n_frames = int(getattr(im, "n_frames", 1))
        digest = hashlib.md5(im.convert("RGB").tobytes()).hexdigest()[:16]
    return width, height, n_frames, digest


def decode_media(df: DataFrame) -> DataFrame:
    """(media_ref string, media_type string, payload binary) ->
    + (width, height, n_frames, feature_hash). Arrow-batched; partition
    count is preserved so a repartition('media_type') upstream co-locates
    same-codec batches (real decoders amortize codec init per batch).
    SPARK_GRAFT_REAL_DECODE=1 switches to the PIL-backed codec (opt-in:
    Pillow is not in the test container); the default deterministic fake
    keeps every Spark-side aspect — schema, batch shape, partitioning —
    identical and oracle-checkable."""

    real = os.environ.get("SPARK_GRAFT_REAL_DECODE") == "1"
    decode = _real_decode if real else _fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [
                decode(r, p)
                for r, p in zip(pdf["media_ref"], pdf["payload"])
            ]
            out = pdf.copy()
            out["width"] = [m[0] for m in meta]
            out["height"] = [m[1] for m in meta]
            out["n_frames"] = [m[2] for m in meta]
            out["feature_hash"] = [m[3] for m in meta]
            yield out

    return df.mapInPandas(run, MEDIA_META_DDL)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling: one row per sampled frame index — a pure
    explode over the frame count (the decode of each sampled frame would be
    a second mapInPandas stage in a real pipeline)."""
    return df.select(
        "media_ref",
        "feature_hash",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


# driver-checkable queries: the driver's documents table has no spans
# column, so media refs are synthesized deterministically from doc_id and
# pushed through the REAL decode plumbing (Arrow-batched mapInPandas with
# the deterministic fake decoder); the DuckDB oracle reproduces the
# md5-derived metadata byte-for-byte, so the value-hash gate covers the
# UDF signature, batch shape, and schema — everything but the codec call.

_SQL_MEDIA = (
    "SELECT 'media/' || doc_id || '.svg' AS media_ref, "
    "md5('media/' || doc_id || '.svg' || 'media/' || doc_id || '.svg') AS hx "
    "FROM documents WHERE doc_id % 7 = 0"
)


def _synth_media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    ref = F.concat(F.lit("media/"), F.col("doc_id").cast("string"), F.lit(".svg"))
    return docs.select(
        ref.alias("media_ref"),
        F.lit("image/svg+xml").alias("media_type"),
        F.encode(ref, "utf-8").alias("payload"),
    )


@query(
    "media_decode_meta",
    oracle=f"""
    WITH h AS ({_SQL_MEDIA})
    SELECT media_ref,
           'image/svg+xml' AS media_type,
           CAST(64 + ('0x' || substr(hx, 1, 2))::INT % 192 AS INT) AS width,
           CAST(64 + ('0x' || substr(hx, 3, 2))::INT % 192 AS INT) AS height,
           CAST(1 + ('0x' || substr(hx, 5, 2))::INT % 30 AS INT) AS n_frames,
           substr(hx, 1, 16) AS feature_hash
    FROM h
    """,
    doc="multimodal decode metadata through the Arrow-batched mapInPandas "
    "stage (deterministic fake decoder; real codec swaps in behind the "
    "same schema/batch shape).",
)
def media_decode_meta(spark, sf_dir):
    return decode_media(_synth_media(spark, sf_dir)).drop("payload")


@query(
    "media_frame_sample",
    oracle=f"""
    WITH h AS ({_SQL_MEDIA}),
    meta AS (
      SELECT media_ref,
             1 + ('0x' || substr(hx, 5, 2))::INT % 30 AS n_frames,
             substr(hx, 1, 16) AS feature_hash
      FROM h)
    SELECT media_ref, feature_hash,
           CAST(unnest(range(0, n_frames, 10)) AS INT) AS frame_idx
    FROM meta
    """,
    doc="video frame sampling: explode over sampled frame indices "
    "(every 10th) of the decoded frame count.",
)
def media_frame_sample(spark, sf_dir):
    meta = decode_media(_synth_media(spark, sf_dir))
    return frame_sample(meta, every_n=10).withColumn(
        "frame_idx", F.col("frame_idx").cast("int")
    )


RESIZED_DDL = MEDIA_META_DDL + ", resized_width int, resized_height int"


def resize_media(df: DataFrame, max_dim: int = 64) -> DataFrame:
    """Resize stage: bound the longer image side to ``max_dim`` preserving
    aspect ratio. Arrow-batched mapInPandas like decode; the real
    transcoder (PIL thumbnail / ffmpeg scale) swaps in behind the same
    schema. Dimension math is pure integer ((w*max_dim)//longest) so the
    DuckDB oracle reproduces it exactly; the payload passes through here
    (a real stage would re-encode it)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            longest = pdf[["width", "height"]].max(axis=1)
            out["resized_width"] = (
                (pdf["width"] * max_dim) // longest
            ).clip(lower=1).astype("int32")
            out["resized_height"] = (
                (pdf["height"] * max_dim) // longest
            ).clip(lower=1).astype("int32")
            yield out

    return df.mapInPandas(run, RESIZED_DDL)


FEATURES_DDL = "media_ref string, feature_hash string, embedding array<double>"
_FEATURE_DIM = 8


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extraction stage: media -> dense embedding (array<double>),
    the shape the ANN/embedding-dedup operators consume (similarity.py) —
    a real pipeline drops a CLIP/CNN forward pass behind this exact
    mapInPandas signature. The deterministic stand-in derives each of the
    8 components from one byte of the content feature_hash, scaled to
    [0, 1] by /255.0 (exact in IEEE double, so the oracle matches
    bit-for-bit)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "feature_hash": pdf["feature_hash"],
                    "embedding": [
                        [int(h[2 * i : 2 * i + 2], 16) / 255.0
                         for i in range(_FEATURE_DIM)]
                        for h in pdf["feature_hash"]
                    ],
                }
            )

    return df.mapInPandas(run, FEATURES_DDL)


@query(
    "media_resize",
    oracle=f"""
    WITH h AS ({_SQL_MEDIA}),
    meta AS (
      SELECT media_ref,
             64 + ('0x' || substr(hx, 1, 2))::INT % 192 AS width,
             64 + ('0x' || substr(hx, 3, 2))::INT % 192 AS height
      FROM h)
    SELECT media_ref, CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(greatest(width * 64 // greatest(width, height), 1) AS INT)
             AS resized_width,
           CAST(greatest(height * 64 // greatest(width, height), 1) AS INT)
             AS resized_height
    FROM meta
    """,
    doc="multimodal resize: longer side bounded to 64px, aspect "
    "preserved, integer-exact math through the Arrow-batched mapInPandas "
    "stage (real transcoder swaps in behind the same schema).",
)
def media_resize(spark, sf_dir):
    meta = decode_media(_synth_media(spark, sf_dir))
    return resize_media(meta, max_dim=64).select(
        "media_ref", "width", "height", "resized_width", "resized_height"
    )


@query(
    "media_feature_extract",
    oracle=f"""
    WITH h AS ({_SQL_MEDIA})
    SELECT media_ref, substr(hx, 1, 16) AS feature_hash,
           {', '.join(
               f"('0x' || substr(hx, {1 + 2 * i}, 2))::INT / 255.0 AS e{i}"
               for i in range(_FEATURE_DIM)
           )}
    FROM h
    """,
    doc="multimodal feature extraction: media -> dense array<double> "
    "embedding via mapInPandas (deterministic stand-in for a CLIP/CNN "
    "forward pass; byte/255.0 is exact in IEEE double so the oracle "
    "hash-matches). The operator returns array<double> — the shape the "
    "ANN/embedding-dedup operators consume; the driver row projects the "
    "components to scalar columns because the cross-engine value-hash "
    "canonicalizes scalars, not nested arrays.",
)
def media_feature_extract(spark, sf_dir):
    meta = decode_media(_synth_media(spark, sf_dir))
    feats = extract_features(meta)
    return feats.select(
        "media_ref",
        "feature_hash",
        *[F.col("embedding").getItem(i).alias(f"e{i}")
          for i in range(_FEATURE_DIM)],
    )


_MEDIA_ND_THRESHOLD = 0.9
_MEDIA_ND_CELLS = 8


@query(
    "media_embedding_neardup",
    oracle=f"""
    WITH h AS ({_SQL_MEDIA}),
    feats AS (
      SELECT media_ref,
             ('0x' || substr(hx, 1, 2))::INT % {_MEDIA_ND_CELLS} AS cell,
             list_transform(range(0, {_FEATURE_DIM}),
               i -> ('0x' || substr(hx, 1 + 2 * i, 2))::INT / 255.0) AS v
      FROM h)
    SELECT a.media_ref AS ref_a, b.media_ref AS ref_b,
           list_cosine_similarity(a.v, b.v) AS cosine
    FROM feats a JOIN feats b
      ON a.cell = b.cell AND a.media_ref < b.media_ref
    WHERE list_cosine_similarity(a.v, b.v) >= {_MEDIA_ND_THRESHOLD}
    """,
    doc="END-TO-END multimodal dedup: decode -> feature-extract -> "
    "cell-blocked embedding-cosine near-dup, composing the multimodal "
    "stages with the semantic-dedup join shape of "
    "semantic_dedup_drop (similarity.py). Blocking cell = a byte of "
    "the content feature hash (at scale: the k-means IVF cell), so work "
    "is O(sum cell_size^2), never all-pairs across the corpus; cosine is "
    "the sequential-accumulation form both engines share bit-for-bit.",
)
def media_embedding_neardup(spark, sf_dir):
    from .similarity import cosine

    meta = decode_media(_synth_media(spark, sf_dir))
    feats = extract_features(meta)
    blocked = feats.select(
        "media_ref",
        (
            F.conv(F.substring("feature_hash", 1, 2), 16, 10).cast("int")
            % _MEDIA_ND_CELLS
        ).alias("cell"),
        F.col("embedding").alias("v"),
    )
    return (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.media_ref") < F.col("b.media_ref")),
        )
        .select(
            F.col("a.media_ref").alias("ref_a"),
            F.col("b.media_ref").alias("ref_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= _MEDIA_ND_THRESHOLD)
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Pull media spans out of the interleaved documents table into the
    multimodal shape (payload synthesized from the ref here; a real crawl
    stores the fetched bytes)."""
    spans = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).filter(F.col("s.kind") == "media")
    return spans.select(
        F.col("s.media_ref").alias("media_ref"),
        F.when(F.col("s.media_ref").endswith(".svg"), "image/svg+xml")
        .otherwise("application/octet-stream")
        .alias("media_type"),
        F.encode(F.col("s.media_ref"), "utf-8").alias("payload"),
    )
