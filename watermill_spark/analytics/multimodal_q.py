"""Multimodal feature-extraction queries over the documents table.

The media table is derived deterministically from ``documents`` (payload =
UTF-8 bytes of the text, kind cycles image/audio/video by doc_id), then run
through the REAL Arrow-batched ``mapInPandas`` decode plumbing in
:mod:`watermill_spark.operators.multimodal`. The codec kernel is a stub
(sha256-derived pseudo-dimensions — no media libs in this container), but
precisely because the stub is deterministic arithmetic, DuckDB can replay it
in SQL and the driver hash-checks the whole Python-UDF path end-to-end:
Arrow batch transfer, schema, null handling, explode fan-out.

Scale notes (100 TB of media):
- the features query reads (doc_id, text) only — column pruning keeps the
  payload scan minimal; with real media the payload column IS the bulk, and
  the same plan streams it through Python once, batch-wise, never to the
  driver.
- frame sampling fans out JVM-side (sequence+explode after the feature
  pass), so per-frame work units are generated without re-entering Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from watermill_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_chunks,
    extract_features,
    frame_sample,
    resize_plan,
)

from .registry import load, register, spread

# CASE doc_id % 3: 0→image, 1→audio, 2→video
_SQL_KIND = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
)
# byte k of the sha256 digest, as INTEGER (hex pair k of the hex string)
def _sql_byte(k: int) -> str:
    return f"CAST(('0x' || substr(sha256(text), {2 * k + 1}, 2)) AS INTEGER)"


def _media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.lit("x/fake").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("src"), F.col("source")).alias("meta"),
    )


@register(
    "q_multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           {_SQL_KIND} AS kind,
           sha256(text) AS content_sha,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 3 = 1 THEN NULL
                ELSE CAST(64 + {_sql_byte(0)} AS INTEGER) END AS width,
           CASE WHEN doc_id % 3 = 1 THEN NULL
                ELSE CAST(64 + {_sql_byte(1)} AS INTEGER) END AS height,
           CASE WHEN doc_id % 3 = 0 THEN 1
                WHEN doc_id % 3 = 2 THEN CAST(8 + {_sql_byte(2)} % 24 AS INTEGER)
                ELSE NULL END AS n_frames
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract media payloads via Arrow-batched mapInPandas.

    Exercises the full multimodal plumbing: binary payload column, typed
    metadata, MEDIA_SCHEMA → FEATURE_SCHEMA batch transform. The oracle
    replays the deterministic stub codec in SQL, so a hash match proves the
    Python batch path (not just the plan) is correct.
    """
    media = _media_from_documents(spark, sf_dir)
    assert media.schema == MEDIA_SCHEMA or [f.name for f in media.schema] == [
        f.name for f in MEDIA_SCHEMA
    ]
    return extract_features(media)


@register(
    "q_multimodal_frame_sample",
    oracle=f"""
    SELECT media_id, content_sha, CAST(unnest(range(0, n_frames, 4)) AS INTEGER)
             AS frame_idx
    FROM (
      SELECT doc_id AS media_id, sha256(text) AS content_sha,
             8 + {_sql_byte(2)} % 24 AS n_frames
      FROM documents WHERE doc_id % 3 = 2)
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: per-frame work units fanned out JVM-side.

    One row per every-4th frame index of each video. The explode happens
    after the (cheap) feature pass, so frame extraction workers downstream
    receive (media_id, frame_idx) units without Python in the loop.
    """
    media = _media_from_documents(spark, sf_dir)
    return frame_sample(media, every_n=4)


@register(
    "q_multimodal_resize_plan",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id AS media_id, {_SQL_KIND} AS kind,
             CAST(64 + {_sql_byte(0)} AS INTEGER) AS width,
             CAST(64 + {_sql_byte(1)} AS INTEGER) AS height
      FROM documents WHERE doc_id % 3 <> 1
    )
    SELECT media_id, kind, width, height,
           CASE WHEN GREATEST(width, height) > 224
                THEN CAST((width * 224) // GREATEST(width, height) AS INTEGER)
                ELSE width END AS target_w,
           CASE WHEN GREATEST(width, height) > 224
                THEN CAST((height * 224) // GREATEST(width, height) AS INTEGER)
                ELSE height END AS target_h,
           GREATEST(width, height) > 224 AS needs_resize
    FROM feats
    """,
)
def q_multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning for images/videos (long side capped
    at 224): decode through the Arrow-batched stub, then pure JVM integer
    arithmetic emits (target_w, target_h) work units for a downstream
    resampling kernel — the schema/partitioning half of a resize operator,
    which is the part that shapes a 100 TB media pipeline.

    Scale: one mapInPandas pass over non-audio media; the plan math is a
    narrow map. §2.B [NS] multimodal surface.
    """
    media = _media_from_documents(spark, sf_dir)
    return resize_plan(media, max_side=224)


@register(
    "q_multimodal_audio_chunks",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id AS media_id, sha256(text) AS content_sha,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_samples
      FROM documents WHERE doc_id % 3 = 1
    )
    SELECT media_id, content_sha, n_samples,
           CAST(unnest(range(0, CAST((n_samples + 63) // 64 AS INTEGER)))
                AS INTEGER) AS chunk_idx,
           CAST(unnest(range(0, CAST((n_samples + 63) // 64 AS INTEGER)))
                * 64 AS BIGINT) AS start_sample,
           CAST(LEAST(unnest(range(0, CAST((n_samples + 63) // 64 AS INTEGER)))
                      * 64 + 128, n_samples) AS BIGINT) AS end_sample
    FROM feats
    """,
)
def q_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping audio analysis windows (win=128, hop=64 stub samples):
    one row per chunk with start/end sample offsets — the segmentation
    plumbing ahead of spectrogram/embedding extraction, fanned out
    JVM-side after one decode pass (chunk counts come from the decoded
    sample count, not Python loops).

    Scale: chunk explosion is linear in audio duration and happens after
    the Arrow decode pass; each (media_id, chunk) row is an independent
    work unit for the downstream kernel. §2.B [NS] multimodal surface.
    """
    media = _media_from_documents(spark, sf_dir)
    return audio_chunks(media, win=128, hop=64)
