"""Multimodal columns: binary payloads with typed metadata.

Image/audio/video content rides as opaque ``binary`` columns next to
typed metadata.  Payloads are synthesized in SQL; decode and feature
extraction run as an Arrow-batched ``mapInPandas`` stage.  No image
or audio codec is a dependency, so the decode is ``fake_decode``, a
deterministic byte-level transform; the Spark-side plumbing is real
and tested: schemas, batch iterator shape, partition behavior, and the
deterministic feature output all match what a real codec drop-in
would see.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geodata_spark.sqltext import ident

#: output schema of the feature extraction stage
FEATURE_SCHEMA = (
    "doc_id string, media_ref string, n_bytes long, "
    "width int, height int, n_frames int, feature array<float>"
)

#: length in bytes of every synthesized payload
PAYLOAD_BYTES = 256


def _keystream_sql(ref_sql: str, n: int) -> str:
    """SQL for the first ``n`` bytes of the sha256 digest of ``ref_sql``
    (NULL as ''), repeated: ``hashlib.sha256(ref.encode()).digest()``
    tiled to ``n`` bytes."""
    reps = -(-n // 32)
    return f"substring(unhex(repeat(sha2(coalesce({ref_sql}, ''), 256), {reps})), 1, {n})"


def attach_payloads(media_spans: DataFrame, ref_col: str = "media_ref") -> DataFrame:
    """Synthesize deterministic binary payloads from ``ref_col``.

    Stands in for fetching blobs from object storage; payload =
    sha256-keystream of the ref (:data:`PAYLOAD_BYTES` long), one SQL
    projection, so every engine run (and the test oracle) sees
    identical bytes.  Pass a content-level ``ref_col`` (e.g. the media
    path with doc-unique segments stripped) to model the real-world
    case where many documents embed the SAME blob.
    """
    return media_spans.withColumn(
        "payload", F.expr(_keystream_sql(ident(ref_col), PAYLOAD_BYTES))
    )


def payload_digest(payload: "F.Column") -> "F.Column":
    """Engine-neutral content digest of a binary payload.

    sha256 over the LOWERCASE HEX encoding of the bytes — not the raw
    blob — because SQL engines disagree on hashing BLOBs (DuckDB's
    sha256 only accepts VARCHAR); the hex transcoding is lossless and
    makes the digest reproducible everywhere.
    """
    return F.sha2(F.lower(F.hex(payload)), 256)


def media_exact_dedup(
    media: DataFrame,
    id_col: str = "doc_id",
    ref_col: str = "media_ref",
    payload_col: str = "payload",
) -> DataFrame:
    """Cluster byte-identical media payloads; one survivor per cluster.

    Output: (digest, n_copies, survivor_doc, survivor_ref).  Survivor
    is the lexicographic min (doc_id, ref) pair — deterministic under
    any shuffle order.  The pair is compared as a genuine STRUCT
    (Spark ``min(struct)``, DuckDB ``min(struct_pack(...))`` in the
    oracle) — both engines define lexicographic struct ordering, and
    unlike a '|'-joined string it is correct for variable-width ids
    ('doc2' vs 'doc10') and refs containing the separator.

    Scale shape: the 64-char digest is projected BEFORE the shuffle,
    so payload bytes never leave their scan partition — at 100 TB of
    media this is ONE hash aggregation over digests, the same shape as
    text exact_dedup (pipeline/dedup.py).
    """
    pair = F.struct(
        F.col(id_col).alias("d"),
        F.col(ref_col).alias("r"),
    )
    d = media.select(
        payload_digest(F.col(payload_col)).alias("digest"),
        pair.alias("_pair"),
    )
    agg = d.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("_pair").alias("_surv"),
    )
    return agg.select(
        "digest",
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("_surv.d").alias("survivor_doc"),
        F.col("_surv.r").alias("survivor_ref"),
    )


def fake_decode(payload: bytes, width: int = 8, height: int = 8) -> np.ndarray:
    """Deterministic stand-in decode: bytes → (h, w) uint8 'pixels'."""
    need = width * height
    reps = (need + len(payload) - 1) // len(payload)
    arr = np.frombuffer((payload * reps)[:need], dtype=np.uint8)
    return arr.reshape(height, width)


def extract_features(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """mapInPandas feature extraction: decode → 16-bin byte histogram.

    Iterator-of-batches form so a real decoder amortizes model/codec
    init once per partition (the pattern the reference's numba kernels
    map to — SURVEY §2.10 U6).
    """
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, widths, heights, frames, sizes = [], [], [], [], []
            for payload in pdf["payload"]:
                img = fake_decode(bytes(payload), width, height)
                hist, _ = np.histogram(img, bins=16, range=(0, 256))
                feats.append((hist / max(1, img.size)).astype(np.float32))
                widths.append(width)
                heights.append(height)
                frames.append(1)
                sizes.append(len(payload))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "n_bytes": sizes,
                    "width": widths,
                    "height": heights,
                    "n_frames": frames,
                    "feature": feats,
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)
