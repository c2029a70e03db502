"""Multimodal columns: binary payloads with typed metadata.

Image/audio/video content rides as opaque ``binary`` columns next to
typed metadata; decode / feature-extraction / resize / frame-sampling
run as Arrow-batched pandas UDFs over ``mapInPandas``.  The image and
audio codec libraries are NOT in this container, so the decode step is
STUBBED (``decode_stub`` raises ``NotImplementedError``; the default
pipeline uses ``fake_decode`` — a deterministic byte-level transform)
— but the Spark-side plumbing is real and tested: schemas, batch
iterator shape, partition behavior, and the deterministic feature
output all match what a real codec drop-in would see.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: output schema of the feature extraction stage
FEATURE_SCHEMA = (
    "doc_id string, media_ref string, n_bytes long, "
    "width int, height int, n_frames int, feature array<float>"
)


def attach_payloads(
    media_spans: DataFrame,
    payload_bytes: int = 256,
    ref_col: str = "media_ref",
) -> DataFrame:
    """Synthesize deterministic binary payloads from ``ref_col``.

    Stands in for fetching blobs from object storage; payload =
    sha256-keystream of the ref, so every engine run (and the test
    oracle) sees identical bytes.  Pass a content-level ``ref_col``
    (e.g. the media path with doc-unique segments stripped) to model
    the real-world case where many documents embed the SAME blob.
    """

    @F.pandas_udf("binary")
    def _payload(ref: pd.Series) -> pd.Series:
        out = []
        for r in ref:
            h = hashlib.sha256((r or "").encode()).digest()
            reps = (payload_bytes + len(h) - 1) // len(h)
            out.append((h * reps)[:payload_bytes])
        return pd.Series(out)

    return media_spans.withColumn("payload", _payload(F.col(ref_col)))


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


def decode_stub(payload: bytes) -> np.ndarray:
    """Real codec entry point — intentionally unimplemented here.

    A deployment drops in PIL/ffmpeg behind this exact signature.
    """
    raise NotImplementedError(
        "image/audio codecs are not available in this environment; "
        "use fake_decode for deterministic testing"
    )


def fake_decode(payload: bytes, width: int = 8, height: int = 8) -> np.ndarray:
    """Deterministic stand-in decode: bytes → (h, w) uint8 'pixels'."""
    need = width * height
    reps = (need + len(payload) - 1) // len(payload)
    arr = np.frombuffer((payload * reps)[:need], dtype=np.uint8)
    return arr.reshape(height, width)


def extract_features(media: DataFrame, width: int = 8, height: int = 8,
                     use_stub: bool = False) -> DataFrame:
    """mapInPandas feature extraction: decode → 16-bin byte histogram.

    Iterator-of-batches form so a real decoder amortizes model/codec
    init once per partition (the pattern the reference's numba kernels
    map to — SURVEY §2.10 U6).
    """
    decode = decode_stub if use_stub else fake_decode

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, widths, heights, frames, sizes = [], [], [], [], []
            for payload in pdf["payload"]:
                img = decode(bytes(payload), width, height)
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


def sample_frames(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame-sampling for video refs: deterministic keep-1-in-n on the
    (doc_id, media_ref) hash — a row-level filter, no Python."""
    return media.filter(
        F.pmod(F.xxhash64("doc_id", "media_ref"), F.lit(every_n)) == 0
    )


def bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Real vectorized bilinear resample (half-pixel-center convention,
    the OpenCV/PIL ``align_corners=False`` default).

    This is the genuine resize KERNEL — only the codec in front of it
    is stubbed (decode_stub/fake_decode): when a deployment drops
    PIL/ffmpeg behind decode_stub, this same kernel resizes the real
    frames unchanged.
    """
    h, w = img.shape
    a = img.astype(np.float64)
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    fy, fx = ys - y0f, xs - x0f
    y0 = np.clip(y0f.astype(np.int64), 0, h - 1)
    y1 = np.clip(y0f.astype(np.int64) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(np.int64), 0, w - 1)
    x1 = np.clip(x0f.astype(np.int64) + 1, 0, w - 1)
    top = (1.0 - fx)[None, :] * a[np.ix_(y0, x0)] + fx[None, :] * a[np.ix_(y0, x1)]
    bot = (1.0 - fx)[None, :] * a[np.ix_(y1, x0)] + fx[None, :] * a[np.ix_(y1, x1)]
    return (1.0 - fy)[:, None] * top + fy[:, None] * bot


RESIZED_SCHEMA = (
    "doc_id string, media_ref string, width int, height int, pixels binary"
)


def resize_media(
    media: DataFrame,
    out_w: int,
    out_h: int,
    src_w: int = 8,
    src_h: int = 8,
) -> DataFrame:
    """Decode → bilinear resize → re-encode as raw uint8 rows.

    mapInPandas (iterator form): the fake decode is per-row numpy, the
    resize is the real kernel above, and the output pixels travel as a
    binary column — the batch shape a real image pipeline uses.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                img = fake_decode(bytes(payload), src_w, src_h)
                r = np.clip(np.rint(bilinear_resize(img, out_h, out_w)), 0, 255)
                out.append(r.astype(np.uint8).tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "width": np.full(len(out), out_w, dtype=np.int32),
                    "height": np.full(len(out), out_h, dtype=np.int32),
                    "pixels": out,
                }
            )

    return media.mapInPandas(op, schema=RESIZED_SCHEMA)


def fake_video_decode(
    payload: bytes, n_frames: int = 4, height: int = 8, width: int = 8
) -> np.ndarray:
    """Deterministic stand-in video decode: bytes → (n, h, w) uint8."""
    need = n_frames * height * width
    reps = (need + len(payload) - 1) // len(payload)
    return np.frombuffer((payload * reps)[:need], dtype=np.uint8).reshape(
        n_frames, height, width
    )


FRAME_SCHEMA = (
    "doc_id string, media_ref string, frame_idx int, f_mean double, f_std double"
)


def sample_video_frames(
    media: DataFrame,
    stride: int = 2,
    n_frames: int = 4,
    height: int = 8,
    width: int = 8,
) -> DataFrame:
    """Per-FRAME sampling: decode the (stubbed) video, keep every
    ``stride``-th frame, emit one row per kept frame with per-frame
    stats — the row-explosion shape of a real frame-sampling stage
    (unlike the hash row-filter in :func:`sample_frames`, this
    operates inside the decoded payload)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, refs, idxs, means, stds = [], [], [], [], []
            for doc_id, ref, payload in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["payload"]
            ):
                vid = fake_video_decode(bytes(payload), n_frames, height, width)
                for k in range(0, n_frames, stride):
                    f = vid[k].astype(np.float64)
                    ids.append(doc_id)
                    refs.append(ref)
                    idxs.append(k)
                    means.append(float(f.mean()))
                    stds.append(float(f.std()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media_ref": refs,
                    "frame_idx": np.array(idxs, dtype=np.int32),
                    "f_mean": means,
                    "f_std": stds,
                }
            )

    return media.mapInPandas(op, schema=FRAME_SCHEMA)
