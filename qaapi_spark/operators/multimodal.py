"""Multimodal column operators: image/audio/video as opaque binary
payloads with typed metadata.

The pattern for 100 TB media pipelines: the payload is a `binary`
column (or an object-store URI for large assets), metadata is a typed
struct usable by Catalyst (filter/prune/partition without touching
bytes), and all byte-level work happens in Arrow-batched pandas
kernels (`mapInPandas`) so payloads never round-trip through
row-at-a-time Python.

Real codecs (PIL/ffmpeg/soundfile) are NOT in this container: the
decode step is gated behind an import-try and otherwise served by a
DETERMINISTIC FAKE (byte-histogram features) so the Spark-side
plumbing — schema, batch shape, UDF signature, partitioning — is real
and tested end-to-end.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:long, n_frames:int>"
)

N_FEATURES = 8

_KINDS = ["image", "audio", "video"]


def synthesize_media(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic media table from the documents corpus: payload =
    utf-8 bytes of the text (a stand-in blob), kind cycles
    image/audio/video, metadata derived from id/length."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _KINDS]), (F.col(id_col) % 3 + 1).cast("int")
    )
    n = F.length(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (F.col(id_col) % 640 + 16).cast("int").alias("width"),
            (F.col(id_col) % 480 + 16).cast("int").alias("height"),
            F.when(kind == "audio", F.lit(16_000)).otherwise(F.lit(0)).cast("int").alias("sample_rate"),
            (n * 40).cast("long").alias("duration_ms"),
            F.when(kind == "video", (n % 240 + 8)).otherwise(F.lit(0)).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _try_real_decoder(kind: str):
    """Real decoders would be plugged in here; the container has none."""
    try:  # pragma: no cover - libs absent by design
        if kind == "image":
            import PIL.Image  # noqa: F401

            raise NotImplementedError("real image decode not wired in this container")
        if kind in ("audio", "video"):
            import av  # noqa: F401

            raise NotImplementedError("real a/v decode not wired in this container")
    except ImportError:
        return None
    return None


def decode_features(media: DataFrame, n_features: int = N_FEATURES) -> DataFrame:
    """Per-asset fixed-width feature vector via Arrow-batched kernel.

    Fake decode: L1-normalized byte histogram folded to ``n_features``
    buckets — deterministic, shape-identical to a real embedding step.
    One numpy pass per Arrow batch; no shuffle (map-only stage).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                _try_real_decoder("image")  # returns None: fall through to fake
                arr = np.frombuffer(payload, dtype=np.uint8)
                hist = np.bincount(arr % n_features, minlength=n_features).astype(np.float64)
                total = hist.sum()
                # no rounding here: np.round is banker's, which differs
                # from SQL ROUND exactly at .5-ulp boundaries (k/2^m
                # ratios); consumers round once at the query edge where
                # Spark's HALF_UP matches DuckDB's half-away
                feats.append(hist / total if total else hist)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        gen, "media_id long, kind string, n_bytes long, features array<double>"
    )


def sample_frames(media: DataFrame, stride: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video assets: one output row per
    sampled frame index (0, stride, 2*stride, ... < n_frames).

    Pure Catalyst (sequence + explode): the actual frame *decode* would
    consume (payload, frame_idx) pairs downstream via the same
    mapInPandas shape as decode_features."""
    v = media.filter(F.col("kind") == "video")
    idx = F.sequence(
        F.lit(0), F.col("meta.n_frames") - 1, F.lit(stride)
    )
    return v.select(
        "media_id",
        F.col("meta.n_frames").alias("n_frames"),
        F.explode(idx).alias("frame_idx"),
    )
