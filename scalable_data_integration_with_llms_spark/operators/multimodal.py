"""Multimodal column plumbing (BASELINE.json north star: image/audio/video
as opaque binary columns with typed metadata).

The Spark-side machinery is real and tested — schema contracts, Arrow batch
shapes, ``mapInPandas`` signatures, partition sizing — and so is the decode
kernel: ``operators/media_codec.py`` implements the public PNG/WAV formats
with the stdlib (chunk CRCs, zlib inflate, scanline un-filtering, PCM16),
plus JPEG/GIF header parsers.  ``real_decoder`` dispatches on the sniffed
byte signature; ``fake_image_decoder`` remains as a light stand-in for
plumbing-only tests.

Scale design: media bytes dominate row size, so the operators
``repartition`` by a size budget rather than row count, keep binary columns
out of shuffles (decode → drop bytes → shuffle features), and emit one
feature row per frame/sample via ``mapInPandas`` (1→N).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .media_codec import decode_png, decode_wav, sniff_format, synth_png

MEDIA_SCHEMA = (
    "media_id bigint, kind string, content binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id bigint, frame_idx int, feature array<float>, n_bytes bigint"


def real_decoder(content: bytes, mime: str) -> np.ndarray:
    """The real decode kernel: dispatch on the byte signature to the stdlib
    codecs in media_codec.py.  Raises ``ValueError`` for formats whose pixel
    decode needs an entropy coder this container lacks (JPEG/GIF)."""
    fmt = sniff_format(bytes(content))
    if fmt == "png":
        return decode_png(bytes(content)).astype(np.float32) / 255.0
    if fmt == "wav":
        samples, _rate = decode_wav(bytes(content))
        return samples.astype(np.float32) / 32768.0
    raise ValueError(f"no pixel/sample decoder for format {fmt!r}")


def fake_image_decoder(content: bytes, mime: str) -> np.ndarray:
    """Deterministic stand-in decoder: derives a tiny 'pixel' array from the
    byte content so downstream feature math is real and testable."""
    arr = np.frombuffer(content[:64].ljust(64, b"\0"), dtype=np.uint8)
    return arr.reshape(8, 8).astype(np.float32) / 255.0


def attach_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a media frame from any table by treating a column's bytes as
    opaque content — the ingestion shape a binary-file datasource
    (``spark.read.format("binaryFile")``) would produce."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(8).cast("int").alias("width"),
        F.lit(8).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], np.ndarray] = real_decoder,
    frames_per_item: int = 2,
) -> DataFrame:
    """Decode → frame-sample → feature-extract via ``mapInPandas``.

    Emits ``frames_per_item`` rows per media item with an 8-dim mean-pooled
    feature — the 1→N batch shape of a real frame sampler.  Binary payloads
    never pass through a shuffle: features are computed in the scan stage.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_rows = []
            for row in pdf.itertuples(index=False):
                pixels = decode_fn(bytes(row.content), row.mime)
                for f_idx in range(frames_per_item):
                    # deterministic per-frame crop -> mean-pool rows, then
                    # bucket-average down to a fixed 8-dim descriptor
                    # (shape-agnostic: works for (h,w) and (h,w,ch) decodes)
                    shifted = np.roll(pixels, f_idx, axis=0)
                    pooled = shifted.mean(axis=0).ravel()
                    feature = np.array(
                        [chunk.mean() for chunk in np.array_split(pooled, 8)],
                        dtype=np.float32,
                    )
                    out_rows.append(
                        (row.media_id, f_idx, feature.tolist(), len(row.content))
                    )
            yield pd.DataFrame(
                out_rows, columns=["media_id", "frame_idx", "feature", "n_bytes"]
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


FRAME_FEATURES_SCHEMA = (
    "media_id bigint, frame_idx int, width int, height int, "
    + ", ".join(f"f{j} bigint" for j in range(8))
)


def extract_frame_features_int(media: DataFrame, frames_per_item: int = 2) -> DataFrame:
    """1→N frame sampling through the real PNG decoder, with INTEGER
    features so the whole path is value-oracle-checkable: decode → per-frame
    row roll (frame f shifts row r to (r+f) mod h) → row-position-weighted
    column sums → 8 bucket sums over the w·ch column axis (numpy
    ``array_split`` boundaries).  Every output is an exact int64, closed-form
    in (media_id, frame), so a SQL oracle reproduces it from the synth
    formula — unlike the float mean-pool variant (``extract_features``),
    which only supports rows-only checks.  The row weighting makes the
    feature frame-sensitive (plain column sums are roll-invariant)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                arr = decode_png(bytes(row.content)).astype(np.int64)
                h, w, chn = arr.shape
                lin_n = w * chn
                q, rem = divmod(lin_n, 8)
                lin = np.arange(lin_n)
                bucket = np.where(
                    lin < rem * (q + 1),
                    lin // (q + 1),
                    rem + (lin - rem * (q + 1)) // q,
                )
                flat = arr.reshape(h, lin_n)
                for f in range(frames_per_item):
                    shifted = np.roll(flat, f, axis=0)
                    wts = np.arange(1, h + 1, dtype=np.int64)[:, None]
                    colsum = (shifted * wts).sum(axis=0)
                    feats = np.zeros(8, dtype=np.int64)
                    np.add.at(feats, bucket, colsum)
                    out.append(
                        (row.media_id, f, w, h) + tuple(int(x) for x in feats)
                    )
            yield pd.DataFrame(
                out,
                columns=["media_id", "frame_idx", "width", "height"]
                + [f"f{j}" for j in range(8)],
            )

    return media.mapInPandas(batches, FRAME_FEATURES_SCHEMA)


def synthesize_png_media(df: DataFrame, id_col: str) -> DataFrame:
    """Emit one real PNG payload per id (media_codec.synth_png: dimensions
    and pixels are closed-form in the id, so downstream decodes are
    SQL-oracle-checkable).  Runs in the scan stage via ``mapInPandas``."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": "image",
                    "content": [synth_png(int(i)) for i in ids],
                    "mime": "image/png",
                    "width": pd.array([None] * len(ids), dtype="Int32"),
                    "height": pd.array([None] * len(ids), dtype="Int32"),
                    "duration_ms": pd.array([None] * len(ids), dtype="Int32"),
                }
            )

    return df.select(id_col).mapInPandas(batches, MEDIA_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id bigint, fmt string, width int, height int, n_pixels bigint, "
    "px_sum bigint, px_wsum bigint, px_min int, px_max int"
)


def image_decode_stats(media: DataFrame) -> DataFrame:
    """REAL decode through the mapInPandas boundary: parse + CRC-check the
    PNG chunks, inflate IDAT, un-filter scanlines, and emit integer pixel
    statistics.  ``px_wsum`` is a position-weighted checksum (value × linear
    pixel index), so any framing/filter/reshape defect — including a
    transposed decode — breaks the oracle match, not just dimension bugs.
    Payload bytes never leave the scan stage; only the stats shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                content = bytes(row.content)
                fmt = sniff_format(content)
                arr = decode_png(content).astype(np.int64)
                h, w, ch = arr.shape
                flat = arr.reshape(-1)
                weights = np.arange(1, flat.size + 1, dtype=np.int64)
                out.append(
                    (
                        row.media_id,
                        fmt,
                        w,
                        h,
                        int(flat.size),
                        int(flat.sum()),
                        int((flat * weights).sum()),
                        int(flat.min()),
                        int(flat.max()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "fmt", "width", "height", "n_pixels",
                    "px_sum", "px_wsum", "px_min", "px_max",
                ],
            )

    return media.mapInPandas(batches, IMAGE_STATS_SCHEMA)


MEDIA_STATS_SCHEMA = "media_id bigint, mime string, n_bytes bigint, byte_sum bigint"


def media_stats(media: DataFrame) -> DataFrame:
    """Typed-metadata extraction through the same ``mapInPandas`` boundary a
    real decoder uses, but with pure-integer outputs (payload length and
    byte checksum) — giving the multimodal plumbing a cross-engine exact
    oracle even though the codec itself is stubbed.  Binary payloads stay in
    the scan stage; only the integer stats ever reach a shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [len(c) for c in pdf["content"]],
                    "byte_sum": [int(sum(bytes(c))) for c in pdf["content"]],
                }
            )

    return media.mapInPandas(batches, MEDIA_STATS_SCHEMA)
