"""Multimodal binary-column operators: decode, feature-extract, resize
(overview pyramids) and frame-sample over opaque media ``bytes`` columns.

The reference processes single-band rasters only (SURVEY.md §1.1); these are
the graft-mandated training-pipeline additions. The Spark-side plumbing —
StructType schemas, fmt dispatch, per-row emits on ``pipeline._row_map``
— is real and tested on the engine's own deterministic codecs
(``u16le``/``u16dct`` tiles, ``u16seq`` frame sequences, ``pcm16`` audio).
Real-world codecs (jpeg/png/mp3/…) raise a clearly-marked
``NotImplementedError`` inside the same dispatch: the container has no image
or audio libraries (SURVEY.md §0), so adding one is a local change to the
decoder table, not a plumbing change.

Scale notes: every operator is ``mapInArrow`` (narrow, no shuffle); the fmt
dispatch happens per row inside the batch so mixed-format tables need no
pre-partitioning; emitted frames/overviews carry their own size columns so
downstream repartitioning can key on them without decoding.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import codecs, synth
from .pipeline import _nan_none, _row_map, _tile_rows

# --------------------------------------------------------------------------
# synthetic media fixtures (deterministic: seeded by key, FIXTURES.md rules)
# --------------------------------------------------------------------------

FMT_SEQ = "u16seq"    # concatenated u16le frames, frame stride = 2*w*h bytes
FMT_PCM16 = "pcm16"   # mono int16 LE samples


def videos_pdf(n: int = 4, frames: int = 8, w: int = 16, h: int = 16) -> pd.DataFrame:
    rows = []
    for i in range(n):
        vid = f"VID{i:03d}"
        rng = synth.rng_for("video", vid)
        arr = rng.integers(0, 65536, size=(frames, h, w), dtype=np.uint16)
        rows.append({
            "video_id": vid,
            "bytes": arr.astype("<u2").tobytes(),
            "w": np.int32(w), "h": np.int32(h),
            "fmt": FMT_SEQ,
            "caption": f"video={vid} frames={frames} w={w} h={h}",
        })
    return pd.DataFrame(rows)


def audio_pdf(n: int = 6, samples: int = 2048) -> pd.DataFrame:
    rows = []
    for i in range(n):
        cid = f"CLIP{i:03d}"
        rng = synth.rng_for("audio", cid)
        sig = (8192.0 * np.sin(np.arange(samples) * (0.01 + 0.005 * i))
               + rng.normal(0.0, 512.0, samples))
        rows.append({
            "clip_id": cid,
            "bytes": np.clip(sig, -32768, 32767).astype("<i2").tobytes(),
            "n_samples": np.int64(samples),
            "fmt": FMT_PCM16,
            "caption": f"clip={cid} samples={samples}",
        })
    return pd.DataFrame(rows)


# --------------------------------------------------------------------------
# media_meta: tolerant decode + typed metadata (the catalog pass)
# --------------------------------------------------------------------------

MEDIA_META_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("fmt", StringType()),
    StructField("n_bytes", LongType()),
    StructField("decoded", IntegerType()),   # 1 = decodable with in-repo codecs
    StructField("px_min", DoubleType()),
    StructField("px_max", DoubleType()),
    StructField("px_mean", DoubleType()),
])


def media_meta(scenes: DataFrame) -> DataFrame:
    """Per-row decode probe: decodable rows get pixel stats, rows in formats
    this container cannot decode are *catalogued*, not failed (the strict
    ops below raise instead)."""

    def fn(row, w, h):
        try:
            img = codecs.decode_tile(row.bytes, w, h, row.fmt)
        except NotImplementedError:  # catalogued as decoded=0
            yield row.fmt, len(row.bytes), 0, None, None, None
            return
        yield (row.fmt, len(row.bytes), 1, _nan_none(float(img.min())),
               _nan_none(float(img.max())),
               _nan_none(round(float(img.mean()), 6)))

    return _tile_rows(scenes.select("image_id", "bytes", "w", "h", "fmt"),
                      MEDIA_META_SCHEMA, fn, ("image_id",))


# --------------------------------------------------------------------------
# tile_overviews: resize path — mean-pool overview pyramid (the raster
# equivalent of image resize; real numpy, no stub needed)
# --------------------------------------------------------------------------

OVERVIEW_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("level", IntegerType()),     # pooling factor (2 -> half res)
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("bytes", BinaryType()),      # u16le at the reduced size
    StructField("px_mean", DoubleType()),
])


def _pool(img: np.ndarray, L: int) -> tuple[np.ndarray, bytes]:
    """(block means, u16le DN bytes) of ``img``'s LxL blocks, its edges
    cropped to a multiple of L. A block holding a NaN has a NaN mean and
    is written as DN 0."""
    hh, ww = (img.shape[0] // L) * L, (img.shape[1] // L) * L
    pooled = img[:hh, :ww].reshape(hh // L, L, ww // L, L).mean(axis=(1, 3))
    dn = np.round(np.where(np.isnan(pooled), 0.0, pooled)).astype("<u2")
    return pooled, dn.tobytes()


def tile_overviews(scenes: DataFrame, levels: tuple[int, ...] = (2, 4)) -> DataFrame:
    """Overview pyramid: one output row per (tile, level); level-L pixels are
    the mean of LxL input blocks (edges cropped to a multiple of L; no row
    for a level wider or taller than the tile). A block holding a NaN pixel
    (an ``f32bt`` cloud hole) is written as DN 0 and makes that level's
    ``px_mean`` NULL. Mean pooling commutes with the per-pixel physics only
    approximately — overviews are for browse/thumbnail + pyramid-pruning
    use, never fed to the LST kernel."""
    lv = tuple(int(x) for x in levels)

    def fn(row, w, h):
        img = codecs.decode_tile(row.bytes, w, h, row.fmt)
        for L in lv:
            if w >= L and h >= L:
                pooled, dn = _pool(img, L)
                yield (L, w // L, h // L, dn,
                       _nan_none(round(float(pooled.mean()), 6)))

    return _tile_rows(scenes.select("image_id", "bytes", "w", "h", "fmt"),
                      OVERVIEW_SCHEMA, fn, ("image_id",))


# --------------------------------------------------------------------------
# frame_sample: video path — every k-th frame of a u16seq byte column
# --------------------------------------------------------------------------

FRAME_SCHEMA = StructType([
    StructField("video_id", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("w", IntegerType()),
    StructField("h", IntegerType()),
    StructField("bytes", BinaryType()),
    StructField("px_mean", DoubleType()),
])


def frame_sample(videos: DataFrame, every: int = 4) -> DataFrame:
    """Deterministic frame sampling: frames 0, every, 2*every, … per video.
    Only the sampled frames are materialized out of the packed bytes — the
    unsampled ones are never copied (slice of the frame stride)."""

    def fn(row, w, h):
        if row.fmt != FMT_SEQ:
            raise NotImplementedError(
                f"fmt={row.fmt!r}: real video containers (mp4/webm) need "
                "decode libs absent from this container; only the packed "
                f"{FMT_SEQ!r} layout is implemented")
        stride = 2 * w * h
        for idx in range(0, len(row.bytes) // stride, every):
            chunk = row.bytes[idx * stride:(idx + 1) * stride]
            frame = np.frombuffer(chunk, dtype="<u2").astype(np.float64)
            yield idx, w, h, chunk, round(float(frame.mean()), 6)

    return _tile_rows(videos.select("video_id", "bytes", "w", "h", "fmt"),
                      FRAME_SCHEMA, fn, ("video_id",))


# --------------------------------------------------------------------------
# audio_features: int16 PCM feature extraction (rms / zero-crossings)
# --------------------------------------------------------------------------

AUDIO_SCHEMA = StructType([
    StructField("clip_id", StringType()),
    StructField("n_samples", LongType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossings", LongType()),
])


def audio_features(clips: DataFrame) -> DataFrame:
    def fn(row):
        if row.fmt != FMT_PCM16:
            raise NotImplementedError(
                f"fmt={row.fmt!r}: compressed audio (mp3/flac/ogg) needs "
                f"decode libs absent from this container; only {FMT_PCM16!r} "
                "is implemented")
        sig = np.frombuffer(row.bytes, dtype="<i2").astype(np.float64)
        yield (sig.size, _nan_none(round(float(np.sqrt(np.mean(sig * sig))), 6)),
               int(np.count_nonzero(np.diff(np.signbit(sig)))))

    return _row_map(clips.select("clip_id", "bytes", "fmt"), AUDIO_SCHEMA, fn,
                    ("clip_id",))


# --------------------------------------------------------------------------
# image near-duplicate detection over the phash column (banded LSH)
# --------------------------------------------------------------------------


def phash_neardup(scenes: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs by banded LSH over the stored 64-bit
    perceptual hash — pure JVM-side Column algebra, no Python hop.

    The 64-bit phash splits into 4 x 16-bit bands; by pigeonhole any pair
    with hamming distance <= 3 agrees on at least one full band, so the
    band-key equi self-join has EXACT recall at max_hamming <= 3 (asserted).
    Candidates are then verified with bit_count(xor) <= t. Scale shape:
    one shuffle keyed on (band_idx, band_val); a hot band value (flat/empty
    tiles) is a skewed key like any other — salt or AQE-skew it; candidate
    count stays << n^2 because 16-bit band agreement is rare for non-dups.
    """
    from pyspark.sql import functions as F

    assert max_hamming <= 3, "4x16 banding guarantees exact recall only to 3"
    ids = scenes.select(F.col("image_id").alias("id"), "phash")
    band_vals = [
        F.shiftrightunsigned(F.col("phash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
        for i in range(4)
    ]
    expl = ids.select(
        "id", "phash", F.posexplode(F.array(*band_vals)).alias("band_idx", "band_val")
    )
    a, b = expl.alias("a"), expl.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.phash").alias("ph_a"), F.col("b.phash").alias("ph_b"),
        )
        .distinct()  # a pair may agree on several bands
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
