"""Byte pins for the per-row media and streaming-stats operators.

Every output row of ``media_meta``, ``tile_overviews``, ``frame_sample``,
``audio_features`` and the streaming ingest's ``_decode_stats`` (run on a
static frame) on one fixture is sorted and hashed; the digest must equal
the recorded one.

The fixture:

- the tiny synthetic scene 0 (``u16le`` and ``u16dct`` tiles, 32 x 32)
  plus two ``f32bt`` tiles: a ragged 6 x 5 one with a NaN pixel (its
  stats and overview means are NULL, the NULL a pandas hop makes of NaN)
  and a 3 x 3 one too small for the level-4 overview;
- an undecodable ``jpeg`` row, catalogued by ``media_meta`` only;
- three packed videos, one with a trailing partial frame;
- four PCM clips, one of them empty (its rms is NULL).

To re-record after an intended output change:
``python -m tests.test_media_golden`` (from the repo root) prints the
digests.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from i_landsat8_swlst_spark import codecs, mediaops, streaming, synth
from i_landsat8_swlst_spark.pipeline import parse_scenes


def _bt_row(tx: int, w: int, h: int, nan: bool) -> dict:
    rng = np.random.default_rng(700 + tx)
    bt = np.round(rng.uniform(270.0, 320.0, (h, w)), 2)
    if nan:
        bt[1, 2] = np.nan
    return {"image_id": synth.image_id("BTSCENE", 10, tx, 0),
            "bytes": codecs.encode_f32bt(bt), "w": w, "h": h,
            "fmt": codecs.FMT_BT,
            "caption": "acquired=2024-03-05 landcover=Water"}


def _scenes(spark, with_undecodable: bool):
    pdf = synth.scenes_pdf("tiny", scenes=[0])[
        ["image_id", "bytes", "w", "h", "fmt", "caption"]]
    extra = [_bt_row(0, 6, 5, True), _bt_row(1, 3, 3, False)]
    if with_undecodable:
        extra.append({"image_id": synth.image_id("JPSCENE", 11, 0, 0),
                      "bytes": b"\xff\xd8\xff\xe0 not decodable", "w": 4,
                      "h": 4, "fmt": "jpeg",
                      "caption": "acquired=2024-03-06 landcover=Urban"})
    pdf = pd.concat([pdf, pd.DataFrame(extra)], ignore_index=True)
    pdf["w"] = pdf["w"].astype("int32")
    pdf["h"] = pdf["h"].astype("int32")
    return spark.createDataFrame(pdf)


def _videos(spark):
    pdf = mediaops.videos_pdf(n=3, frames=9, w=6, h=5)
    pdf.loc[2, "bytes"] = pdf.loc[2, "bytes"] + b"\x01\x02\x03\x04"
    return spark.createDataFrame(pdf)


def _clips(spark):
    pdf = mediaops.audio_pdf(n=3, samples=777)
    pdf = pd.concat([pdf, pd.DataFrame([{
        "clip_id": "CLIPEMPTY", "bytes": b"", "n_samples": np.int64(0),
        "fmt": mediaops.FMT_PCM16, "caption": "clip=CLIPEMPTY samples=0"}])],
        ignore_index=True)
    return spark.createDataFrame(pdf)


def _decode_stats(spark):
    from pyspark.sql import functions as F

    parsed = parse_scenes(streaming._with_event_time(
        _scenes(spark, False))).withColumn(
        "acq_date", F.date_format("acq_ts", "yyyy-MM-dd"))
    return streaming._decode_stats(parsed.select(
        "image_id", "scene_id", "band", "tile_x", "tile_y", "acq_date",
        "bytes", "w", "h", "fmt"))


CASES = {
    "media_meta": lambda s: mediaops.media_meta(_scenes(s, True)),
    "tile_overviews": lambda s: mediaops.tile_overviews(
        _scenes(s, False), levels=(2, 4)),
    "frame_sample": lambda s: mediaops.frame_sample(_videos(s), every=3),
    "audio_features": lambda s: mediaops.audio_features(_clips(s)),
    "decode_stats": _decode_stats,
}

DIGESTS = {  # case: (rows, sha256 of the sorted rows)
    "audio_features": (4,
        "2452e991827bc703975ef05b41e5d07575b0e69c6314d1b9c5ead74284e089fa"),
    "decode_stats": (34,
        "5f3ff8a8dd6e7b6ecd4413ccd19481a05b3b2526194a3e17fa5a1fc4b913148f"),
    "frame_sample": (9,
        "491714e34a70913253ce6dc3cdb388b00fbc7707f391e9513432f88443a62c27"),
    "media_meta": (35,
        "a3fb065af3e1855f38371d8b530e9309d1ba47f1a5be78bb702dc7ceb673b826"),
    "tile_overviews": (67,
        "7bf4c6206a835bd416110084795711aacbeead2a9a4b1fd7a251cbe0547b094b"),
}


def _digest(rows) -> tuple[int, str]:
    canon = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r)) for r in rows)
    return len(canon), hashlib.sha256("\n".join(canon).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASES))
def test_media_output_bytes_pinned(spark, case):
    got = CASES[case](spark).collect()
    assert _digest(got) == DIGESTS[case]


if __name__ == "__main__":
    from i_landsat8_swlst_spark.session import get_spark

    spark = get_spark(app="media-golden", cores=4, shuffle_partitions=8)
    for name in sorted(CASES):
        n, d = _digest(CASES[name](spark).collect())
        print(f'    "{name}": ({n},\n        "{d}"),')
    spark.stop()
