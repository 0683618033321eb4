"""Deterministic synthetic fixtures (FIXTURES.md) — no external data.

Reproduces the reference's own test methodology — random digital numbers in
[1, 65535] and CWV spanning [0, 6.3] ([U] randomness.py /
random_digital_numbers, SURVEY.md §2.1 C12) — deterministically at tile
granularity: every random draw is seeded from row keys via md5 (NEVER
``hash()``, which is salted per process, and never wall clock), so the same
key yields the same tile on any executor at any parallelism.

Band 11 is synthesized so that BT11 ~= slope * BT10 + intercept per tile,
with the slope drawn in [0.60, 1.00] — the MSWCVM window ratio then sweeps
the full CWV range [0, 6.3], exercising every coefficient subrange.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from . import codecs
from . import constants as C

GLOBAL_SEED = 42

LANDCOVER_CLASSES = [e.landcover_class for e in C.load_emissivities()]

SCALES = {
    # name: (n_scenes, tiles_x, tiles_y, tile_w, tile_h, zipf_skew)
    "tiny": (2, 4, 4, 32, 32, 0.0),
    "small": (8, 8, 8, 64, 64, 0.0),
    # 128^2 tiles: the fused kernel's whole working set stays L2-resident,
    # which is the difference between bus-bound and compute-bound fan-out
    # (measured 8->32-core pool efficiency 0.79 @ 256^2 vs 0.84 @ 128^2 with
    # higher absolute px/s; BENCH/BASELINE.md). At 100 TB tile size is a
    # table-layout choice — 32 KB raw tiles pack fine into parquet row groups.
    "bench": (48, 24, 24, 128, 128, 1.4),
}


def stable_hash(*parts) -> int:
    """Process-stable 32-bit hash of the key tuple."""
    h = hashlib.md5(("|".join(str(p) for p in parts)).encode()).digest()
    return int.from_bytes(h[:4], "little")


def rng_for(*parts) -> np.random.Generator:
    return np.random.default_rng(stable_hash(GLOBAL_SEED, *parts))


def scene_id(i: int) -> str:
    return f"LC08_{i:05d}"


def image_id(sid: str, band: int, tx: int, ty: int) -> str:
    return f"{sid}/B{band}/{tx:03d}_{ty:03d}"


def parse_image_id(iid: str) -> tuple[str, int, int, int]:
    sid, b, xy = iid.split("/")
    tx, ty = xy.split("_")
    return sid, int(b[1:]), int(tx), int(ty)


def scene_bbox(i: int) -> tuple[float, float, float, float]:
    """(lon0, lat0, lon1, lat1) — deterministic global layout, 1.5 deg scenes."""
    lon0 = -178.0 + (i * 23.0) % 340.0
    lat0 = -58.0 + (i * 37.0) % 116.0
    return lon0, lat0, lon0 + 1.5, lat0 + 1.5


def acquired_at(i: int) -> datetime:
    return datetime(2024, 1, 1, 10, 30, tzinfo=timezone.utc) + timedelta(days=i)


def _bt_to_dn(bt: np.ndarray, ml: float, al: float, k1: float, k2: float) -> np.ndarray:
    """Exact inverse of dn_to_bt (C2+C3) for synthesis."""
    rad = k1 / (np.exp(k2 / bt) - 1.0)
    dn = (rad - al) / ml
    return np.clip(np.round(dn), 1, 65535).astype(np.uint16)


def gen_tile(sid: str, tx: int, ty: int, w: int, h: int) -> dict:
    """Deterministic paired-band tile: smooth DN fields + metadata."""
    rng = rng_for(sid, tx, ty)
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    yn, xn = yy / max(h - 1, 1), xx / max(w - 1, 1)

    # smooth base field: mix of 3 low-frequency sinusoids + mild noise
    base = np.zeros((h, w))
    for _ in range(3):
        fx, fy = rng.uniform(0.5, 3.0, 2)
        px, py = rng.uniform(0, 2 * np.pi, 2)
        base += rng.uniform(0.5, 1.0) * np.sin(2 * np.pi * fx * xn + px) * np.cos(
            2 * np.pi * fy * yn + py
        )
    base += rng.normal(0, 0.05, (h, w))
    bt10 = 285.0 + rng.uniform(-15, 15) + 12.0 * base  # ~255..320 K

    slope = rng.uniform(0.60, 1.00)  # controls window ratio -> CWV subrange
    intercept = (1.0 - slope) * float(bt10.mean()) - rng.uniform(0.2, 1.5)
    bt11 = slope * bt10 + intercept + rng.normal(0, 0.03, (h, w))

    dn10 = _bt_to_dn(bt10, C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B10, C.K2_B10)
    dn11 = _bt_to_dn(bt11, C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B11, C.K2_B11)
    landcover = LANDCOVER_CLASSES[rng.integers(0, len(LANDCOVER_CLASSES))]
    return {"dn10": dn10, "dn11": dn11, "landcover": landcover}


def caption_for(sid: str, band: int, tx: int, ty: int, date: str, landcover: str) -> str:
    """Round-trips exactly (caption equality per row, BASELINE.json:15)."""
    return (
        f"scene={sid} band={band} tile=({tx},{ty}) acquired={date} landcover={landcover}"
    )


def tiles_for_scene(i: int, ntx: int, nty: int, zipf: float, n_scenes: int) -> tuple[int, int]:
    """Skew knob (FIXTURES.md §1): scene tile counts ~ zipf(alpha) so
    salt-and-repartition has real skew to fix."""
    if zipf <= 0:
        return ntx, nty
    wgt = (1.0 / (i + 1) ** zipf)
    norm = sum(1.0 / (j + 1) ** zipf for j in range(n_scenes)) / n_scenes
    f = max(0.25, min(3.0, wgt / norm))
    return max(2, int(round(ntx * f))), max(2, int(round(nty * f)))


def scene_grid(i: int, scale: str) -> tuple[int, int]:
    n_scenes, ntx, nty, _, _, zipf = SCALES[scale]
    return tiles_for_scene(i, ntx, nty, zipf, n_scenes)


CLOUD_QA_VALUE = C.DEFAULT_CLOUD_QA_VALUES[0]  # OQ-4: confirm set on mount


def gen_qa(sid: str, tx: int, ty: int, w: int, h: int) -> np.ndarray:
    """Deterministic QA band: ~1/3 of tiles carry a rectangular cloud patch."""
    rng = rng_for(sid, tx, ty, "qa")
    qa = np.zeros((h, w), dtype=np.uint16)
    if rng.random() < 0.34:
        y0, x0 = rng.integers(0, h // 2), rng.integers(0, w // 2)
        qa[y0:y0 + h // 3, x0:x0 + w // 3] = CLOUD_QA_VALUE
    return qa


def scene_rows(i: int, scale: str, ty_only: int | None = None,
               with_qa: bool = False, revisit: int | None = None) -> list[dict]:
    """Rows (both bands) for scene i — optionally one tile-row (the unit of
    distributed generation; keyed rngs make any split identical).
    with_qa adds a band-0 QA row per tile (cloud mask input, C4).
    revisit=k derives observation k of the SAME footprint (scene id
    ``{sid}Rk``, acquisition date +30k days, independent keyed DN field) —
    the temporal-composite fixture."""
    n_scenes, ntx, nty, w, h, zipf = SCALES[scale]
    sid = scene_id(i)
    date = acquired_at(i).strftime("%Y-%m-%d")
    if revisit is not None:
        sid = f"{sid}R{revisit}"
        date = (acquired_at(i) + timedelta(days=30 * revisit)).strftime("%Y-%m-%d")
    ntx, nty = tiles_for_scene(i, ntx, nty, zipf, n_scenes)
    rows = []
    for ty in range(nty) if ty_only is None else [ty_only]:
        for tx in range(ntx):
            t = gen_tile(sid, tx, ty, w, h)
            lossy = stable_hash(sid, tx, ty, "fmt") % 4 == 0
            fmt = codecs.FMT_DCT if lossy else codecs.FMT_RAW
            bands = [(10, t["dn10"]), (11, t["dn11"])]
            if with_qa:
                bands.append((0, gen_qa(sid, tx, ty, w, h)))
            for band, dn in bands:
                if band == 0:
                    fmt = codecs.FMT_RAW  # QA is always lossless
                data = codecs.encode_tile(dn, fmt)
                decoded = codecs.decode_tile(data, w, h, fmt)
                rows.append(
                    {
                        "image_id": image_id(sid, band, tx, ty),
                        "bytes": data,
                        "w": np.int32(w),
                        "h": np.int32(h),
                        "fmt": fmt,
                        "caption": caption_for(sid, band, tx, ty, date, t["landcover"]),
                        "phash": codecs.phash64(decoded),
                    }
                )
    return rows


def scenes_pdf(scale: str = "tiny", scenes: list[int] | None = None,
               with_qa: bool = False) -> pd.DataFrame:
    n_scenes = SCALES[scale][0]
    idx = scenes if scenes is not None else range(n_scenes)
    rows: list[dict] = []
    for i in idx:
        rows.extend(scene_rows(i, scale, with_qa=with_qa))
    df = pd.DataFrame(rows)
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    return df


def revisit_scenes_pdf(scale: str = "tiny", scene: int = 0,
                       n_dates: int = 3, with_qa: bool = False) -> pd.DataFrame:
    """The temporal-composite fixture: the same footprint observed n_dates
    times (scene ids {sid}R0..{sid}R{n-1}, 30-day cadence, independent
    deterministic DN fields) — pixel grids align exactly across dates."""
    rows: list[dict] = []
    for k in range(n_dates):
        rows.extend(scene_rows(scene, scale, revisit=k, with_qa=with_qa))
    df = pd.DataFrame(rows)
    df["w"] = df["w"].astype("int32")
    df["h"] = df["h"].astype("int32")
    df["phash"] = df["phash"].astype("int64")
    return df


def revisit_meta_pdf(scale: str = "tiny", scene: int = 0,
                     n_dates: int = 3) -> pd.DataFrame:
    """scene_meta rows for the revisit fixture (same bbox/MTL per date)."""
    lon0, lat0, lon1, lat1 = scene_bbox(scene)
    rows = []
    for k in range(n_dates):
        rows.append({
            "scene_id": f"{scene_id(scene)}R{k}",
            "ml_b10": C.ML_DEFAULT, "al_b10": C.AL_DEFAULT,
            "ml_b11": C.ML_DEFAULT, "al_b11": C.AL_DEFAULT,
            "k1_b10": C.K1_B10, "k2_b10": C.K2_B10,
            "k1_b11": C.K1_B11, "k2_b11": C.K2_B11,
            "lon0": lon0, "lat0": lat0, "lon1": lon1, "lat1": lat1,
            "acquired_at": acquired_at(scene) + timedelta(days=30 * k),
        })
    return pd.DataFrame(rows)


def scene_meta_pdf(scale: str = "tiny") -> pd.DataFrame:
    n_scenes = SCALES[scale][0]
    rows = []
    for i in range(n_scenes):
        lon0, lat0, lon1, lat1 = scene_bbox(i)
        rows.append(
            {
                "scene_id": scene_id(i),
                "ml_b10": C.ML_DEFAULT,
                "al_b10": C.AL_DEFAULT,
                "ml_b11": C.ML_DEFAULT,
                "al_b11": C.AL_DEFAULT,
                "k1_b10": C.K1_B10,
                "k2_b10": C.K2_B10,
                "k1_b11": C.K1_B11,
                "k2_b11": C.K2_B11,
                "lon0": lon0,
                "lat0": lat0,
                "lon1": lon1,
                "lat1": lat1,
                "acquired_at": acquired_at(i),
            }
        )
    return pd.DataFrame(rows)


def aoi_pdf(scale: str = "tiny", per_scene: int = 2) -> pd.DataFrame:
    """Seeded convex + star polygons overlapping scene footprints."""
    n_scenes = SCALES[scale][0]
    rows = []
    for i in range(n_scenes):
        lon0, lat0, lon1, lat1 = scene_bbox(i)
        cx0, cy0 = (lon0 + lon1) / 2, (lat0 + lat1) / 2
        for j in range(per_scene):
            rng = rng_for("aoi", i, j)
            cx = cx0 + rng.uniform(-0.5, 0.5)
            cy = cy0 + rng.uniform(-0.5, 0.5)
            n_vert = int(rng.integers(5, 10))
            angles = np.sort(rng.uniform(0, 2 * np.pi, n_vert))
            star = j % 2 == 1
            radii = rng.uniform(0.15, 0.6, n_vert)
            if star:  # alternate radii -> non-convex
                radii[::2] *= 0.35
            ring = [
                {"lon": float(cx + r * np.cos(a)), "lat": float(cy + r * np.sin(a))}
                for a, r in zip(angles, radii)
            ]
            ring.append(ring[0])  # closed ring
            rows.append(
                {
                    "aoi_id": f"aoi_{i:03d}_{j}",
                    "ring": ring,
                    "category": "star" if star else "convex",
                }
            )
    return pd.DataFrame(rows)


def stations_pdf(scale: str = "tiny", per_scene: int = 6) -> pd.DataFrame:
    n_scenes = SCALES[scale][0]
    rows = []
    for i in range(n_scenes):
        lon0, lat0, lon1, lat1 = scene_bbox(i)
        for j in range(per_scene):
            rng = rng_for("station", i, j)
            rows.append(
                {
                    "station_id": f"st_{i:03d}_{j}",
                    "lon": float(rng.uniform(lon0 - 0.3, lon1 + 0.3)),
                    "lat": float(rng.uniform(lat0 - 0.3, lat1 + 0.3)),
                    "cwv_obs": float(rng.uniform(0.0, 6.3)),
                    "observed_at": acquired_at(i),
                }
            )
    return pd.DataFrame(rows)


def synth_scenes_spark(spark, scale: str = "bench", scenes: list[int] | None = None,
                       with_qa: bool = False):
    """Distributed generation: (scene, tile-row) keys parallelized, tile
    bytes generated executor-side via mapInPandas — the 100 TB-shaped path
    (the driver never holds pixel data; parallelism = total tile-rows, so
    even one huge skewed scene fans out across all executors).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("image_id", StringType()),
            StructField("bytes", BinaryType()),
            StructField("w", IntegerType()),
            StructField("h", IntegerType()),
            StructField("fmt", StringType()),
            StructField("caption", StringType()),
            StructField("phash", LongType()),
        ]
    )
    idx = list(scenes) if scenes is not None else list(range(SCALES[scale][0]))
    key_rows = [(i, ty) for i in idx for ty in range(scene_grid(i, scale)[1])]
    keys = spark.createDataFrame(key_rows, "scene_idx int, ty int").repartition(
        min(len(key_rows), 256)
    )

    def gen(batches):
        for pdf in batches:
            for i, ty in zip(pdf["scene_idx"], pdf["ty"]):
                out = pd.DataFrame(scene_rows(int(i), scale, ty_only=int(ty),
                                              with_qa=with_qa))
                out["w"] = out["w"].astype("int32")
                out["h"] = out["h"].astype("int32")
                out["phash"] = out["phash"].astype("int64")
                yield out

    return keys.mapInPandas(gen, schema)
