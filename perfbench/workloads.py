"""The benchmark's workloads: seeded inputs, one pass, its output check,
the traced pass and the single-core micro timings of the layers a
workload runs through.

Every workload generates its inputs from the seed into the run's work
directory, so the engine sees only the written tables. Metrics a workload
does not measure are reported as 0 (see README.md).
"""

from __future__ import annotations

import math
import shutil
import sys
import time
import zlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from i_landsat8_swlst_spark import (checkpoint, codecs, constants as C, geo,
                                    kernels as K, pipeline, regions, spatial,
                                    synth, terrain, vectorize)

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tests"))
import oracle_ref  # noqa: E402  (the scalar reference oracle)
from stats import median  # noqa: E402

TILE = 128
POOL = 48           # distinct synthetic tile pairs per seed
SAMPLE_TILES = 4    # output tiles checked against the scalar oracle per pass
SAMPLE_PIXELS = 12  # pixels checked per sampled tile
N_FILES = 16        # parquet files per input table
MB = 1024.0 * 1024.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn, reps: int) -> float:
    """Median wall of ``fn()`` in ms over ``reps`` calls after one warm call."""
    fn()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1e3)
    return float(np.median(walls))


def write_parquet(pdf: pd.DataFrame, path: Path, n_files: int = N_FILES) -> None:
    path.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    for k in range(n_files):
        part = pdf.iloc[bounds[k]:bounds[k + 1]]
        if len(part):
            # no dictionary pages: scene tiles repeat pool entries, and a
            # dictionary would fold them to a fraction of a real scene's bytes
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           path / f"part-{k:03d}.parquet", use_dictionary=False)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def crc_sum(ids) -> int:
    """Python twin of ``sum(crc32(cast(id as binary)))`` in Spark."""
    return sum(zlib.crc32(s.encode()) for s in ids)


class Workload:
    """One workload of one run. Subclasses fill in the hooks."""

    name = ""
    warm_passes = 1      # untimed passes in the set-up, until pass walls settle

    def __init__(self, seed: int, work: Path, cores: int):
        self.seed = seed
        self.work = work
        self.cores = cores
        self.inputs = work / "inputs"
        self.spark = None

    # Hooks: generate() -> need_bytes() -> register() -> warm()
    # -> run_pass()* -> check() ; traced() ; micro()
    def need_bytes(self) -> int:
        """Disk the run needs: its inputs, outputs and shuffle."""
        return 4 * dir_bytes(self.inputs)

    def warm(self) -> None:
        for _ in range(self.warm_passes):
            self.run_pass()


# ---------------------------------------------------------------------------
# Landsat scenes (raster_lst)
# ---------------------------------------------------------------------------

def choose_scenes(seed: int, heads: tuple[int, ...], budget: int) -> list[int]:
    """One zipf-head scene of the ``bench`` scale (picked from ``heads``)
    plus small scenes, in seeded order, until ``budget`` tiles."""
    rng = np.random.default_rng([seed, 1])
    chosen = [int(rng.choice(heads))]
    n = math.prod(synth.scene_grid(chosen[0], "bench"))
    for i in rng.permutation(np.arange(10, synth.SCALES["bench"][0])):
        if n >= budget:
            break
        chosen.append(int(i))
        n += math.prod(synth.scene_grid(int(i), "bench"))
    return chosen


def tile_pool(seed: int) -> list[dict]:
    """POOL synthetic tile pairs with both encodings precomputed. Each
    scene tile takes one entry by a keyed hash, so generating a scene costs
    no pixel synthesis; the engine still reads and decodes every tile."""
    pool = []
    for k in range(POOL):
        t = synth.gen_tile(f"POOL{seed}", k, 0, TILE, TILE)
        enc = {}
        for band, dn in ((10, t["dn10"]), (11, t["dn11"])):
            for fmt in (codecs.FMT_RAW, codecs.FMT_DCT):
                data = codecs.encode_tile(dn, fmt)
                dec = codecs.decode_tile(data, TILE, TILE, fmt)
                enc[band, fmt] = (data, codecs.phash64(dec),
                                  codecs.psnr(dec, dn.astype("float64")))
        pool.append({"landcover": t["landcover"], "enc": enc})
    return pool


def scene_table(seed: int, scenes: list[int], pool: list[dict]):
    """Rows of the scenes table plus one (sid, tx, ty, pool idx, fmt,
    date) record per tile."""
    rows, tiles = [], []
    for i in scenes:
        sid = synth.scene_id(i)
        date = synth.acquired_at(i).strftime("%Y-%m-%d")
        ntx, nty = synth.scene_grid(i, "bench")
        for ty in range(nty):
            for tx in range(ntx):
                k = synth.stable_hash(seed, sid, tx, ty) % POOL
                lossy = synth.stable_hash(sid, tx, ty, "fmt") % 4 == 0
                fmt = codecs.FMT_DCT if lossy else codecs.FMT_RAW
                tiles.append((sid, tx, ty, k, fmt, date))
                for band in (10, 11):
                    data, ph, _ = pool[k]["enc"][band, fmt]
                    rows.append({
                        "image_id": synth.image_id(sid, band, tx, ty),
                        "bytes": data, "w": TILE, "h": TILE, "fmt": fmt,
                        "caption": synth.caption_for(sid, band, tx, ty, date,
                                                     pool[k]["landcover"]),
                        "phash": ph})
    pdf = pd.DataFrame(rows)
    pdf["w"] = pdf["w"].astype("int32")
    pdf["h"] = pdf["h"].astype("int32")
    pdf["phash"] = pdf["phash"].astype("int64")
    return pdf, tiles


def oracle_pixels(dn10, dn11, e10: float, e11: float, pts, window: int) -> np.ndarray:
    """Scalar-oracle LST (K) at the given (y, x) pixels of one tile."""
    r = window // 2
    h, w = dn10.shape
    bt = {}

    def bt_at(y, x):
        if (y, x) not in bt:
            bt[y, x] = (
                oracle_ref.brightness_temperature(float(dn10[y, x]), C.ML_DEFAULT,
                                                  C.AL_DEFAULT, C.K1_B10, C.K2_B10),
                oracle_ref.brightness_temperature(float(dn11[y, x]), C.ML_DEFAULT,
                                                  C.AL_DEFAULT, C.K1_B11, C.K2_B11))
        return bt[y, x]

    out = []
    for y, x in pts:
        if y - r < 0 or x - r < 0 or y + r >= h or x + r >= w:
            out.append(math.nan)
            continue
        win = [bt_at(y + dy, x + dx) for dy in range(-r, r + 1) for dx in range(-r, r + 1)]
        cwv = oracle_ref.cwv_from_ratio(oracle_ref.cwv_ratio_window(
            [a for a, _ in win], [b for _, b in win]))
        t10, t11 = bt_at(y, x)
        out.append(oracle_ref.compute_lst(t10, t11, cwv, e10, e11))
    return np.array(out)


class RasterLst(Workload):
    """The paper's path: scan -> band pair -> decode -> fused kernel ->
    Arrow emit -> noop sink. The traced run adds the durable job
    (checkpoint.run_lst_job, then a no-op resume) over the same input."""

    name = "raster_lst"
    warm_passes = 2
    heads = (6,)
    # ~26 Mpx: the input files (~87 MB) are above the engine's 64 MB
    # broadcast threshold, so the band pair is a shuffled join, and the
    # durable job's auto slice batch splits the 8 slices into two groups
    budget = 1600

    def generate(self) -> None:
        scenes = choose_scenes(self.seed, self.heads, self.budget)
        pool = tile_pool(self.seed)
        pdf, tiles = scene_table(self.seed, scenes, pool)
        write_parquet(pdf, self.inputs / "scenes")
        self.n_tiles = len(tiles)
        self.pixels = self.n_tiles * TILE * TILE
        self.id_sum = crc_sum(synth.image_id(s, 10, tx, ty) for s, tx, ty, *_ in tiles)
        # the input's own invariant: lossy tiles keep PSNR >= 40 dB
        self.psnr_min = min(e["enc"][b, codecs.FMT_DCT][2] for e in pool for b in (10, 11))
        emis = {e.landcover_class: e for e in C.load_emissivities()}
        rng = np.random.default_rng([self.seed, 2])
        self.sample = {}
        picks = rng.choice(len(tiles), SAMPLE_TILES, replace=False)
        for j in picks:
            sid, tx, ty, k, fmt, date = tiles[int(j)]
            dn10 = codecs.decode_tile_dn(pool[k]["enc"][10, fmt][0], TILE, TILE, fmt)
            dn11 = codecs.decode_tile_dn(pool[k]["enc"][11, fmt][0], TILE, TILE, fmt)
            e = emis[pool[k]["landcover"]]
            pts = [(int(y), int(x)) for y, x in rng.integers(0, TILE, (SAMPLE_PIXELS, 2))]
            pts += [(0, 0), (TILE // 2, TILE - 1)]  # window falls off the tile
            self.sample[synth.image_id(sid, 10, tx, ty)] = {
                "caption": synth.caption_for(sid, 10, tx, ty, date, pool[k]["landcover"]),
                "pts": pts,
                "lst": oracle_pixels(dn10, dn11, e.emissivity_b10, e.emissivity_b11,
                                     pts, C.DEFAULT_CWV_WINDOW)}
        self.kernel_tiles = [(codecs.decode_tile_dn(pool[k]["enc"][10, codecs.FMT_RAW][0],
                                                    TILE, TILE, codecs.FMT_RAW),
                              codecs.decode_tile_dn(pool[k]["enc"][11, codecs.FMT_RAW][0],
                                                    TILE, TILE, codecs.FMT_RAW))
                             for k in range(pipeline._KERNEL_STACK)]
        self.codec_tiles = {fmt: pool[0]["enc"][10, fmt][0]
                            for fmt in (codecs.FMT_RAW, codecs.FMT_DCT)}

    def register(self, spark) -> None:
        self.spark = spark
        self.scenes = spark.read.parquet(str(self.inputs / "scenes"))
        self.meta = spark.createDataFrame(synth.scene_meta_pdf("bench"))
        self.emis = spark.createDataFrame(
            pd.DataFrame([e._asdict() for e in C.load_emissivities()]))

    def enriched(self):
        return pipeline.build_enriched(self.scenes, self.meta, self.emis)

    def check(self, p: dict) -> list[str]:
        """Problems in one pass's observed output (empty when correct)."""
        got = p["obs"]
        bad = []
        if self.psnr_min < 40.0:
            bad.append(f"lossy input PSNR {self.psnr_min:.2f} dB < 40")
        if got["rows"] != self.n_tiles or got["id_sum"] != self.id_sum:
            bad.append(f"{got['rows']} output rows for {self.n_tiles} paired tiles")
        seen = {r["image_id"]: r for r in got["sample"]}
        for iid, exp in self.sample.items():
            row = seen.get(iid)
            if row is None:
                bad.append(f"sampled tile {iid} missing")
                continue
            if row["caption"] != exp["caption"]:
                bad.append(f"caption of {iid} did not round-trip")
            lst = np.frombuffer(bytes(row["lst_bytes"]), "<f4").reshape(TILE, TILE)
            vals = np.array([lst[y, x] for y, x in exp["pts"]], dtype=np.float64)
            if not np.allclose(vals, exp["lst"], rtol=1e-5, atol=1e-3, equal_nan=True):
                bad.append(f"LST of {iid} differs from the scalar oracle")
        return bad

    def observed(self, df, name: str):
        obs = Observation(name)
        pick = F.col("image_id").isin(list(self.sample))
        return obs, df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32(F.col("image_id").cast("binary"))).alias("id_sum"),
            F.collect_list(F.when(pick, F.struct("image_id", "caption", "lst_bytes")))
            .alias("sample"))

    def micro(self) -> dict:
        """Single-core timings on real input tiles: decode per tile and the
        kernel stages on one stacked group of ``_KERNEL_STACK`` tiles."""
        out = {}
        for fmt, key in ((codecs.FMT_RAW, "codecs.decode_raw_ms"),
                         (codecs.FMT_DCT, "codecs.decode_dct_ms")):
            data = self.codec_tiles[fmt]
            out[key] = timed(lambda: codecs.decode_tile_dn(data, TILE, TILE, fmt), 30)
        dn10 = np.stack([a for a, _ in self.kernel_tiles])
        dn11 = np.stack([b for _, b in self.kernel_tiles])
        meta = dict(zip(pipeline.META_COLS, (C.ML_DEFAULT, C.AL_DEFAULT, C.ML_DEFAULT,
                                             C.AL_DEFAULT, C.K1_B10, C.K2_B10,
                                             C.K1_B11, C.K2_B11)))
        e = C.load_emissivities()[0]
        e10, e11, win = e.emissivity_b10, e.emissivity_b11, C.DEFAULT_CWV_WINDOW
        t10 = K.dn_to_bt(dn10, C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B10, C.K2_B10)
        t11 = K.dn_to_bt(dn11, C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B11, C.K2_B11)
        cwv = K.cwv(t10, t11, win)
        out["kernels.bt_ms"] = timed(lambda: (
            K.dn_to_bt(dn10, C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B10, C.K2_B10),
            K.dn_to_bt(dn11, C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B11, C.K2_B11)), 15)
        out["kernels.cwv_ms"] = timed(lambda: K.cwv(t10, t11, win), 15)
        out["kernels.lst_ms"] = timed(lambda: K.lst_from_bt(t10, t11, cwv, e10, e11), 15)
        out["kernels.fused_ms"] = timed(
            lambda: K.fused_lst_kernel(dn10, dn11, meta, e10, e11, win), 15)
        out["kernels.fused_mpx_per_s_core"] = (
            dn10.size / 1e6 / (out["kernels.fused_ms"] / 1e3))
        return out

    def kernel_core_s(self, fused_ms: float) -> float:
        """Core-seconds the fused kernel alone needs for every tile."""
        return self.n_tiles / pipeline._KERNEL_STACK * fused_ms / 1e3

    def ladder(self, tr) -> dict:
        """Cumulative rungs: parquet scan, then the band pair."""
        with tr.span("ladder_scan"):
            noop(self.scenes)
        with tr.span("ladder_pair"):
            noop(self.enriched())
        return {"pipeline.scan_s": tr.total("ladder_scan"),
                "pipeline.pair_s": tr.total("ladder_pair") - tr.total("ladder_scan")}

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        obs, df = self.observed(pipeline.lst_tiles(self.enriched()), "lst")
        noop(df)
        wall = time.perf_counter() - t0
        return {"wall": wall, "units": self.pixels, "obs": obs.get}

    def report(self, passes):
        return {"lst_mpx_per_s": self.pixels / 1e6 / median([p["wall"] for p in passes])}

    def run_job(self, tr):
        """One durable job from a clean directory, then the same call again
        (a no-op resume): both summaries, the manifests, the output dir."""
        out = self.work / "job-out"
        shutil.rmtree(out, ignore_errors=True)
        args = (self.spark, self.scenes, self.meta, self.emis, str(out))
        with tr.span("lst_job"):
            first = checkpoint.run_lst_job(*args)
        with tr.span("resume"):
            again = checkpoint.run_lst_job(*args)
        return first, again, checkpoint.read_manifest(str(out)), out

    def check_job(self, first, again, man) -> list[str]:
        bad = []
        if sorted(man) != list(range(first["slices"])):
            bad.append(f"done manifests for {sorted(man)} of {first['slices']} slices")
        rows = sum(r["rows_out"] for r in man.values())
        if rows != self.n_tiles:
            bad.append(f"manifests count {rows} rows for {self.n_tiles} tiles")
        if first["unverified"]:
            bad.append(f"unverified slices {first['unverified']}")
        if again["executed"]:
            bad.append(f"resume executed slices {again['executed']}")
        return bad

    def traced(self, tr, log_for) -> dict:
        with tr.patched(pipeline, ["build_enriched", "lst_tiles"]), \
                tr.patched(checkpoint, ["slice_fingerprints"]):
            with tr.span("pass"):
                p = self.run_pass()
            first, again, man, job_out = self.run_job(tr)
        out = self.ladder(tr)
        with tr.span("ladder_stats_only"):
            noop(pipeline.lst_tiles(self.enriched(), emit_arrays=False))
        groups = {tuple(r["group"]): r["wall_ms"] for r in man.values()}
        log = log_for()
        s = log.summary("pass")
        job = log.summary("lst_job")
        out.update({
            "pipeline.shuffle_write_mb": s["shuffle_write_mb"],
            "pipeline.shuffle_read_mb": s["shuffle_read_mb"],
            "pipeline.pair_task_skew": log.busiest_stage_skew("pass"),
            "lst_tiles.stats_only_s": tr.total("ladder_stats_only"),
            "lst_tiles.emit_s": tr.total("pass") - tr.total("ladder_stats_only"),
            "lst_tiles.py_in_mb": s["py_in_mb"],
            "lst_tiles.py_out_mb": s["py_out_mb"],
            "lst_tiles.py_run_s": s["py_run_s"],
            "checkpoint.job_mpx_per_s": self.pixels / 1e6 / tr.total("lst_job"),
            "checkpoint.resume_noop_s": tr.total("resume"),
            "checkpoint.fingerprint_s": tr.total("checkpoint.slice_fingerprints",
                                                 under="lst_job"),
            "checkpoint.group_wall_s_sum": sum(groups.values()) / 1e3,
            "checkpoint.groups": len(groups),
            "checkpoint.write_mb": dir_bytes(job_out / "data") / MB,
            "checkpoint.spill_mb": job["spill_mb"],
            "checkpoint.resume_jobs": log.summary("resume")["jobs"],
        })
        bad = self.check(p) + self.check_job(first, again, man)
        return {"pass_wall": tr.total("pass"), "check": bad, **out}


# ---------------------------------------------------------------------------
# Points (enrich_points)
# ---------------------------------------------------------------------------

N_POINTS = 200_000
ENRICH_K = 2
SAMPLE_POINTS = 16


class EnrichPoints(Workload):
    """Point enrichment: hex/S2 cells, PIP against the AOIs and the k
    nearest stations. No band pair and no LST kernel. The traced run adds
    the terrain rungs (``TerrainRegions``)."""

    name = "enrich_points"
    warm_passes = 3

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 3])
        self.aoi = synth.aoi_pdf("small")
        self.stations = synth.stations_pdf("small")
        pp = spatial.PackedPolygons.from_pdf(self.aoi)
        # points cluster around the AOIs with zipf skew over AOIs
        cent = np.array([pp.ring(k)[:-1].mean(axis=0) for k in range(len(self.aoi))])
        w = 1.0 / np.arange(1, len(cent) + 1) ** 1.1
        pick = rng.choice(len(cent), N_POINTS, p=w / w.sum())
        lon = cent[pick, 0] + rng.normal(0.0, 0.45, N_POINTS)
        lat = cent[pick, 1] + rng.normal(0.0, 0.45, N_POINTS)
        pts = pd.DataFrame({"pid": np.arange(N_POINTS, dtype=np.int64), "lon": lon,
                            "lat": lat, "lst_k": rng.uniform(260.0, 330.0, N_POINTS)})
        write_parquet(pts, self.inputs / "points", n_files=self.cores * 2)
        pi, gi = spatial.query_polygons(pp, lon, lat)
        hits = np.bincount(pi, minlength=N_POINTS)
        self.enrich_rows = int(np.maximum(hits, 1).sum()) * ENRICH_K
        samp = rng.choice(N_POINTS, SAMPLE_POINTS, replace=False)
        d = spatial.haversine_km(lon[samp, None], lat[samp, None],
                                 self.stations.lon.to_numpy()[None, :],
                                 self.stations.lat.to_numpy()[None, :])
        ids = self.stations.station_id.to_numpy(object)
        self.sample = {}
        for j, p in enumerate(samp):
            order = np.lexsort((ids, d[j]))[:ENRICH_K]
            self.sample[int(p)] = {
                "aoi": sorted(pp.aoi_ids[gi[pi == p]].tolist()),
                "stations": [(ids[o], float(d[j, o])) for o in order]}
        self.lonlat = (lon, lat)
        self.pp = pp
        self.terrain = TerrainRegions(self.seed, self.work, self.cores)
        self.terrain.generate()

    def register(self, spark) -> None:
        self.spark = spark
        self.points = spark.read.parquet(str(self.inputs / "points"))
        self.terrain.register(spark)

    def _enrich(self):
        obs = Observation("enrich")
        pick = F.col("pid").isin(list(self.sample))
        df = spatial.enrich_pixels(self.points, self.aoi, self.stations,
                                   k=ENRICH_K, how="left").observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("aoi_id").isNotNull() & (F.col("station_rank") == 1), 1)
                  .otherwise(0)).alias("pip_pairs"),
            F.collect_list(F.when(pick, F.struct("pid", "aoi_id", "station_id",
                                                 "station_rank", "station_km")))
            .alias("sample"))
        noop(df)
        return obs.get

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        enr = self._enrich()
        return {"wall": time.perf_counter() - t0, "units": N_POINTS, "enr": enr}

    def check(self, p: dict) -> list[str]:
        bad = []
        enr = p["enr"]
        if enr["rows"] != self.enrich_rows:
            bad.append(f"enrich emitted {enr['rows']} rows, expected {self.enrich_rows}")
        got: dict[int, dict] = {}
        for r in enr["sample"]:
            g = got.setdefault(r["pid"], {"aoi": set(), "stations": {}})
            if r["aoi_id"] is not None:
                g["aoi"].add(r["aoi_id"])
            g["stations"][r["station_rank"]] = (r["station_id"], r["station_km"])
        for pid, exp in self.sample.items():
            g = got.get(pid)
            if g is None or sorted(g["aoi"]) != exp["aoi"]:
                bad.append(f"point {pid}: AOIs differ from query_polygons")
                continue
            st = [g["stations"].get(k + 1) for k in range(ENRICH_K)]
            if any(s is None for s in st) or [s[0] for s in st] != [s[0] for s in exp["stations"]] \
                    or not np.allclose([s[1] for s in st], [s[1] for s in exp["stations"]],
                                       rtol=1e-9):
                bad.append(f"point {pid}: nearest stations differ from haversine_km")
        return bad

    def report(self, passes):
        return {"enrich_mpts_per_s": N_POINTS / 1e6 / median([p["wall"] for p in passes])}

    def micro(self) -> dict:
        """Single-core timings per 100k input points, and the terrain's."""
        lon, lat = (a[:100_000] for a in self.lonlat)
        slon = self.stations.lon.to_numpy()
        slat = self.stations.lat.to_numpy()
        return {
            "geo.hexcell_ms": timed(lambda: geo.hexcell(lon, lat, 8), 5),
            "geo.s2_ms": timed(lambda: geo.s2_cell(lon, lat, 14), 5),
            "spatial.pip_ms": timed(lambda: spatial.query_polygons(self.pp, lon, lat), 5),
            "spatial.haversine_ms": timed(lambda: spatial.haversine_km(
                lon[:, None], lat[:, None], slon[None, :], slat[None, :]), 5),
            **self.terrain.micro(),
        }

    def traced(self, tr, log_for) -> dict:
        with tr.patched(spatial, ["enrich_pixels"]):
            with tr.span("pass"):
                enr = self._enrich()
        terr = self.terrain.traced(tr)
        log = log_for()
        e = log.summary("pass")
        return {
            "pass_wall": tr.total("pass"),
            "check": (self.check({"enr": enr}) + self.terrain.check(terr["first"])
                      + self.terrain.check(terr)),
            "spatial.enrich_s": tr.total("pass"),
            "spatial.pip_hit_ratio": enr["pip_pairs"] / N_POINTS,
            "spatial.rows_per_point": enr["rows"] / N_POINTS,
            "spatial.py_in_mb": e["py_in_mb"],
            "spatial.py_out_mb": e["py_out_mb"],
            **self.terrain.layer_metrics(tr, log, terr),
        }


# ---------------------------------------------------------------------------
# DEM tiles (the terrain rungs of enrich_points' traced run)
# ---------------------------------------------------------------------------

DEM_SCENES = 4
DEM_GRID = 3          # tiles per side of one DEM scene
DEM_THRESHOLD = 60.0  # to_vect mask: elevation above this


def dem_scene(seed: int, s: int) -> np.ndarray:
    """Smooth ridges that cross tile borders, plus low noise."""
    rng = np.random.default_rng([seed, 4, s])
    n = DEM_GRID * TILE
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64)
    z = 20.0 + rng.normal(0.0, 0.5, (n, n))
    for _ in range(4):
        x0, y0, x1, y1 = rng.uniform(0, n, 4)
        dx, dy = x1 - x0, y1 - y0
        t = np.clip(((xx - x0) * dx + (yy - y0) * dy) / (dx * dx + dy * dy), 0, 1)
        d2 = (xx - x0 - t * dx) ** 2 + (yy - y0 - t * dy) ** 2
        z += rng.uniform(40, 80) * np.exp(-d2 / (2 * rng.uniform(15, 40) ** 2))
    return z.astype(np.float32)


class TerrainRegions(Workload):
    """The terrain sweep (``sun_tiles``) and region vectorization
    (``to_vect``, connected components per scene) over the same DEM tiles.
    No band pair and no LST kernel. Not a timed workload: its rungs run in
    enrich_points' traced run."""

    def generate(self) -> None:
        rng = np.random.default_rng([self.seed, 3])
        rows, self.dem_planes = [], []
        for s in range(DEM_SCENES):
            z = dem_scene(self.seed, s)
            self.dem_planes.append(z)
            for ty in range(DEM_GRID):
                for tx in range(DEM_GRID):
                    t = z[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]
                    rows.append({"scene_id": f"DEM{s}", "tile_x": tx, "tile_y": ty,
                                 "w": TILE, "h": TILE,
                                 "lst_bytes": np.ascontiguousarray(t).astype("<f4").tobytes()})
        tdf = pd.DataFrame(rows)
        for c in ("tile_x", "tile_y", "w", "h"):
            tdf[c] = tdf[c].astype("int32")
        write_parquet(tdf, self.inputs / "dem", n_files=self.cores)
        self.n_tiles = len(rows)
        self.dem_px = self.n_tiles * TILE * TILE
        self.sun_pos = pd.DataFrame([
            {"scene_id": f"DEM{s}", "azimuth_deg": float(rng.uniform(0, 360)),
             "altitude_deg": float(rng.uniform(20, 60))} for s in range(DEM_SCENES)])
        self.first_sums = None

    def register(self, spark) -> None:
        self.spark = spark
        self.dem = spark.read.parquet(str(self.inputs / "dem"))

    def _sun(self):
        obs = Observation("sun")
        df = terrain.sun_tiles(self.dem, self.sun_pos).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.crc32("glob_bytes")).alias("crc"),
            F.sum("n_shaded").alias("shaded"))
        noop(df)
        return obs.get

    @staticmethod
    def _ring_sums(rings) -> dict:
        return rings.agg(F.count(F.lit(1)).alias("rings"),
                         F.sum("n_vertices").alias("verts"),
                         F.sum("area_px").alias("area")).first().asDict()

    def run_pass(self) -> dict:
        t0 = time.perf_counter()
        sun = self._sun()
        t1 = time.perf_counter()
        rings = vectorize.to_vect(self.dem, threshold=DEM_THRESHOLD)
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "sun": t1 - t0, "to_vect": t2 - t1,
                "units": self.dem_px, "sun_obs": sun, "rings": self._ring_sums(rings)}

    def check(self, p: dict) -> list[str]:
        bad = []
        sun = p["sun_obs"]
        if sun["rows"] != self.n_tiles:
            bad.append(f"sun emitted {sun['rows']} tiles for {self.n_tiles}")
        if not p["rings"]["rings"]:
            bad.append("to_vect found no rings")
        sums = (sun["crc"], sun["shaded"], p["rings"]["rings"], p["rings"]["verts"],
                p["rings"]["area"])
        if self.first_sums is None:
            self.first_sums = sums
        elif sums != self.first_sums:
            bad.append("sun/to_vect checksums differ between passes")
        return bad

    def micro(self) -> dict:
        """Single-core ``label_tile`` on thresholded DEM tiles."""
        masks = [z[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE] > DEM_THRESHOLD
                 for z in self.dem_planes for ty in range(DEM_GRID) for tx in range(DEM_GRID)]
        masks = [m for m in masks if m.any()][:8] or masks[:1]
        return {"regions.label_tile_ms": float(np.median(
            [timed(lambda m=m: regions.label_tile(m), 3) for m in masks]))}

    def traced(self, tr) -> dict:
        """One untraced pass (this session's first, which starts the Python
        workers), then one pass under the spans ``terrain/sun`` and
        ``terrain/to_vect``."""
        first = self.run_pass()
        with tr.patched(terrain, ["sun_tiles"]), tr.patched(vectorize, ["to_vect"]):
            with tr.span("terrain"):
                with tr.span("sun"):
                    sun = self._sun()
                with tr.span("to_vect"):
                    rings = vectorize.to_vect(self.dem, threshold=DEM_THRESHOLD)
        return {"sun_obs": sun, "rings": self._ring_sums(rings), "first": first}

    def layer_metrics(self, tr, log, p) -> dict:
        cc = log.stage_skews("terrain/to_vect", scope="FlatMapGroupsInPandas")
        return {
            "terrain.sun_s": tr.total("sun"),
            "terrain.sun_mpx_per_s": self.dem_px / 1e6 / tr.total("sun"),
            "terrain.sun_shuffle_mb": log.summary("terrain/sun")["shuffle_write_mb"],
            "terrain.sun_task_skew": log.busiest_stage_skew("terrain/sun"),
            "vectorize.to_vect_s": tr.total("to_vect"),
            "vectorize.to_vect_mpx_per_s": self.dem_px / 1e6 / tr.total("to_vect"),
            "regions.cc_task_skew": cc[0][1] if cc else 0.0,
            "vectorize.rings": p["rings"]["rings"],
        }


WORKLOADS = {w.name: w for w in (RasterLst, EnrichPoints)}
