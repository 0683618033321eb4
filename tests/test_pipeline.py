"""End-to-end pipeline parity (SURVEY.md §5.2 items 3-4): synthetic scene
table -> Spark engine -> pixel rows, checked against the scalar oracle and
the per-row invariants (caption equality, phash, PSNR)."""

import math

import numpy as np
import pandas as pd
import pytest

import oracle_ref as oracle
from i_landsat8_swlst_spark import codecs, constants as C, pipeline, synth

WINDOW = 5


@pytest.fixture(scope="module")
def tiny(spark):
    scenes = spark.createDataFrame(synth.scenes_pdf("tiny"))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    return scenes, meta, emis


def test_scenes_schema_matches_baseline_contract(tiny):
    scenes, _, _ = tiny
    assert [ (f.name, f.dataType.simpleString()) for f in scenes.schema ] == [
        ("image_id", "string"), ("bytes", "binary"), ("w", "int"), ("h", "int"),
        ("fmt", "string"), ("caption", "string"), ("phash", "bigint"),
    ]


def test_caption_roundtrip_and_phash(tiny):
    scenes, _, _ = tiny
    rows = scenes.limit(24).collect()
    for r in rows:
        sid, band, tx, ty = synth.parse_image_id(r.image_id)
        # caption must round-trip exactly (BASELINE.json:15)
        assert f"scene={sid} band={band} tile=({tx},{ty})" in r.caption
        dec = codecs.decode_tile(r.bytes, r.w, r.h, r.fmt)
        assert codecs.phash64(dec) == r.phash


def test_lossy_rows_meet_psnr_gate(tiny):
    scenes, _, _ = tiny
    lossy = scenes.filter("fmt = 'u16dct'").limit(8).collect()
    assert lossy, "fixture should contain lossy tiles"
    for r in lossy:
        sid, band, tx, ty = synth.parse_image_id(r.image_id)
        t = synth.gen_tile(sid, tx, ty, r.w, r.h)
        truth = t["dn10"] if band == 10 else t["dn11"]
        dec = codecs.decode_tile(r.bytes, r.w, r.h, r.fmt)
        assert codecs.psnr(truth, dec) >= 40.0


def test_pair_bands_pairs_every_tile(tiny):
    scenes, _, _ = tiny
    parsed = pipeline.parse_scenes(scenes)
    paired = pipeline.pair_bands(parsed)
    assert paired.count() == scenes.count() / 2


PAIR_COLS = ["scene_id", "tile_x", "tile_y", "image_id_b10", "bytes_b10", "fmt_b10",
             "w", "h", "caption_b10", "landcover", "image_id_b11", "bytes_b11",
             "fmt_b11", "caption_b11"]


def _pair_input(spark):
    """Parsed tile rows with every pairing case: duplicate band-11 and QA
    rows, band-10/11/QA rows without a partner, a tile key repeated across
    scenes, a band the pair ignores and a NULL stored key."""
    from pyspark.sql.types import (
        BinaryType, IntegerType, StringType, StructField, StructType)

    schema = StructType([StructField(n, t) for n, t in (
        ("image_id", StringType()), ("bytes", BinaryType()), ("w", IntegerType()),
        ("h", IntegerType()), ("fmt", StringType()), ("caption", StringType()),
        ("scene_id", StringType()), ("band", IntegerType()), ("tile_x", IntegerType()),
        ("tile_y", IntegerType()), ("landcover", StringType()))])
    rows = []

    def add(sid, band, tx, ty, tag):
        iid = f"{sid}/B{band}/{tx}_{ty}/{tag}"
        rows.append((iid, iid.encode(), 4, 3, f"f{band}{tag}", f"cap {iid}",
                     sid, band, tx, ty, f"lc{tag}"))

    for tag in "a":                  # one b10 x two b11, no QA
        add("S1", 10, 0, 0, tag)
    for tag in "ab":
        add("S1", 11, 0, 0, tag)
    for tag in "ab":                 # two b10 x one b11 x two QA
        add("S1", 10, 0, 1, tag)
    add("S1", 11, 0, 1, "a")
    for tag in "ab":
        add("S1", 0, 0, 1, tag)
    add("S1", 10, 1, 0, "a")         # b10 only (and a QA row): dropped
    add("S1", 0, 1, 0, "a")
    add("S1", 11, 1, 1, "a")         # b11 only: dropped
    add("S1", 0, 2, 2, "a")          # QA only: dropped
    add("S2", 10, 0, 0, "a")         # same tile_x/tile_y, other scene
    add("S2", 11, 0, 0, "a")
    add("S2", 0, 0, 0, "a")
    add("S2", 4, 0, 0, "a")          # a band the pair never reads
    add("S2", 10, None, 1, "a")      # NULL key never pairs
    add("S2", 11, None, 1, "a")
    return spark.createDataFrame(rows, schema), rows


def _expected_pairs(rows, with_qa):
    key = lambda r: (r[6], r[8], r[9])                                  # noqa: E731
    by = {b: [r for r in rows if r[7] == b and None not in key(r)] for b in (10, 11, 0)}
    out = []
    for a in by[10]:
        for b in (b for b in by[11] if key(b) == key(a)):
            row = (*key(a), a[0], a[1], a[4], a[2], a[3], a[5], a[10], b[0], b[1], b[4], b[5])
            if with_qa:
                qas = [q[1] for q in by[0] if key(q) == key(a)] or [None]
                out.extend((*row, q) for q in qas)
            else:
                out.append(row)
    return sorted(out, key=repr)


@pytest.mark.parametrize("with_qa", [False, True])
def test_pair_bands_keeps_join_semantics(spark, with_qa):
    """The band pair is an inner join of band 10 to band 11 on the tile key
    (duplicates give the cross product, unmatched rows are dropped), then a
    left join of QA: a tile without a QA row gets a NULL ``bytes_qa`` and
    every QA row of a tile gives its own output row."""
    parsed, rows = _pair_input(spark)
    paired = pipeline.pair_bands(parsed, with_qa=with_qa)
    assert paired.columns == PAIR_COLS + (["bytes_qa"] if with_qa else [])
    got = sorted((tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
                        for v in r) for r in paired.collect()), key=repr)
    want = _expected_pairs(rows, with_qa)
    assert got == want
    assert len(want) == (7 if with_qa else 5)
    if with_qa:
        assert sum(r[-1] is None for r in got) == 2      # tile S1 (0,0) has no QA row


def test_pixels_match_scalar_oracle(tiny, spark):
    scenes, meta, emis = tiny
    enriched = pipeline.build_enriched_with_grid(scenes, meta, emis)
    pixels = pipeline.lst_pixels(enriched, window=WINDOW)
    one = pixels.filter(
        "scene_id = 'LC08_00000' and tile_x = 1 and tile_y = 2"
    ).toPandas().set_index(["py", "px"]).sort_index()
    assert len(one) > 0

    # recompute ground truth for that tile from the same deterministic synth
    t = synth.gen_tile("LC08_00000", 1, 2, 32, 32)
    lossy = synth.stable_hash("LC08_00000", 1, 2, "fmt") % 4 == 0
    fmt = codecs.FMT_DCT if lossy else codecs.FMT_RAW
    dn10 = codecs.decode_tile(codecs.encode_tile(t["dn10"], fmt), 32, 32, fmt)
    dn11 = codecs.decode_tile(codecs.encode_tile(t["dn11"], fmt), 32, 32, fmt)
    e = C.emissivities_by_class()[t["landcover"]]
    bt10 = np.array([[oracle.brightness_temperature(dn10[y, x], C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B10, C.K2_B10) for x in range(32)] for y in range(32)])
    bt11 = np.array([[oracle.brightness_temperature(dn11[y, x], C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B11, C.K2_B11) for x in range(32)] for y in range(32)])
    cwv = np.array(oracle.cwv_grid(bt10.tolist(), bt11.tolist(), WINDOW))

    checked = 0
    for (py, px), row in one.iterrows():
        exp = oracle.compute_lst(bt10[py, px], bt11[py, px], cwv[py, px],
                                 e.emissivity_b10, e.emissivity_b11)
        assert not math.isnan(exp), "valid_only output must only hold valid LST"
        assert row.lst_k == pytest.approx(exp, rel=1e-7)
        assert row.bt10 == pytest.approx(bt10[py, px], rel=1e-9)
        assert row.cwv == pytest.approx(cwv[py, px], rel=1e-7)
        assert row.lst_c == pytest.approx(exp - 273.15, rel=1e-7)
        assert row.subrange == oracle.select_subrange(cwv[py, px])
        checked += 1
    assert checked > 50
    # NULL-edge semantics: no pixel with a window hanging off the tile
    r = WINDOW // 2
    pys = one.index.get_level_values(0)
    pxs = one.index.get_level_values(1)
    assert pys.min() >= r and pxs.min() >= r and pys.max() < 32 - r and pxs.max() < 32 - r


def test_tiles_stats_consistent_with_pixels(tiny):
    scenes, meta, emis = tiny
    enriched = pipeline.build_enriched(scenes, meta, emis)
    tiles = pipeline.lst_tiles(enriched, window=WINDOW)
    row = tiles.filter("scene_id = 'LC08_00001' and tile_x = 0 and tile_y = 0").collect()[0]
    lst = np.frombuffer(row.lst_bytes, dtype="<f4").reshape(row.h, row.w)
    assert row.n_valid == int(np.isfinite(lst).sum())
    if row.n_valid:
        assert row.lst_mean == pytest.approx(float(np.nanmean(lst)), rel=1e-6)
    assert "band=10" in row.caption


def test_rasterize_roundtrip(tiny):
    scenes, meta, emis = tiny
    enriched = pipeline.build_enriched_with_grid(scenes, meta, emis)
    pixels = pipeline.lst_pixels(enriched, window=WINDOW)
    rast = pipeline.rasterize_pixels(pixels, w=32, h=32)
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis), window=WINDOW)
    a = {(r.scene_id, r.tile_x, r.tile_y): r for r in rast.collect()}
    b = {(r.scene_id, r.tile_x, r.tile_y): r for r in tiles.filter("n_valid > 0").collect()}
    assert set(a) == set(b)
    for k in list(a)[:6]:
        ra = np.frombuffer(a[k].raster_bytes, dtype="<f4").reshape(32, 32)
        rb = np.frombuffer(b[k].lst_bytes, dtype="<f4").reshape(32, 32)
        both = np.isfinite(ra) & np.isfinite(rb)
        assert both.sum() == a[k].n_valid == b[k].n_valid
        np.testing.assert_allclose(ra[both], rb[both], rtol=1e-6)


def test_rasterize_pixels_null_value_is_nan(spark):
    """A NULL value scatters as a NaN cell at its own (px, py): the cells
    after it keep their places."""
    pixels = spark.createDataFrame(
        [("I", "S", 0, 0, 0, 1, 300.0), ("I", "S", 0, 0, 1, 0, None),
         ("I", "S", 0, 0, 2, 1, 301.5)],
        "image_id string, scene_id string, tile_x int, tile_y int, "
        "px int, py int, lst_k double")
    (row,) = pipeline.rasterize_pixels(pixels, w=3, h=2).collect()
    grid = np.frombuffer(row.raster_bytes, dtype="<f4").reshape(2, 3)
    np.testing.assert_array_equal(
        grid, [[np.nan, np.nan, np.nan], [300.0, np.nan, 301.5]])
    assert (row.image_id, row.n_valid) == ("I", 2)


def test_composite_pixels_matches_pandas_median(spark):
    """Temporal composite: per-pixel median/count/min/max across 3 revisits
    == a pandas groupby over the SAME lst_pixels rows (tests the compositing
    algebra; the kernel itself has its own scalar-oracle parity)."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=3))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=3))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    got = (pipeline.composite_pixels(pixels)
           .toPandas().set_index(["tile_x", "tile_y", "px", "py"]).sort_index())
    raw = pixels.select("tile_x", "tile_y", "px", "py", "lst_k").toPandas()
    exp = (raw.groupby(["tile_x", "tile_y", "px", "py"])["lst_k"]
           .agg(n_obs="count", lst_median="median", lst_lo="min", lst_hi="max")
           .sort_index())
    assert len(got) == len(exp) > 0
    assert (got["n_obs"] == exp["n_obs"]).all()
    # pixels observed on all 3 dates must exist (grids align)
    assert (exp["n_obs"] == 3).any()
    for c in ("lst_median", "lst_lo", "lst_hi"):
        np.testing.assert_allclose(got[c].to_numpy(), exp[c].to_numpy(), rtol=1e-12)


def test_mosaic_pixels_matches_pandas_argmin(spark):
    """Priority mosaic: per-pixel lowest-CWV observation (tie-break
    scene_id) == a pandas sort+first over the SAME lst_pixels rows, and
    the chosen value always comes from the claimed source scene."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=3))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=3))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    keys = ["tile_x", "tile_y", "px", "py"]
    got = (pipeline.mosaic_pixels(pixels, keys=tuple(keys))
           .toPandas().set_index(keys).sort_index())
    raw = pixels.select(*keys, "scene_id", "cwv", "lst_k").toPandas()
    first = (raw.sort_values(keys + ["cwv", "scene_id"])
             .groupby(keys).first())
    counts = raw.groupby(keys)["lst_k"].count()
    assert len(got) == len(first) > 0
    assert (got["n_obs"] == counts).all()
    assert (got["src_scene"] == first["scene_id"]).all()
    np.testing.assert_allclose(got["lst_mosaic"].to_numpy(),
                               first["lst_k"].to_numpy(), rtol=0)
    np.testing.assert_allclose(got["src_priority"].to_numpy(),
                               first["cwv"].to_numpy(), rtol=0)


def test_bt_direct_input_path(spark):
    """The reference's t10=/t11= option: tiles whose pixels ARE brightness
    temperatures (fmt=f32bt) skip C2+C3 and match the direct kernel exactly;
    vs the DN path the difference is bounded by DN quantization."""
    import numpy as np
    import pandas as pd

    from i_landsat8_swlst_spark import codecs, constants as C, kernels as K, pipeline, synth

    sid, w, h = "LC08_00000", 32, 32
    rows = []
    bts = {}
    for tx in range(2):
        t = synth.gen_tile(sid, tx, 0, w, h)
        meta = dict(ml_b10=C.ML_DEFAULT, al_b10=C.AL_DEFAULT, ml_b11=C.ML_DEFAULT,
                    al_b11=C.AL_DEFAULT, k1_b10=C.K1_B10, k2_b10=C.K2_B10,
                    k1_b11=C.K1_B11, k2_b11=C.K2_B11)
        bt10 = K.dn_to_bt(t["dn10"], C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B10, C.K2_B10)
        bt11 = K.dn_to_bt(t["dn11"], C.ML_DEFAULT, C.AL_DEFAULT, C.K1_B11, C.K2_B11)
        bts[tx] = (bt10, bt11, meta)
        for band, bt in ((10, bt10), (11, bt11)):
            rows.append({
                "image_id": synth.image_id(sid, band, tx, 0),
                "bytes": codecs.encode_f32bt(bt),
                "w": np.int32(w), "h": np.int32(h), "fmt": codecs.FMT_BT,
                "caption": synth.caption_for(sid, band, tx, 0, "2024-01-01", "Forest"),
                "phash": np.int64(0),
            })
    scenes = spark.createDataFrame(pd.DataFrame(rows))
    meta_df = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    tiles = (pipeline.lst_tiles(pipeline.build_enriched(scenes, meta_df, emis), window=5)
             .orderBy("tile_x").toPandas())
    assert len(tiles) == 2
    for tx in range(2):
        bt10, bt11, meta = bts[tx]
        # the stored tiles are float32-rounded BT: the exact oracle is the
        # kernel on the SAME f32-rounded values with bt_input=True
        f10 = bt10.astype("<f4").astype(np.float64)
        f11 = bt11.astype("<f4").astype(np.float64)
        e = next(x for x in C.load_emissivities() if x.landcover_class == "Forest")
        ref = K.fused_lst_kernel(f10, f11, meta, e.emissivity_b10, e.emissivity_b11,
                                 window=5, bt_input=True)
        lst = ref["lst_k"]
        got = tiles[tiles.tile_x == tx].iloc[0]
        finite = lst[np.isfinite(lst)]
        assert got["n_valid"] == finite.size
        np.testing.assert_allclose(got["lst_mean"], finite.mean(), rtol=0, atol=1e-9)


def test_composite_two_footprints_never_merge(spark):
    """ADVICE r2: same-index pixels from two DIFFERENT footprints must land
    in separate composite groups (lon/lat are part of the default key), not
    silently merge into one composite."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C, pipeline, synth

    scenes = spark.createDataFrame(pd.concat(
        [synth.revisit_scenes_pdf("tiny", scene=s, n_dates=2) for s in (0, 1)],
        ignore_index=True))
    meta = spark.createDataFrame(pd.concat(
        [synth.revisit_meta_pdf("tiny", scene=s, n_dates=2) for s in (0, 1)],
        ignore_index=True))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=5)
    comp = pipeline.composite_pixels(pixels).toPandas()
    # no group can span footprints: max multiplicity == dates per footprint
    assert comp["n_obs"].max() <= 2
    # both footprints contribute, and their centroid sets are disjoint
    per = pixels.select("scene_id", "lon", "lat").toPandas()
    s0 = set(map(tuple, per[per.scene_id.str.startswith("LC08_00000")][["lon", "lat"]].to_numpy()))
    s1 = set(map(tuple, per[per.scene_id.str.startswith("LC08_00001")][["lon", "lat"]].to_numpy()))
    assert s0 and s1 and not (s0 & s1)
    assert len(comp) == len(s0) + len(s1)


def test_focal_stats_tiles_matches_kernel(tiny):
    from i_landsat8_swlst_spark import kernels as K

    scenes, meta, emis = tiny
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=WINDOW)
    focal = pipeline.focal_stats_tiles(tiles, window=5).filter(
        "scene_id = 'LC08_00001'").toPandas()
    src = tiles.filter("scene_id = 'LC08_00001'").select(
        "tile_x", "tile_y", "w", "h", "lst_bytes").toPandas()
    assert len(focal) == len(src) > 0
    merged = focal.merge(src, on=["tile_x", "tile_y", "w", "h"], validate="1:1")
    for _, row in merged.iterrows():
        plane = np.frombuffer(row.lst_bytes, dtype="<f4").reshape(row.h, row.w)
        exp = K.focal_stats(plane.astype(np.float64), window=5)
        for name in ("mean", "std", "min", "max"):
            got = np.frombuffer(row[f"{name}_bytes"], dtype="<f4").reshape(row.h, row.w)
            np.testing.assert_array_equal(got, exp[name].astype(np.float32))
        assert row.n_valid == int((exp["count"] > 0).sum())


def test_trend_pixels_matches_numpy_lstsq(spark):
    scenes = spark.createDataFrame(synth.revisit_scenes_pdf("tiny", scene=0, n_dates=4))
    meta = spark.createDataFrame(synth.revisit_meta_pdf("tiny", scene=0, n_dates=4))
    emis = spark.createDataFrame(pd.DataFrame([e._asdict() for e in C.load_emissivities()]))
    pixels = pipeline.lst_pixels(
        pipeline.build_enriched_with_grid(scenes, meta, emis), window=WINDOW)
    got = pipeline.trend_pixels(pixels).toPandas()
    src = pixels.toPandas()
    src["t"] = src["scene_id"].str.extract(r"R(\d+)$").astype(float)

    assert (got.n_obs >= 2).any()
    sample = got.sample(n=min(150, len(got)), random_state=7)
    for r in sample.itertuples():
        obs = src[(src.tile_x == r.tile_x) & (src.tile_y == r.tile_y)
                  & (src.px == r.px) & (src.py == r.py)]
        assert len(obs) == r.n_obs
        if r.n_obs >= 2 and obs.t.nunique() > 1:
            m, b = np.polyfit(obs.t.to_numpy(), obs.lst_k.to_numpy(), 1)
            assert r.slope == pytest.approx(m, rel=1e-8)
            assert r.intercept == pytest.approx(b, rel=1e-8)
        else:
            assert r.slope is None or np.isnan(r.slope)


def test_gradient_tiles_matches_kernel(tiny):
    from i_landsat8_swlst_spark import kernels as K

    scenes, meta, emis = tiny
    tiles = pipeline.lst_tiles(pipeline.build_enriched(scenes, meta, emis),
                               window=WINDOW)
    grad = pipeline.gradient_tiles(tiles, cell=2.0).filter(
        "scene_id = 'LC08_00000'").toPandas()
    src = tiles.filter("scene_id = 'LC08_00000'").select(
        "tile_x", "tile_y", "w", "h", "lst_bytes").toPandas()
    assert len(grad) == len(src) > 0
    merged = grad.merge(src, on=["tile_x", "tile_y", "w", "h"], validate="1:1")
    for _, row in merged.iterrows():
        plane = np.frombuffer(row.lst_bytes, dtype="<f4").reshape(row.h, row.w)
        exp = K.slope_aspect(plane.astype(np.float64), cell=2.0)
        for name, col in (("slope_deg", "slope_bytes"),
                          ("aspect_deg", "aspect_bytes"),
                          ("hillshade", "hillshade_bytes")):
            got = np.frombuffer(row[col], dtype="<f4").reshape(row.h, row.w)
            np.testing.assert_array_equal(got, exp[name].astype(np.float32))
        assert row.n_valid == int(np.isfinite(exp["slope_deg"]).sum())


def _plane_tiles_df(spark, planes: dict, tw: int, th: int):
    rows = []
    for sid, plane in planes.items():
        nty, ntx = plane.shape[0] // th, plane.shape[1] // tw
        for ty in range(nty):
            for tx in range(ntx):
                t = plane[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
                rows.append({"image_id": f"{sid}/{tx}_{ty}", "scene_id": sid,
                             "tile_x": tx, "tile_y": ty, "w": tw, "h": th,
                             "lst_bytes": np.ascontiguousarray(t).astype("<f4").tobytes()})
    return spark.createDataFrame(pd.DataFrame(rows))


@pytest.mark.parametrize("op", [
    lambda t: pipeline.focal_stats_tiles(t, window=3),
    lambda t: pipeline.gradient_tiles(t),
    lambda t: pipeline.convolve_tiles(t, np.ones((3, 3)), halo=False),
    lambda t: pipeline.grow_tiles(t, radius=1.5, halo=False),
    lambda t: pipeline.fillnulls_tiles(t, radius=1.5, halo=False),
], ids=["focal", "gradient", "convolve", "grow", "fillnulls"])
def test_tile_local_ops_emit_null_image_id_without_the_column(spark, op):
    """Tile tables without an image_id column (cost-distance or flow-accum
    output, a bare terrain raster) go through every tile-local plane
    operator; the output image_id is NULL, as with halo=True."""
    plane = np.arange(48, dtype=np.float64).reshape(6, 8)
    plane[2, 3] = np.nan
    tiles = _plane_tiles_df(spark, {"S": plane}, 4, 3).drop("image_id")
    rows = op(tiles).collect()
    assert len(rows) == 4
    assert [r.image_id for r in rows] == [None] * 4


def test_halo_focal_and_gradient_equal_whole_scene(spark):
    """halo=True must make the tile-decomposed operators EXACTLY equal to
    running the kernel once on the assembled scene plane — interior tile
    borders included (the tile-local NaN ring is gone)."""
    from i_landsat8_swlst_spark import kernels as K

    rng = np.random.default_rng(93)
    planes = {}
    for s in range(2):
        p = rng.uniform(250.0, 330.0, (64, 96)).astype(np.float32)
        p[rng.random(p.shape) < 0.05] = np.nan
        planes[f"S{s}"] = p
    tiles = _plane_tiles_df(spark, planes, tw=32, th=32)

    focal = pipeline.focal_stats_tiles(tiles, window=5, halo=True).toPandas()
    grad = pipeline.gradient_tiles(tiles, cell=1.0, halo=True).toPandas()
    assert len(focal) == len(grad) == 2 * 2 * 3

    for sid, plane in planes.items():
        fexp = K.focal_stats(plane, window=5)
        gexp = K.slope_aspect(plane.astype(np.float64), cell=1.0)
        for r in focal[focal.scene_id == sid].itertuples():
            sl = (slice(r.tile_y * 32, (r.tile_y + 1) * 32),
                  slice(r.tile_x * 32, (r.tile_x + 1) * 32))
            for name, col in (("mean", "mean_bytes"), ("std", "std_bytes"),
                              ("min", "min_bytes"), ("max", "max_bytes")):
                got = np.frombuffer(getattr(r, col), dtype="<f4").reshape(32, 32)
                np.testing.assert_array_equal(got, fexp[name][sl].astype(np.float32),
                                              err_msg=f"focal {name} {sid} {r.tile_x},{r.tile_y}")
        for r in grad[grad.scene_id == sid].itertuples():
            sl = (slice(r.tile_y * 32, (r.tile_y + 1) * 32),
                  slice(r.tile_x * 32, (r.tile_x + 1) * 32))
            for name, col in (("slope_deg", "slope_bytes"),
                              ("aspect_deg", "aspect_bytes"),
                              ("hillshade", "hillshade_bytes")):
                got = np.frombuffer(getattr(r, col), dtype="<f4").reshape(32, 32)
                np.testing.assert_array_equal(got, gexp[name][sl].astype(np.float32),
                                              err_msg=f"grad {name} {sid} {r.tile_x},{r.tile_y}")
    # the interior tile borders are actually exercised: gradient at an
    # interior border pixel is finite with halo (it was NaN tile-locally)
    g0 = grad[(grad.scene_id == "S0")].sort_values(["tile_y", "tile_x"])
    border_col = np.frombuffer(g0.iloc[0].slope_bytes, dtype="<f4").reshape(32, 32)[:, -1]
    # tile-locally this whole column is NaN; with 5% holes the 3x3 poison
    # rule still leaves a sizable finite fraction
    assert np.isfinite(border_col).sum() > 5


def test_mosaic_pixels_null_priority_loses(spark):
    """Regression (ADVICE r4): a SQL NULL priority must lose like NaN does
    — a bare NULL sorts FIRST in the struct min, which would make the
    degraded observation beat every valid one."""
    import pandas as pd

    from pyspark.sql import functions as F

    from i_landsat8_swlst_spark import pipeline

    rows = pd.DataFrame([
        # same pixel, three observations: NULL-priority, NaN-priority, valid
        {"tile_x": 0, "tile_y": 0, "px": 1, "py": 2, "lon": 0.0, "lat": 0.0,
         "scene_id": "A", "qual": None, "lst_k": 111.0},
        {"tile_x": 0, "tile_y": 0, "px": 1, "py": 2, "lon": 0.0, "lat": 0.0,
         "scene_id": "B", "qual": float("nan"), "lst_k": 222.0},
        {"tile_x": 0, "tile_y": 0, "px": 1, "py": 2, "lon": 0.0, "lat": 0.0,
         "scene_id": "C", "qual": 5.0, "lst_k": 333.0},
    ])
    pixels = spark.createDataFrame(rows)
    got = pipeline.mosaic_pixels(pixels, priority=F.col("qual")).collect()
    assert len(got) == 1
    assert got[0].src_scene == "C" and got[0].lst_mosaic == 333.0
    assert got[0].n_obs == 3


def test_convolve_tiles_halo_equals_whole_scene(spark):
    """convolve_tiles(halo=True) must equal one whole-scene
    kernels.convolve_plane run, tile for tile, interior borders included;
    halo=False must equal the tile-local run (NULL ring at borders)."""
    from i_landsat8_swlst_spark import kernels as K

    rng = np.random.default_rng(97)
    plane = rng.uniform(250.0, 330.0, (64, 96)).astype(np.float32)
    plane[rng.random(plane.shape) < 0.05] = np.nan
    tiles = _plane_tiles_df(spark, {"S0": plane}, tw=32, th=32)
    sharpen = np.array([[0., -1, 0], [-1, 5, -1], [0, -1, 0]])

    got = pipeline.convolve_tiles(tiles, sharpen, divisor=0.0).toPandas()
    exp = K.convolve_plane(plane.astype(np.float64), sharpen, 0.0)
    for r in got.itertuples():
        sl = (slice(r.tile_y * 32, (r.tile_y + 1) * 32),
              slice(r.tile_x * 32, (r.tile_x + 1) * 32))
        p = np.frombuffer(r.conv_bytes, dtype="<f4").reshape(32, 32)
        np.testing.assert_array_equal(p, exp[sl].astype(np.float32),
                                      err_msg=f"{r.tile_x},{r.tile_y}")

    local = pipeline.convolve_tiles(tiles, sharpen, divisor=0.0,
                                    halo=False).toPandas()
    for r in local.itertuples():
        sl = (slice(r.tile_y * 32, (r.tile_y + 1) * 32),
              slice(r.tile_x * 32, (r.tile_x + 1) * 32))
        sub = plane[sl].astype(np.float64)
        p = np.frombuffer(r.conv_bytes, dtype="<f4").reshape(32, 32)
        np.testing.assert_array_equal(
            p, K.convolve_plane(sub, sharpen, 0.0).astype(np.float32))
    with pytest.raises(ValueError, match="square"):
        pipeline.convolve_tiles(tiles, np.ones((1, 3)))


def test_grow_tiles_halo_equals_whole_scene(spark):
    """grow_tiles(halo=True) must equal one whole-scene kernels.grow_plane
    run, tile for tile — growth crosses interior tile borders."""
    from i_landsat8_swlst_spark import kernels as K

    rng = np.random.default_rng(101)
    plane = rng.uniform(250.0, 330.0, (64, 96)).astype(np.float32)
    plane[rng.random(plane.shape) < 0.5] = np.nan
    plane[:, 31:34] = np.nan  # hole straddling the tile border
    tiles = _plane_tiles_df(spark, {"S0": plane}, tw=32, th=32)
    got = pipeline.grow_tiles(tiles, radius=2.5).toPandas()
    exp = K.grow_plane(plane.astype(np.float64), 2.5).astype(np.float32)
    grown_total = 0
    for r in got.itertuples():
        sl = (slice(r.tile_y * 32, (r.tile_y + 1) * 32),
              slice(r.tile_x * 32, (r.tile_x + 1) * 32))
        p = np.frombuffer(r.grown_bytes, dtype="<f4").reshape(32, 32)
        np.testing.assert_array_equal(p, exp[sl], err_msg=f"{r.tile_x},{r.tile_y}")
        grown_total += r.n_grown
    assert grown_total == int(np.isfinite(exp).sum()
                              - np.isfinite(plane).sum())


def test_fillnulls_tiles_halo_equals_whole_scene(spark):
    from i_landsat8_swlst_spark import kernels as K

    rng = np.random.default_rng(103)
    plane = rng.uniform(250.0, 330.0, (64, 96)).astype(np.float32)
    plane[rng.random(plane.shape) < 0.3] = np.nan
    plane[30:34, 30:34] = np.nan  # hole straddling the tile border
    tiles = _plane_tiles_df(spark, {"S0": plane}, tw=32, th=32)
    got = pipeline.fillnulls_tiles(tiles, radius=2.5).toPandas()
    exp = K.fillnulls_plane(plane.astype(np.float64), 2.5).astype(np.float32)
    for r in got.itertuples():
        sl = (slice(r.tile_y * 32, (r.tile_y + 1) * 32),
              slice(r.tile_x * 32, (r.tile_x + 1) * 32))
        p = np.frombuffer(r.grown_bytes, dtype="<f4").reshape(32, 32)
        np.testing.assert_array_equal(p, exp[sl], err_msg=f"{r.tile_x},{r.tile_y}")


# ---- lst_tiles_pixel_emissivity (per-pixel C5 source) ----------------------

def test_pixel_emissivity_constant_planes_bit_identical_to_scalar(spark):
    """lst_from_bt documents its folded scalar path as IEEE-op-order
    identical to the array path; feeding CONSTANT emissivity planes must
    therefore reproduce lst_tiles byte-for-byte."""
    import pandas as pd
    from pyspark.sql import functions as F

    from i_landsat8_swlst_spark import constants as C_, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny", scenes=[0]))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C_.load_emissivities()]))
    enriched = pipeline.build_enriched(scenes, meta, emis)
    # dyadic emissivities (exact in f32) so the f32 plane encoding is
    # lossless and the scalar-vs-array comparison isolates op order
    enriched = enriched.withColumn(
        "emissivity_b10", F.lit(0.96875)).withColumn(
        "emissivity_b11", F.lit(0.953125))
    base = pipeline.lst_tiles(enriched, window=5).collect()
    epairs = {(r.scene_id, r.tile_x, r.tile_y) for r in base}
    # constant planes carrying each tile's scalar (e10, e11)
    epdf = enriched.select("scene_id", "tile_x", "tile_y", "w", "h",
                           "emissivity_b10", "emissivity_b11").toPandas()
    erows = []
    for r in epdf.itertuples():
        e10 = np.full((int(r.h), int(r.w)), r.emissivity_b10,
                      dtype="<f4").tobytes()
        e11 = np.full((int(r.h), int(r.w)), r.emissivity_b11,
                      dtype="<f4").tobytes()
        erows.append({"scene_id": r.scene_id, "tile_x": r.tile_x,
                      "tile_y": r.tile_y, "e10_bytes": e10,
                      "e11_bytes": e11})
    etiles = spark.createDataFrame(pd.DataFrame(erows))
    got = pipeline.lst_tiles_pixel_emissivity(
        enriched, etiles, window=5, e10_col="e10_bytes",
        e11_col="e11_bytes").collect()
    a = {(r.scene_id, r.tile_x, r.tile_y):
         (r.lst_bytes, r.cwv_bytes, r.n_valid) for r in base}
    b = {(r.scene_id, r.tile_x, r.tile_y):
         (r.lst_bytes, r.cwv_bytes, r.n_valid) for r in got}
    assert a == b and set(a) == epairs and len(a) > 0


def test_pixel_emissivity_varying_plane_and_missing_tile(spark):
    """A spatially-varying emissivity plane changes LST per-pixel exactly
    as the direct kernel call says; a missing emissivity tile refuses
    (NaN LST, n_valid 0) rather than approximating."""
    import pandas as pd

    from i_landsat8_swlst_spark import constants as C_, kernels as K_, synth

    scenes = spark.createDataFrame(synth.scenes_pdf("tiny", scenes=[0]))
    meta = spark.createDataFrame(synth.scene_meta_pdf("tiny"))
    emis = spark.createDataFrame(
        pd.DataFrame([e._asdict() for e in C_.load_emissivities()]))
    enriched = pipeline.build_enriched(scenes, meta, emis)
    rows = enriched.collect()
    rng = np.random.default_rng(83)
    erows, skip = [], None
    for r in rows:
        if skip is None:
            skip = (r.scene_id, r.tile_x, r.tile_y)   # drop one tile
            continue
        ep = rng.uniform(0.95, 0.995, (r.h, r.w)).astype("<f4")
        ep[0, 0] = np.nan                              # NaN pixel poisons
        erows.append({"scene_id": r.scene_id, "tile_x": r.tile_x,
                      "tile_y": r.tile_y, "emis_bytes": ep.tobytes()})
    etiles = spark.createDataFrame(pd.DataFrame(erows))
    got = {(r.scene_id, r.tile_x, r.tile_y): r
           for r in pipeline.lst_tiles_pixel_emissivity(
               enriched, etiles, window=5).collect()}
    assert set(got) == {(r.scene_id, r.tile_x, r.tile_y) for r in rows}
    emap = {(e["scene_id"], e["tile_x"], e["tile_y"]): e["emis_bytes"]
            for e in erows}
    from i_landsat8_swlst_spark import codecs as cod

    for r in rows:
        key = (r.scene_id, r.tile_x, r.tile_y)
        out = got[key]
        if key == skip:
            assert out.n_valid == 0
            assert np.isnan(np.frombuffer(out.lst_bytes, "<f4")).all()
            continue
        w, h = int(r.w), int(r.h)
        ep = cod.decode_f32bt(emap[key], w, h)
        kr = K_.fused_lst_kernel(
            cod.decode_tile_dn(r.bytes_b10, w, h, r.fmt_b10),
            cod.decode_tile_dn(r.bytes_b11, w, h, r.fmt_b11),
            {k: float(getattr(r, k)) for k in pipeline.META_COLS},
            e10=ep, e11=ep, window=5, bt_input=r.fmt_b10 == cod.FMT_BT)
        want = kr["lst_k"].astype("<f4")
        gotp = np.frombuffer(out.lst_bytes, "<f4").reshape(h, w)
        assert np.array_equal(np.isnan(gotp), np.isnan(want))
        m = np.isfinite(want)
        assert np.array_equal(gotp[m], want[m])
        assert np.isnan(gotp[0, 0])                   # NaN emissivity pixel


def test_fillnulls_spline_tiles_match_whole_scene(spark):
    """Tiled spline fill (halo = floor(radius) + sweeps) equals one
    whole-scene kernels.fillnulls_plane pass bit-for-bit, including a
    hole straddling the tile border."""
    from i_landsat8_swlst_spark import kernels

    rng = np.random.default_rng(93)
    plane = rng.uniform(280.0, 320.0, (20, 24)).astype(np.float32) \
        .astype(np.float64)
    plane[8:13, 10:15] = np.nan          # straddles the 2x2 tile cross
    want = kernels.fillnulls_plane(plane, radius=2.0, method="spline",
                                   sweeps=4).astype("<f4")
    rows = []
    for ty in range(2):
        for tx in range(2):
            t = plane[ty * 10:(ty + 1) * 10, tx * 12:(tx + 1) * 12]
            rows.append({"image_id": f"t{tx}{ty}", "scene_id": "S0",
                         "tile_x": tx, "tile_y": ty, "w": 12, "h": 10,
                         "lst_bytes": t.astype("<f4").tobytes()})
    tiles = spark.createDataFrame(pd.DataFrame(rows))
    got = np.full((20, 24), np.nan, dtype=np.float32)
    n_filled = 0
    for r in pipeline.fillnulls_tiles(tiles, radius=2.0, method="spline",
                                      sweeps=4).collect():
        t = np.frombuffer(r.grown_bytes, "<f4").reshape(r.h, r.w)
        got[r.tile_y * 10:(r.tile_y + 1) * 10,
            r.tile_x * 12:(r.tile_x + 1) * 12] = t
        n_filled += r.n_grown
    assert np.array_equal(np.isnan(got), np.isnan(want))
    m = np.isfinite(want)
    assert np.array_equal(got[m], want[m])
    assert n_filled == int(np.isnan(plane).sum() - np.isnan(want).sum()
                           + 0) or n_filled == int(
        (np.isfinite(want) & np.isnan(plane)).sum())


def test_group_rows_streams_each_key_as_one_ordered_group(spark):
    """_group_rows hands ``emit`` each key's rows as ONE group in
    ``order``: a 250-row key spans four 64-row Arrow batches on its way
    in, and every NULL-key row lands in one group."""
    from pyspark.sql.types import (
        BooleanType, IntegerType, StringType, StructField, StructType,
    )
    from i_landsat8_swlst_spark.session import ARROW_BATCH_ROWS

    keys = ["A"] * 250 + ["B"] * 7 + [None] * 5
    assert 250 > 3 * ARROW_BATCH_ROWS
    seq = np.random.default_rng(5).permutation(len(keys)).tolist()
    src = spark.createDataFrame(list(zip(keys, seq)), "k string, i int")
    schema = StructType([StructField("k", StringType()), StructField("n", IntegerType()),
                         StructField("ordered", BooleanType()),
                         StructField("i", IntegerType())])

    def per_row(rows):
        rows = list(rows)
        idx = [r.i for r in rows]
        for r in rows:
            yield rows[0].k, len(rows), idx == sorted(idx), r.i

    out = pipeline._group_rows(src, ["k"], ("i",), schema, per_row).collect()
    groups = {}
    for r in out:
        groups.setdefault(r.k, set()).add((r.n, r.ordered))
    assert groups == {"A": {(250, True)}, "B": {(7, True)}, None: {(5, True)}}
    assert sorted(r.i for r in out) == sorted(seq)
