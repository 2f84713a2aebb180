"""Raster operator semantics not covered by the SQL-oracle gate."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.kernels import resample as R
from osgeo_gdal_spark.operators import raster_ops as RO
from osgeo_gdal_spark.sources import raster as RS


@pytest.fixture(scope="module")
def tiles(spark):
    return RS.synth_tiles(spark, 1).cache()


def test_synth_tiles_shape_and_checksum(spark, tiles):
    rows = tiles.collect()
    assert len(rows) == 4
    for row in rows:
        grid = RS.parse_tile(row)
        assert grid.shape == (256, 256) and grid.dtype == np.uint8
        # checksum column matches a recompute (kernel-side vs driver-side)
        from osgeo_gdal_spark.kernels import checksum as CK
        assert CK.checksum_image(grid) == row["checksum"]
        # generator golden: a hand-computed pixel
        gpx, gpy = row["gx"] * 256 + 3, row["gy"] * 256 + 5
        assert grid[5, 3] == (gpx * 7 + gpy * 11 + 1) % 255


def test_resample_tiles_identity_near(spark, tiles):
    out = RO.resample_tiles(tiles, 256, "near").collect()
    src = {(r["gx"], r["gy"]): RS.parse_tile(r) for r in tiles.collect()}
    for row in out:
        np.testing.assert_array_equal(
            RS.parse_tile(row), src[(row["gx"], row["gy"])].astype(np.float64)
        )


def test_resample_tiles_cubic_matches_kernel(spark, tiles):
    out = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in RO.resample_tiles(tiles, 128, "cubic").collect()}
    for row in tiles.collect():
        want = R.resample_grid(RS.parse_tile(row).astype(np.float64), 128, 128, "cubic")
        np.testing.assert_allclose(out[(row["gx"], row["gy"])], want, atol=1e-12)


def test_mosaic_first_wins(spark, tiles):
    zeros = RO.translate_tiles(tiles, scale=0.0, offset=0.0)  # all-zero copy
    zeros = zeros.drop("_ox0", "_oy0")
    m = RO.mosaic_first(tiles, zeros)  # original first -> original wins
    assert m.count() == 4
    vals = {(r["gx"], r["gy"]): RS.parse_tile(r).sum() for r in m.collect()}
    assert all(v > 0 for v in vals.values())
    m2 = RO.mosaic_first(zeros, tiles)  # zeros first -> zeros win
    vals2 = {(r["gx"], r["gy"]): RS.parse_tile(r).sum() for r in m2.collect()}
    assert all(v == 0 for v in vals2.values())


def test_translate_window_bounds(spark, tiles):
    out = RO.translate_tiles(tiles, srcwin=(100, 120, 150, 130))
    px = RO.explode_pixels(out)
    stats = px.agg(
        F.min("gpx"), F.max("gpx"), F.min("gpy"), F.max("gpy"), F.count("*")
    ).first()
    assert tuple(stats) == (100, 249, 120, 249, 150 * 130)


def test_pansharpen_brovey(spark, tiles):
    # bands 1..3 = synth tiles scaled differently; pan = 2x the mean
    b1 = tiles
    b2 = RO.translate_tiles(tiles, scale=0.5, out_dtype="float64").drop("_ox0", "_oy0") \
        .withColumn("band", F.lit(2))
    b3 = RO.translate_tiles(tiles, scale=0.25, out_dtype="float64").drop("_ox0", "_oy0") \
        .withColumn("band", F.lit(3))
    rgb = b1.unionByName(b2).unionByName(b3)
    pan = RO.translate_tiles(tiles, scale=2.0 * (1 + 0.5 + 0.25) / 3.0,
                             out_dtype="float64").drop("_ox0", "_oy0")
    out = RO.pansharpen(pan, rgb)
    rows = out.collect()
    assert len(rows) == 12  # 4 tiles x 3 bands
    # Brovey with pan = 2*pseudo -> every band doubled (within cast rounding)
    src = {(r["gx"], r["gy"]): RS.parse_tile(r).astype(np.float64)
           for r in tiles.collect()}
    for r in rows:
        if r["band"] == 1:
            got = RS.parse_tile(r)
            want = src[(r["gx"], r["gy"])] * 2.0
            np.testing.assert_allclose(got, want, atol=2.1)  # uint8 casts


def test_proximity_matches_brute_force(spark, tiles):
    from osgeo_gdal_spark.operators import proximity as PX

    target, maxd = 17.0, 80.0
    got = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in PX.proximity(tiles, 1, target, maxd).collect()}
    assert len(got) == 4
    # driver-side brute force on the full 512^2 generator grid
    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    grid = ((gpx * 7 + gpy * 11 + 1) % 255).astype(np.float64)
    tys, txs = np.nonzero(grid == target)
    want = np.full((world, world), maxd)
    for y0 in range(0, world, 64):
        d2 = ((gpx[y0:y0+64, :, None] - txs[None, None, :]) ** 2
              + (gpy[y0:y0+64, :, None] - tys[None, None, :]) ** 2)
        want[y0:y0+64] = np.minimum(np.sqrt(d2.min(axis=2)), maxd)
    for (gx, gy), g in got.items():
        np.testing.assert_allclose(
            g, want[gy*256:(gy+1)*256, gx*256:(gx+1)*256], atol=1e-9)


def test_fillnodata_matches_full_grid(spark, tiles):
    from pyspark.sql import types as T
    from osgeo_gdal_spark.operators import fillnodata as FN
    from osgeo_gdal_spark.sources.raster import TILE_SCHEMA
    from osgeo_gdal_spark.kernels import checksum as CK

    ND, R = -9999.0, 8

    def punch(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                g = RS.parse_tile(row).astype(np.float64)
                g[g == 42] = ND  # deterministic holes (incl. near borders)
                d = row.to_dict()
                d.update(dtype="float64", nodata=ND, pixels=g.tobytes(),
                         checksum=CK.checksum_image(g))
                rows.append(d)
            yield pd.DataFrame(rows)

    holed = tiles.mapInPandas(punch, TILE_SCHEMA)
    got = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in FN.fillnodata(holed, 1, ND, R).collect()}

    # full-grid reference through the same kernel with a NaN border pad
    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    grid = ((gpx * 7 + gpy * 11 + 1) % 255).astype(np.float64)
    grid[grid == 42] = ND
    for (gx, gy), g in got.items():
        pad = np.full((256 + 2 * R, 256 + 2 * R), np.nan)
        y0, x0 = gy * 256, gx * 256
        ys0, ys1 = max(0, y0 - R), min(world, y0 + 256 + R)
        xs0, xs1 = max(0, x0 - R), min(world, x0 + 256 + R)
        pad[R - (y0 - ys0):R - (y0 - ys0) + (ys1 - ys0),
            R - (x0 - xs0):R - (x0 - xs0) + (xs1 - xs0)] = grid[ys0:ys1, xs0:xs1]
        want = FN.fill_kernel(pad, R, ND)
        np.testing.assert_allclose(g, want, atol=1e-9,
                                   err_msg=f"tile {gx},{gy}")
    # every hole with donors in range was filled
    n_nodata = sum(int((RS.parse_tile(r) == ND).sum())
                   for r in FN.fillnodata(holed, 1, ND, R).collect())
    assert n_nodata == 0


def test_pansharpen_survives_tiny_arrow_batches(spark, tiles):
    """Regression: with maxRecordsPerBatch=1 a mapInPandas shape would see
    each band row in its own batch and compute pseudo_pan from one band;
    the groupBy().applyInPandas shape must be batch-size independent."""
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        b1 = tiles
        b2 = RO.translate_tiles(tiles, scale=0.5, out_dtype="float64") \
            .drop("_ox0", "_oy0").withColumn("band", F.lit(2))
        b3 = RO.translate_tiles(tiles, scale=0.25, out_dtype="float64") \
            .drop("_ox0", "_oy0").withColumn("band", F.lit(3))
        rgb = b1.unionByName(b2).unionByName(b3)
        pan = RO.translate_tiles(tiles, scale=2.0 * (1 + 0.5 + 0.25) / 3.0,
                                 out_dtype="float64").drop("_ox0", "_oy0")
        rows = RO.pansharpen(pan, rgb).collect()
        assert len(rows) == 12
        src = {(r["gx"], r["gy"]): RS.parse_tile(r).astype(np.float64)
               for r in tiles.collect()}
        for r in rows:
            if r["band"] == 1:
                np.testing.assert_allclose(
                    RS.parse_tile(r), src[(r["gx"], r["gy"])] * 2.0, atol=2.1
                )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_contour_sparse_tile_table_no_nan_segments(spark, tiles):
    """ADVICE repro: with a missing neighbor tile, NaN halo corners must
    emit NO segments (not NaN-coordinate or spurious ones)."""
    from osgeo_gdal_spark.kernels.contour import marching_squares
    from osgeo_gdal_spark.operators import contour as CT

    sparse = tiles.filter(~((F.col("gx") == 1) & (F.col("gy") == 0)))
    rows = CT.contour_segments(sparse, 1, [100.0]).collect()
    vals = np.array([[r["x0"], r["y0"], r["x1"], r["y1"]] for r in rows])
    assert not np.isnan(vals).any()
    # exactly the full-grid segments whose 2x2 cell avoids the missing tile
    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    grid = ((gpx * 7 + gpy * 11 + 1) % 255).astype(np.float64)
    grid[0:256, 256:512] = np.nan
    want = {(round(x0, 9), round(y0, 9), round(x1, 9), round(y1, 9))
            for x0, y0, x1, y1 in marching_squares(grid, 100.0)}
    got = {(round(r["x0"], 9), round(r["y0"], 9),
            round(r["x1"], 9), round(r["y1"], 9)) for r in rows}
    assert got == want and len(want) > 100


def _check_geodetic_closed_form(warped, zoom):
    """Every valid dst pixel of a geodetic warp equals the bilinear sample
    of the generator at the reprojected coords; poleward rows (|lat|
    beyond the mercator limit) are nodata."""
    n = 1 << zoom
    world = n * 256
    out = {(r["gx"], r["gy"]): RS.parse_tile(r) for r in warped.collect()}
    assert len(out) == n * n
    gen = lambda x, y: ((x * 7 + y * 11 + zoom) % 255).astype(float)  # noqa: E731
    got = np.zeros((world, world))
    for (gx, gy), g in out.items():
        got[gy*256:(gy+1)*256, gx*256:(gx+1)*256] = g
    X = np.arange(world)[None, :] * np.ones((world, 1))
    Y = np.arange(world)[:, None] * np.ones((1, world))
    lat = 90.0 - (Y + 0.5) / world * 180.0
    with np.errstate(divide="ignore", over="ignore"):
        sy = (1.0 - np.log(np.tan(np.pi/4 + np.radians(lat)/2)) / np.pi) / 2 * world - 0.5
    sy = np.floor(sy * 4096.0 + 0.5) / 4096.0  # approx-transformer quantum
    sx = X
    valid = (sy >= 0) & (sy <= world - 1.000001)
    ix = np.floor(sx).astype(int)
    iy = np.floor(np.where(valid, sy, 0)).astype(int)
    fx = sx - ix
    fy = np.where(valid, sy, 0) - iy
    ix1 = np.minimum(ix + 1, world - 1)
    iy1 = np.minimum(iy + 1, world - 1)
    want = ((1-fy)*((1-fx)*gen(ix, iy) + fx*gen(ix1, iy))
            + fy*((1-fx)*gen(ix, iy1) + fx*gen(ix1, iy1)))
    np.testing.assert_allclose(got[valid], want[valid], atol=1e-9)
    # out-of-mercator rows are nodata
    assert (got[~valid] == 0.0).all() and (~valid).sum() > 1000


def test_warp_reproject_geodetic_matches_closed_form(spark, tiles):
    """Reprojection warp vs driver-side closed form at zoom 1."""
    _check_geodetic_closed_form(RO.warp_reproject_geodetic(tiles, 1), 1)


@pytest.mark.parametrize("zoom", [0, 2])
def test_warp_reproject_geodetic_pole_corner_matches_closed_form(spark, zoom):
    """The bottom dst row's lower corner lies past the south pole; its src
    cover must still reach the southern src tiles. It used to clamp to
    the north end: zoom 0 returned no tile at all, and zoom 2's bottom
    row sampled the wrong src tiles."""
    tiles = RS.synth_tiles(spark, zoom)
    _check_geodetic_closed_form(RO.warp_reproject_geodetic(tiles, zoom), zoom)


def test_reduce_2x2_modes():
    from osgeo_gdal_spark.kernels.resample import reduce_2x2

    rng = np.random.default_rng(3)
    src = rng.integers(0, 4, size=(64, 64)).astype(np.float64)

    def brute_mode(block):
        # GDALResampleChunk_ModeT: first value to reach the final max
        # count in scan order (strictly-greater update)
        vals, counts, imax = [], [], 0
        for v in block:
            for i, x in enumerate(vals):
                if x == v:
                    counts[i] += 1
                    if counts[i] > counts[imax]:
                        imax = i
                    break
            else:
                vals.append(v)
                counts.append(1)
        return vals[imax]

    got = reduce_2x2(src, "mode")
    for y in range(32):
        for x in range(32):
            block = [src[2*y, 2*x], src[2*y, 2*x+1],
                     src[2*y+1, 2*x], src[2*y+1, 2*x+1]]
            assert got[y, x] == brute_mode(block), (y, x, block)

    np.testing.assert_array_equal(reduce_2x2(src, "nearest"), src[0::2, 0::2])
    np.testing.assert_array_equal(
        reduce_2x2(src, "min"),
        np.minimum.reduce([src[0::2, 0::2], src[0::2, 1::2],
                           src[1::2, 0::2], src[1::2, 1::2]]))
    np.testing.assert_array_equal(
        reduce_2x2(src, "sum"),
        src[0::2, 0::2] + src[0::2, 1::2] + src[1::2, 0::2] + src[1::2, 1::2])
    rms = reduce_2x2(src, "rms")
    want = np.sqrt((src[0::2, 0::2]**2 + src[0::2, 1::2]**2
                    + src[1::2, 0::2]**2 + src[1::2, 1::2]**2) / 4.0)
    np.testing.assert_allclose(rms, want, rtol=0)


def test_warp_aggregating_average_matches_bruteforce(spark, tiles):
    """Downscale warp with the aggregating AVERAGE resampler
    (GWKAverageOrMode footprint-box semantics) vs a driver-side brute
    force using the same floor(+eps)/ceil(-eps) index rule."""
    a, b = 2.5, 0.25
    out = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in RO.warp_tiles(tiles, 1, ("affine", a, b, a, b),
                                  method="average", nodata=-1.0).collect()}
    world = 512
    gen = lambda x, y: ((x * 7 + y * 11 + 1) % 255).astype(float)  # noqa: E731
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    src = gen(gpx, gpy)
    EPS = 1e-10
    for (dgx, dgy), g in out.items():
        for yy in range(0, 256, 37):
            for xx in range(0, 256, 41):
                X, Y = dgx * 256 + xx, dgy * 256 + yy
                x0, x1 = a * X + b, a * (X + 1) + b
                y0, y1 = a * Y + b, a * (Y + 1) + b
                if x1 < EPS or x0 > world - EPS or y1 < EPS or y0 > world - EPS:
                    assert g[yy, xx] == -1.0
                    continue
                ix0 = max(int(np.floor(x0 + EPS)), 0)
                ix1 = min(int(np.ceil(x1 - EPS)), world)
                iy0 = max(int(np.floor(y0 + EPS)), 0)
                iy1 = min(int(np.ceil(y1 - EPS)), world)
                want = src[iy0:iy1, ix0:ix1].mean()
                assert g[yy, xx] == want, (X, Y, g[yy, xx], want)


def test_warp_aggregating_min_max_sum(spark, tiles):
    a, b = 3.0, 0.0   # exact 3x3 boxes
    world = 512
    gen = lambda x, y: ((x * 7 + y * 11 + 1) % 255).astype(float)  # noqa: E731
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    src = gen(gpx, gpy)
    for method, red in (("amin", np.min), ("amax", np.max), ("asum", np.sum)):
        out = {(r["gx"], r["gy"]): RS.parse_tile(r)
               for r in RO.warp_tiles(tiles, 1, ("affine", a, b, a, b),
                                      method=method, nodata=-1.0).collect()}
        g = out[(0, 0)]
        for yy in (0, 50, 100, 170):
            for xx in (0, 63, 130):
                want = red(src[3*yy:3*yy+3, 3*xx:3*xx+3])
                assert g[yy, xx] == want, (method, xx, yy)


def test_warp_aggregating_mode(spark, tiles):
    """MODE over 3x3 footprint boxes vs brute force with the first-to-
    reach-max-count scan-order tie rule."""
    a = 3.0
    world = 512
    gen = lambda x, y: ((x * 7 + y * 11 + 1) % 255).astype(float)  # noqa: E731
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    # coarse value classes so boxes contain REPEATS (else mode is trivial)
    src = (gen(gpx, gpy) // 64).astype(np.float64)
    from osgeo_gdal_spark.sources.raster import tiles_from_grid
    t = tiles_from_grid(spark, src, 1)
    out = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in RO.warp_tiles(t, 1, ("affine", a, 0.0, a, 0.0),
                                  method="amode", nodata=-1.0).collect()}

    def brute_mode(vals):
        seen, counts, imax = [], [], 0
        for v in vals:
            for i, x in enumerate(seen):
                if x == v:
                    counts[i] += 1
                    if counts[i] > counts[imax]:
                        imax = i
                    break
            else:
                seen.append(v)
                counts.append(1)
                if len(seen) == 1:
                    imax = 0
        return seen[imax]

    g = out[(0, 0)]
    for yy in (0, 13, 55, 101, 169):
        for xx in (0, 7, 42, 120):
            box = src[3*yy:3*yy+3, 3*xx:3*xx+3].ravel().tolist()
            assert g[yy, xx] == brute_mode(box), (xx, yy, box, g[yy, xx])


def test_zonal_100_zones_burned_tiles(spark):
    """Burned-zone-tile zonal stats: 100 disjoint rect zones at zoom 1,
    verified against a driver-side numpy reference using the SAME
    pixel-center inclusion rule. Also asserts each covered tile is
    burned exactly once (the plan contract of zone_tiles)."""
    from osgeo_gdal_spark.sources import polygons as PL

    zoom = 1
    world = (1 << zoom) * RS.TILE
    zones = []
    for i in range(100):
        x0 = -171.123 + (i % 10) * 34.0
        y0 = -64.321 + (i // 10) * 13.0
        zones.append(PL.PolyFeature(i, 2000 + i, f"Z{i:03d}", "rect",
                                    {"bounds": (x0, y0, x0 + 20.0, y0 + 8.0)}))

    tiles = RS.synth_tiles(spark, zoom)
    got = {
        r["eas_id"]: (r["zn_count"], r["zn_sum"], r["zn_min"], r["zn_max"])
        for r in RO.raster_zonal_stats(tiles, zones, zoom).collect()
    }

    # driver-side reference over the full zoom-1 pixel grid
    gpx = np.arange(world)
    lon = (gpx + 0.5) / world * 360.0 - 180.0
    yfrac = (gpx + 0.5) / world
    lat = np.degrees(2.0 * np.arctan(np.exp((1.0 - 2.0 * yfrac) * np.pi))
                     - np.pi / 2.0)
    LON = np.broadcast_to(lon[None, :], (world, world))
    LAT = np.broadcast_to(lat[:, None], (world, world))
    vals = ((np.broadcast_to(gpx[None, :], (world, world)) * 7
             + np.broadcast_to(gpx[:, None], (world, world)) * 11
             + zoom) % 255).astype(np.float64)
    want = {}
    for z in zones:
        x0, y0, x1, y1 = z.params["bounds"]
        m = (LON > x0) & (LON < x1) & (LAT > y0) & (LAT < y1)
        if m.any():
            v = vals[m]
            want[z.eas_id] = (int(m.sum()), float(v.sum()),
                              float(v.min()), float(v.max()))
    assert set(got) == set(want)
    for eas, (cnt, s, lo, hi) in want.items():
        gc, gs, gl, gh = got[eas]
        assert gc == cnt and gl == lo and gh == hi
        assert abs(gs - s) < 1e-6

    # plan contract: one burned row per covered tile
    zt = RO.zone_tiles(spark, zones, zoom).collect()
    keys = [(r["gx"], r["gy"]) for r in zt]
    assert len(keys) == len(set(keys))


def test_amode_rows_matches_bruteforce():
    """Sorted-run mode == brute-force GWKModeT tie rule on random stacks
    (incl. NaN gaps) — the memory-linear replacement for the old K^2
    equality tensor, exercised at K=64 (an 8x8 footprint, i.e. an 8x
    MODE downscale)."""
    rng = np.random.default_rng(7)
    K = 64
    V = rng.integers(0, 6, size=(500, K)).astype(np.float64)
    V[rng.random(V.shape) < 0.15] = np.nan

    def brute(row):
        best = None  # (count, last_scan) preferring count max then last min
        for v in np.unique(row[~np.isnan(row)]):
            idx = np.nonzero(row == v)[0]
            key = (len(idx), -idx.max())
            if best is None or key > best[0]:
                best = (key, v)
        return np.nan if best is None else best[1]

    got = RO._amode_rows(V)
    want = np.array([brute(V[i]) for i in range(V.shape[0])])
    assert np.array_equal(np.isnan(got), np.isnan(want))
    m = ~np.isnan(want)
    assert np.array_equal(got[m], want[m])


def test_warp_quantile_selection_rule(spark, tiles):
    """amed/aq1/aq3 follow gdalwarpkernel.cpp:8338 exactly: sorted
    footprint values, index ceil(quant*n - 1)."""
    import math

    a, b = 3.0, 64.0   # 3x downscale: 3x3=9-pixel footprints
    out = {}
    for meth in ("amed", "aq1", "aq3"):
        df = RO.warp_tiles(tiles, 1, ("affine", a, b, a, b), method=meth,
                           nodata=-1.0)
        px = RO.explode_pixels(df).filter(
            (F.col("gpx") >= 100) & (F.col("gpx") < 108)
            & (F.col("gpy") >= 100) & (F.col("gpy") < 108))
        out[meth] = {(r["gpx"], r["gpy"]): r["value"] for r in px.collect()}

    world = 512
    for (gpx, gpy) in out["amed"]:
        eps = 1e-10
        ix0 = max(int(math.floor(a * gpx + b + eps)), 0)
        ix1 = min(int(math.ceil(a * (gpx + 1) + b - eps)), world)
        iy0 = max(int(math.floor(a * gpy + b + eps)), 0)
        iy1 = min(int(math.ceil(a * (gpy + 1) + b - eps)), world)
        vals = sorted(
            float((x * 7 + y * 11 + 1) % 255)
            for x in range(ix0, ix1) for y in range(iy0, iy1)
        )
        n = len(vals)
        for meth, q in (("amed", 0.5), ("aq1", 0.25), ("aq3", 0.75)):
            qi = max(0, math.ceil(q * n - 1))
            assert out[meth][(gpx, gpy)] == vals[qi], (meth, gpx, gpy)


def test_contour_polygons_bands_and_holes(spark):
    """Contour polygon mode: a blob inside a flat tile makes the outer
    band a polygon WITH A HOLE; ring-assembled area equals the band's
    pixel count and perimeters are the boundary edge counts."""
    from osgeo_gdal_spark.operators import contour as CT

    grid = np.full((RS.TILE, RS.TILE), 10.0)
    grid[40:80, 60:110] = 200.0   # 40x50 blob in band 1 (level 100)
    rows = [(
        "t", 0, 0, 0, 1, RS.TILE, RS.TILE, "float64", None, "EPSG:3857",
        bytearray(grid.tobytes()), 0,
    )]
    tiles = spark.createDataFrame(rows, RS.TILE_SCHEMA)
    got = {r["band"]: r for r in
           CT.contour_polygons(tiles, 0, [100.0]).collect()}
    blob_px = 40 * 50
    assert got[1]["area"] == blob_px
    assert got[1]["perimeter"] == 2 * (40 + 50)
    assert got[0]["area"] == RS.TILE * RS.TILE - blob_px
    assert got[0]["n_rings"] == 2   # outer shell + hole around the blob
    assert got[0]["perimeter"] == 4 * RS.TILE + 2 * (40 + 50)


def test_pyramid_gauss_matches_fullgrid_reference(spark, tiles):
    """GAUSS overview equals the brute-force full-raster reference —
    including tile-seam windows (the halo exchange) and the world-edge
    weight clamp."""
    out = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in RO.pyramid_gauss(tiles).collect()}
    assert set(out) == {(0, 0)}
    got = out[(0, 0)]

    world = 512
    gpx = np.arange(world)
    full = ((gpx[None, :] * 7 + gpx[:, None] * 11 + 1) % 255).astype(np.float64)
    w1d = np.array([1.0, 2.0, 1.0])
    want = np.zeros((256, 256))
    for Y in range(256):
        for X in range(256):
            acc = cnt = 0.0
            for dy in range(3):
                for dx in range(3):
                    sx, sy = 2 * X + dx, 2 * Y + dy
                    if sx < world and sy < world:
                        w = w1d[dx] * w1d[dy]
                        acc += full[sy, sx] * w
                        cnt += w
            want[Y, X] = acc / cnt
    assert np.array_equal(got, want)


def test_calc_expr_compiler_safety_and_semantics():
    from osgeo_gdal_spark.kernels import calc as C

    a = np.array([[1.0, 4.0], [9.0, 16.0]])
    b = np.array([[2.0, 2.0], [2.0, 2.0]])
    fn = C.compile_expr("sqrt(A) * 2 + where(A > 5, B, -B)", ["A", "B"])
    want = np.sqrt(a) * 2 + np.where(a > 5, b, -b)
    assert np.array_equal(fn({"A": a, "B": b}), want)
    fn2 = C.compile_expr("clip(A - B, 0, 5) % 3 + (A >= 9)", ["A", "B"])
    want2 = np.clip(a - b, 0, 5) % 3 + (a >= 9).astype(float)
    assert np.array_equal(fn2({"A": a, "B": b}), want2)
    # rejected at compile time: unknown name, attribute escape, call escape
    import pytest as _pt

    for bad in ("C + 1", "A.__class__", "__import__('os')",
                "eval('1')", "(lambda: 1)()", "A if B else A"):
        with _pt.raises(Exception):
            C.compile_expr(bad, ["A", "B"])


def test_pyramid_conv_matches_fullgrid_reference(spark, tiles):
    """BILINEAR/CUBIC convolution overviews equal the brute-force
    full-raster reference — tile seams (4-px 8-neighbor halo) and the
    world-edge tap clamp + renormalization included."""
    from osgeo_gdal_spark.kernels.resample import CONV_2X

    world = 512
    gpx = np.arange(world)
    full = ((gpx[None, :] * 7 + gpx[:, None] * 11 + 1) % 255).astype(np.float64)

    for method in ("bilinear", "cubic"):
        out = {(r["gx"], r["gy"]): RS.parse_tile(r)
               for r in RO.pyramid_conv(tiles, method=method).collect()}
        assert set(out) == {(0, 0)}
        got = out[(0, 0)]

        o, wts = CONV_2X[method]
        want = np.zeros((256, 256))
        for Y in range(256):
            for X in range(256):
                acc = cnt = 0.0
                for iy, wy in enumerate(wts):
                    for ix, wx in enumerate(wts):
                        sx, sy = 2 * X + o + ix, 2 * Y + o + iy
                        if 0 <= sx < world and 0 <= sy < world:
                            w = wx * wy
                            acc += full[sy, sx] * w
                            cnt += w
                want[Y, X] = acc / cnt
        assert np.array_equal(got, want), method


def test_polygon_cov_weights_exact_and_conserving():
    from osgeo_gdal_spark.kernels import clip as CL

    # dyadic triangle: every weight exact; diagonal cells exactly 1/2
    tri = ([2.0, 6.0, 2.0], [2.0, 2.0, 6.0])
    w = CL.polygon_cov_weights([tri], 0, 0, 12)
    assert w.sum() == 8.0 and w[2, 2] == 1.0
    assert w[2, 5] == 0.5 and w[5, 2] == 0.5 and w[3, 4] == 0.5
    # hole subtracts exactly
    hole = ([3.0, 4.0, 4.0, 3.0], [3.0, 3.0, 4.0, 4.0])
    w2 = CL.polygon_cov_weights([tri, hole], 0, 0, 12)
    assert w2.sum() == 7.0 and w2[3, 3] == 0.0
    # arbitrary float polygon: area conservation to fp tolerance
    pent = ([1.3, 7.8, 9.1, 5.0, 1.7], [1.1, 0.9, 5.6, 8.9, 6.2])
    xs, ys = np.array(pent[0]), np.array(pent[1])
    shoe = 0.5 * abs(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))
    w3 = CL.polygon_cov_weights([pent], 0, 0, 12)
    assert abs(w3.sum() - shoe) < 1e-9
    assert (w3 >= -1e-12).all() and (w3 <= 1.0 + 1e-12).all()


def test_zonal_frac_poly_spans_tile_seams(spark, tiles):
    """A triangle crossing the tile boundary at zoom 1 (world 512,
    tiles 256): total coverage equals the analytic area exactly, and
    the weighted mean equals the brute-force full-grid reference."""
    from osgeo_gdal_spark.kernels import clip as CL

    # x>=200, y>=200, x+y<=656 (L=256): spans all four tiles
    rings = [([200.0, 456.0, 200.0], [200.0, 200.0, 456.0])]
    out = {r["eas_id"]: r
           for r in RO.raster_zonal_frac_poly(tiles, [(9, rings)], 1).collect()}
    r = out[9]
    assert r["zn_cov"] == 256.0 * 256.0 / 2.0

    w = CL.polygon_cov_weights(rings, 0, 0, 512)
    gpx = np.arange(512)
    full = ((gpx[None, :] * 7 + gpx[:, None] * 11 + 1) % 255).astype(np.float64)
    assert r["zn_wsum"] == (w * full).sum()
    assert r["zn_wmean"] == (w * full).sum() / w.sum()


def test_viewshed_kernel_matches_brute_force():
    """Ring-vectorized kernel == plain-python brute force of the same
    model on random rough terrain, plus the wall sanity check."""
    from osgeo_gdal_spark.kernels import viewshed as VS

    rng = np.random.default_rng(3)
    dem = rng.uniform(0, 100, (61, 61))

    def brute(dem, ox, oy, R, H):
        hobs = dem[oy, ox] + H
        out = np.zeros((2 * R + 1, 2 * R + 1), bool)
        for dy in range(-R, R + 1):
            for dx in range(-R, R + 1):
                n = max(abs(dx), abs(dy))
                if n <= 1:
                    out[dy + R, dx + R] = True
                    continue
                ta = (dem[oy + dy, ox + dx] - hobs) / n
                mx = -1e18
                for k in range(1, n):
                    fx = ox + (k * dx) / n
                    fy = oy + (k * dy) / n
                    x0, y0 = int(np.floor(fx)), int(np.floor(fy))
                    ax, ay = fx - x0, fy - y0
                    v = ((1 - ax) * (1 - ay) * dem[y0, x0]
                         + ax * (1 - ay) * dem[y0, x0 + 1]
                         + (1 - ax) * ay * dem[y0 + 1, x0]
                         + ax * ay * dem[y0 + 1, x0 + 1])
                    mx = max(mx, (v - hobs) / k)
                out[dy + R, dx + R] = ta >= mx
        return out

    got = VS.viewshed_window(dem, 30, 30, 20, 10.0)
    assert np.array_equal(got, brute(dem, 30, 30, 20, 10.0))

    wall = np.zeros((61, 61))
    wall[:, 40] = 1000.0
    v2 = VS.viewshed_window(wall, 30, 30, 20, 5.0)
    assert not v2[20, 35]      # behind the wall (dx=+15 -> col 45)
    assert v2[20, 5]           # open west side


def test_viewshed_operator_cross_tile_seam(spark, tiles):
    """Operator output across a tile seam equals the kernel run on the
    assembled full-world DEM."""
    from osgeo_gdal_spark.kernels import viewshed as VS

    world = 512
    gpx = np.arange(world)
    dem = ((gpx[None, :] * 7 + gpx[:, None] * 11 + 1) % 255) \
        .astype(np.float64)
    obs, R, H = (7, 250, 250), 20, 30.0   # window spans all 4 tiles
    out = RO.viewshed(tiles, 1, [obs], R, H)
    got = {(r["gpx"], r["gpy"]): r["visible"] for r in out.collect()}
    want = VS.viewshed_window(dem, obs[1], obs[2], R, H)
    assert len(got) == (2 * R + 1) ** 2
    for (px, py), g in got.items():
        assert g == bool(want[py - obs[2] + R, px - obs[1] + R])


def test_viewshed_rejects_edge_observer(spark, tiles):
    import pytest as _pt

    with _pt.raises(ValueError, match="raster edge"):
        RO.viewshed(tiles, 1, [(1, 10, 256)], 20, 10.0).collect()


def test_viewshed_rejects_missing_tile(spark, tiles):
    """A DEM hole inside the gather box must fail loudly, not zero-fill
    the window (silently wrong visibility)."""
    import pytest as _pt
    from pyspark.errors import PythonException

    holey = tiles.filter(~((F.col("gx") == 1) & (F.col("gy") == 1)))
    # observer at (250, 250) radius 20: cover box spans all 4 tiles
    with _pt.raises(PythonException, match="DEM has\\s+holes"):
        RO.viewshed(holey, 1, [(7, 250, 250)], 20, 30.0).collect()


def test_warp_cutline_outside_tiles_are_nodata(spark):
    """gdalwarp -cutline: dst tiles the cutline never touches blend
    against the implicit all-zero mask (left-join null path) and come
    out all-nodata; inside the cutline the values equal the plain warp."""
    from osgeo_gdal_spark.entry_queries import RASTER_ZOOM, WARP
    from osgeo_gdal_spark.operators import rasterize as RZ
    from osgeo_gdal_spark.sources import polygons as PL

    tiles = RS.synth_tiles(spark, RASTER_ZOOM)
    cut = [PL.PolyFeature(0, 1, "C", "rect",
                          {"bounds": (10.0005, -50.0005, 50.0005,
                                      -10.0005)})]
    shapes = RZ.shapes_from_features(cut, lambda p: 1.0)
    tf = ("affine", WARP["a"], WARP["b"], WARP["c"], WARP["d"])
    cutted = {(r["gx"], r["gy"]): RS.parse_tile(r)
              for r in RO.warp_cutline(tiles, RASTER_ZOOM, tf, shapes,
                                       nodata=-1.0).collect()}
    plain = {(r["gx"], r["gy"]): RS.parse_tile(r)
             for r in RO.warp_tiles(tiles, RASTER_ZOOM, tf,
                                    nodata=-1.0).collect()}
    assert set(cutted) == set(plain)
    # tile (0,0) (far northwest) is fully outside the cutline
    assert (cutted[(0, 0)] == -1.0).all()
    # some tile overlaps the cutline: inside pixels match the plain warp
    import numpy as np

    touched = [k for k in cutted
               if (cutted[k] != -1.0).any()]
    assert touched
    for k in touched:
        m = cutted[k] != -1.0
        assert np.array_equal(cutted[k][m], plain[k][m])


def test_blend_modes_reference_formulas(spark):
    """screen/darken/lighten blend against a scalar re-derivation of
    the Mapserver generic formulas (MulScale255/DivScale255 byte math,
    gdalalg_raster_blend.cpp:890+) on a handful of probed pixels."""
    import numpy as np

    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    base = RS.synth_rgba_tiles(spark, 0, "base")
    over = RS.synth_rgba_tiles(spark, 0, "over")

    def mul(a, b):
        return (a * b + 255) // 256

    def div(a, b):
        return 0 if a == 0 else (255 if b == 0 else (a * 255) // b)

    got = {}
    for mode in ("screen", "darken", "lighten"):
        t = RO.blend_tiles(base, over, mode=mode, opacity=100)
        px = RO.explode_pixels_banded(t).filter(
            "gpx in (0, 17, 200) and gpy in (3, 99)").collect()
        for r in px:
            got[(mode, r["band"], r["gpx"], r["gpy"])] = int(r["value"])
    for (mode, band, x, y), v in got.items():
        ch = {b: (x * RS.RGBA_CHANNELS[("base", b)][0]
                  + y * RS.RGBA_CHANNELS[("base", b)][1]) % 256
              for b in (1, 2, 3)}
        ch[4] = 128 + (x + y) % 128
        ov = {b: (x * RS.RGBA_CHANNELS[("over", b)][0]
                  + y * RS.RGBA_CHANNELS[("over", b)][1]) % 256
              for b in (1, 2, 3, 4)}
        A, OA = ch[4], mul(ov[4], 255)
        DA = OA + A - mul(OA, A)
        if band == 4:
            assert v == DA, (mode, band, x, y)
            continue
        c, oc = mul(ch[band], A), mul(ov[band], OA)
        if mode == "screen":
            t_ = c + oc - mul(c, oc)
        elif mode == "darken":
            t_ = min(mul(oc, A), mul(c, OA)) + mul(c, 255 - OA) \
                + mul(oc, 255 - A)
        else:
            t_ = max(mul(oc, A), mul(c, OA)) + mul(c, 255 - OA) \
                + mul(oc, 255 - A)
        assert v == div(t_, DA), (mode, band, x, y)


def test_rgb_to_palette_median_cut(spark):
    """rgb-to-palette (apps/gdalalg_raster_rgb_to_palette.cpp):
    median-cut palette over the distributed color histogram; the
    indexed raster round-trips within a quantization error bound, and
    an image with <= max_colors distinct colors round-trips EXACTLY."""
    import numpy as np

    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    rgba = RS.synth_rgba_tiles(spark, 0, "base")
    palette, indexed = RO.rgb_to_palette_tiles(rgba, max_colors=16)
    assert 1 <= len(palette) <= 16
    rows = indexed.collect()
    assert len(rows) == 1
    idx = RS.parse_tile(rows[0])
    assert idx.min() >= 0 and idx.max() < len(palette)
    # reconstruct and bound the quantization error
    pal = np.array(palette)
    rec = pal[idx]
    gpx = np.arange(256)[None, :]
    gpy = np.arange(256)[:, None]
    orig = np.stack([(gpx * RS.RGBA_CHANNELS[("base", b)][0]
                      + gpy * RS.RGBA_CHANNELS[("base", b)][1]) % 256
                     for b in (1, 2, 3)], axis=-1)
    err = np.abs(rec - orig).mean()
    assert err < 64.0          # 16 colors on a smooth ramp
    # exact case: constant-color raster -> 1 palette entry, zero error
    import pandas as pd
    const = RS.tiles_from_grid(
        spark, np.full((256, 256), 42, dtype=np.uint8), 0, "c")
    rgb = None
    for b in (1, 2, 3):
        t = const.withColumn("band", F.lit(b))
        rgb = t if rgb is None else rgb.unionByName(t)
    pal2, idx2 = RO.rgb_to_palette_tiles(rgb, max_colors=4)
    assert pal2 == [(42, 42, 42)]
    assert (RS.parse_tile(idx2.collect()[0]) == 0).all()


def test_rgb_to_palette_fixture_constants():
    """Pins the offline constants used by the gated rgb_to_palette
    oracle (entry_queries.sql_rgb_to_palette) — pure numpy, no Spark."""
    from osgeo_gdal_spark.operators.raster_ops import median_cut_palette

    pinned = {0: (4, 23914389, 41), 1: (5, 33976695, 74),
              2: (6, 46781033, 121)}
    for m, want in pinned.items():
        n = 8 + 4 * m
        i = np.arange(n)
        cols = np.stack([(37 * i) % 256, (91 * i + 13) % 256,
                         (173 * i + 7) % 256], axis=1).astype(np.int64)
        wts = (1 + (i * i) % 7).astype(np.int64)
        pal = median_cut_palette(cols, wts, 4 + m)
        p = np.array(pal, dtype=np.int64)
        d = ((cols[:, 0][:, None] - p[:, 0]) ** 2
             + (cols[:, 1][:, None] - p[:, 1]) ** 2
             + (cols[:, 2][:, None] - p[:, 2]) ** 2)
        idx = d.argmin(axis=1)
        got = (len(pal),
               int(sum((r << 16) | (g << 8) | b for r, g, b in pal)),
               int((idx * wts).sum()))
        assert got == want, (m, got, want)


# ---------------------------------------------------------------------------
# round-5 verb sweep: reclassify / scale / update / stack
# ---------------------------------------------------------------------------


def test_reclass_mapping_grammar():
    """vrtreclassifier.cpp grammar: intervals, open bounds (nextafter),
    constants, inf bounds, NO_DATA both sides, DEFAULT modes, overlap and
    missing-nodata errors."""
    from osgeo_gdal_spark.operators.raster_ops import parse_reclass_mapping

    iv, dflt, dp = parse_reclass_mapping(
        "[0,10]=1;(10,20)=2;25=3;[30,inf)=NO_DATA;DEFAULT=PASS_THROUGH",
        nodata=255)
    assert dflt is None and dp is True
    assert iv[0] == (0.0, 10.0, 1.0)
    lo, hi, dst = iv[1]
    assert lo == np.nextafter(10.0, np.inf) and hi == np.nextafter(20.0, -np.inf)
    assert dst == 2.0
    assert iv[2] == (25.0, 25.0, 3.0)
    # ')' after inf applies nextafter exactly like the reference's C++
    # (vrtreclassifier.cpp:153-156): the bound becomes DBL_MAX
    assert iv[3][0] == 30.0 and iv[3][2] == 255.0
    assert iv[3][1] == np.nextafter(np.inf, -np.inf)

    iv, dflt, dp = parse_reclass_mapping("NO_DATA=0;DEFAULT=9", nodata=7)
    assert iv == [(7.0, 7.0, 0.0)] and dflt == 9.0 and dp is False

    iv, _, _ = parse_reclass_mapping("(-inf,0)=0;[0,5]=PASS_THROUGH", nodata=None)
    assert iv[0][0] == np.nextafter(-np.inf, np.inf) and iv[1][2] is None

    import pytest as _pt
    with _pt.raises(ValueError, match="NO_DATA"):
        parse_reclass_mapping("NO_DATA=1", nodata=None)
    with _pt.raises(ValueError, match="overlap"):
        parse_reclass_mapping("[0,10]=1;[5,20]=2", nodata=None)
    with _pt.raises(ValueError, match="FROM=TO"):
        parse_reclass_mapping("[0,10]", nodata=None)


def test_reclassify_unmatched_raises(spark):
    """A value outside every interval with no DEFAULT must raise (the
    reference's CE_Failure), never silently emit 0."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS
    import pytest as _pt

    tiles = RS.synth_tiles(spark, 0)
    out = RO.reclassify_tiles(tiles, "[0,100]=1")
    with _pt.raises(Exception, match="not matched"):
        out.collect()


def test_scale_linear_matches_translate(spark):
    """scale_tiles without exponent == the gdal_translate ratio/offset
    linear map."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    tiles = RS.synth_tiles(spark, 0)
    out = RO.scale_tiles(tiles, 0.0, 254.0, 0.0, 127.0)
    row = out.collect()[0]
    grid = RS.parse_tile(row)
    src = RS.synth_pixel_grid(0, 0, 0).astype(np.float64)
    assert np.array_equal(grid, src * (127.0 / 254.0))


def test_scale_power_clip(spark):
    """Power scaling clips t to [0,1] before exponentiation
    (vrtsources.cpp:4045-4051): src range narrower than the data."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    tiles = RS.synth_tiles(spark, 0)
    out = RO.scale_tiles(tiles, 64.0, 128.0, 0.0, 1.0, exponent=2)
    grid = RS.parse_tile(out.collect()[0])
    src = RS.synth_pixel_grid(0, 0, 0).astype(np.float64)
    t = np.clip((src - 64.0) / 64.0, 0.0, 1.0)
    assert np.array_equal(grid, t * t)
    assert grid.min() == 0.0 and grid.max() == 1.0


def test_update_composites_and_passes_through(spark):
    """update_tiles: patch wins except at patch nodata; base tiles the
    patch misses pass through; patch tiles outside base are cropped."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS
    from pyspark.sql import functions as F

    base = RS.synth_tiles(spark, 1)
    patch = RS.synth_tiles(spark, 1, dataset_id="p", coeffs=(13, 5),
                           nodata=7.0).filter(F.col("gx") == 0)
    out = RO.update_tiles(base, patch, 7.0)
    rows = {(r["gx"], r["gy"]): RS.parse_tile(r) for r in out.collect()}
    assert len(rows) == 4
    b00 = RS.synth_pixel_grid(0, 0, 1)
    p00 = RS.synth_pixel_grid(0, 0, 1, coeffs=(13, 5))
    assert np.array_equal(rows[(0, 0)], np.where(p00 == 7, b00, p00))
    assert np.array_equal(rows[(1, 1)], RS.synth_pixel_grid(1, 1, 1))


def test_stack_is_native_plan(spark):
    """stack_tiles is a pure unionByName + band arithmetic — no Python
    eval nodes in the plan before the sources."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    a = RS.synth_tiles(spark, 0)
    b = RS.synth_tiles(spark, 0, dataset_id="b", coeffs=(13, 5))
    out = RO.stack_tiles([a, b])
    bands = sorted(r["band"] for r in out.select("band").collect())
    assert bands == [1, 2]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the only Python in the lineage is the two tile GENERATORS; the
    # stack step itself adds no Arrow/Python eval on top of them
    assert plan.count("MapInPandas") == 2


def test_reclassify_property_vs_scalar_reference():
    """Hypothesis: random disjoint interval tables + random probe values
    — the vectorized np.select kernel path must agree with a direct
    scalar transliteration of Reclassifier::Reclassify
    (vrtreclassifier.cpp:399-433)."""
    from hypothesis import given, settings, strategies as st
    from osgeo_gdal_spark.operators.raster_ops import parse_reclass_mapping

    def scalar_reclassify(v, intervals, default_value, default_pass):
        for lo, hi, dst in intervals:
            if lo <= v <= hi:
                return v if dst is None else dst
        if default_value is not None:
            return default_value
        if default_pass:
            return v
        raise ValueError("unmatched")

    @st.composite
    def mapping_and_values(draw):
        # disjoint intervals built from sorted cut points
        n = draw(st.integers(1, 5))
        cuts = sorted(draw(st.lists(
            st.integers(-100, 100), min_size=2 * n, max_size=2 * n,
            unique=True)))
        parts = []
        for i in range(n):
            lo, hi = cuts[2 * i], cuts[2 * i + 1]
            lo_b = draw(st.sampled_from("[("))
            hi_b = draw(st.sampled_from("])"))
            dst = draw(st.one_of(st.integers(-9, 9), st.just("PASS_THROUGH")))
            parts.append(f"{lo_b}{lo},{hi}{hi_b}={dst}")
        mode = draw(st.sampled_from(["none", "value", "pass"]))
        if mode == "value":
            parts.append("DEFAULT=77")
        elif mode == "pass":
            parts.append("DEFAULT=PASS_THROUGH")
        vals = draw(st.lists(
            st.one_of(st.integers(-110, 110),
                      st.floats(-110, 110, allow_nan=False)),
            min_size=1, max_size=30))
        return ";".join(parts), [float(v) for v in vals]

    @settings(max_examples=300, deadline=None)
    @given(mapping_and_values())
    def run(mv):
        mapping, vals = mv
        intervals, dflt, dp = parse_reclass_mapping(mapping)
        arr = np.array(vals, dtype=np.float64)
        conds = [(arr >= lo) & (arr <= hi) for lo, hi, _ in intervals]
        choices = [np.full_like(arr, d) if d is not None else arr
                   for _, _, d in intervals]
        matched = np.logical_or.reduce(conds)
        want, want_err = [], False
        try:
            want = [scalar_reclassify(v, intervals, dflt, dp) for v in vals]
        except ValueError:
            want_err = True
        if dflt is not None:
            default = np.full_like(arr, dflt)
        elif dp:
            default = arr
        else:
            if not matched.all():
                assert want_err
                return
            default = arr
        assert not want_err
        got = np.select(conds, choices, default=default)
        assert got.tolist() == want

    run()


def test_round_to_dtype_copyword_rule():
    """GDALCopyWord (gcore/gdal_priv_templates.hpp): +0.5, floor, clamp,
    NaN -> 0 for float->int conversions."""
    import numpy as np
    from osgeo_gdal_spark.kernels.resample import round_to_dtype

    arr = np.array([-3.7, -0.2, 0.49, 0.5, 254.5, 300.0, np.nan])
    out = round_to_dtype(arr, np.uint8)
    assert out.tolist() == [0, 0, 0, 1, 255, 255, 0]
    out16 = round_to_dtype(np.array([-3.7, -3.2, np.nan]), np.int16)
    # floor(v + 0.5): -3.7 -> floor(-3.2) = -4; -3.2 -> floor(-2.7) = -3
    assert out16.tolist() == [-4, -3, 0]


def test_unscale_then_set_type(spark):
    """unscale (v*scale+offset as float64) chained into set-type
    (CopyWord byte cast) matches the per-pixel closed form."""
    import numpy as np
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS
    from osgeo_gdal_spark.sources.raster import parse_tile

    tiles = RS.synth_tiles(spark, 0)
    un = RO.unscale_tiles(tiles, 0.5, -20.0)
    row = un.collect()[0]
    assert row["dtype"] == "float64"
    v = parse_tile(row)
    g = np.add.outer(np.arange(v.shape[0]) * 11,
                     np.arange(v.shape[1]) * 7)  # zoom 0: gpx*7+gpy*11+0
    want = (g % 255).astype(np.float64) * 0.5 - 20.0
    assert np.array_equal(v, want)
    st = RO.set_type_tiles(un, "uint8").collect()[0]
    b = parse_tile(st)
    assert b.dtype == np.uint8
    assert np.array_equal(
        b, np.clip(np.floor(want + 0.5), 0, 255).astype(np.uint8))


def test_overview_refresh_touches_only_dirty_parents(spark):
    """Incremental overview refresh recomputes EXACTLY the parents of
    the dirty child set — clean parents never appear in the output —
    and refreshed pixels equal the full-pyramid recompute."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS
    from osgeo_gdal_spark.sources.raster import parse_tile

    base = RS.synth_tiles(spark, 2)
    patch = RS.synth_tiles(spark, 2, dataset_id="patch", coeffs=(13, 5),
                           nodata=7.0).filter("gx = 0")
    updated = RO.update_tiles(base, patch, 7.0)
    refreshed = RO.overview_refresh(updated, patch.select("gx", "gy"))
    rows = refreshed.collect()
    assert {(r["gx"], r["gy"]) for r in rows} == {(0, 0), (0, 1)}
    full = {(r["gx"], r["gy"]): parse_tile(r)
            for r in RO.pyramid_average(updated).collect()}
    import numpy as np
    for r in rows:
        np.testing.assert_array_equal(
            parse_tile(r), full[(r["gx"], r["gy"])])
