"""The benchmark's three workloads: seeded inputs, one timed pass through
the engine's public functions, and an oracle that does not use Spark.

Every workload is a class with the same five steps:

- ``generate(spark, workdir)``: build the inputs from the seed (the engine
  only ever sees these inputs);
- ``run_pass(spark, ctx)``: one pass — build the operator plans and run
  them to completion; returns a small digest of the outputs;
- ``expected()``: the same digest computed without Spark;
- ``check(got, want)``: ``None`` when they agree, else a message;
- ``kernels()``: Spark-free kernel calls on the workload's own inputs
  (traced run only).

Operator spans go through ``ctx.op(name, phase)``: ``call`` wraps the
public function that returns the lazy DataFrame (driver-side plan build),
``exec`` wraps the action that runs it.
"""

from __future__ import annotations

import os
import time

import numpy as np

# sizes per workload; "tiny" is the self-test scale
SIZES = {
    "point_join": {"default": {"pages": 500_000},
                   "tiny": {"pages": 20_000}},
    "raster_vector": {"default": {"zoom": 1, "zones": 24},
                      "tiny": {"zoom": 1, "zones": 6}},
}

# sqlgen's geocode constants (functions/sqlgen.py), restated so the numpy
# oracles recompute lon/lat without the engine
_M1, _M2, _A2, _P32, _HOT = 2654435761, 2246822519, 3266489917, 4294967296, 20
# doc_ids stay below 2^31 so doc_id * _M1 fits in a signed 64-bit integer
ID_SPACE = 1 << 31


def seeded_doc_ids(rng, n):
    return rng.choice(ID_SPACE, size=n, replace=False).astype(np.int64)


def write_documents(path, ids):
    """A documents table (doc_id, text, lang) — the shape pages_df reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(ids)
    pq.write_table(pa.table({
        "doc_id": ids,
        "text": pa.array(["p"] * n),
        "lang": pa.array(["en"] * n),
    }), path)


def geocode(ids):
    """numpy restatement of sqlgen.lon_sql / lat_sql (same IEEE ops)."""
    h1 = (ids * _M1) % _P32
    h2 = ((ids * _M2) + _A2) % _P32
    hot = ids % _HOT == 0
    lon = np.where(hot, 2.0 + (h1 % 500) / 1000.0,
                   -180.0 + (h1 % 360000) / 1000.0)
    lat = np.where(hot, 48.5 + (h2 % 500) / 1000.0,
                   -85.0 + (h2 % 170000) / 1000.0)
    return lon, lat


# --- seeded polygon layer ---------------------------------------------------

class NGon:
    """A seeded polygon with the interface spatial_join expects
    (.fid, .eas_id, .wkb(), .envelope()). ``parts`` is a list of parts,
    each a list of closed rings of (x, y) tuples; more than one part means
    the polygon was split at the antimeridian."""

    def __init__(self, fid, parts):
        self.fid = fid
        self.eas_id = 100_000 + fid
        self.parts = parts
        self._wkb = None

    def wkb(self) -> bytes:
        from osgeo_gdal_spark.kernels import wkb as W

        if self._wkb is None:
            self._wkb = (W.polygon_wkb(self.parts[0]) if len(self.parts) == 1
                         else W.multipolygon_wkb(self.parts))
        return self._wkb

    def envelope(self):
        xs = [x for part in self.parts for ring in part for x, _ in ring]
        ys = [y for part in self.parts for ring in part for _, y in ring]
        return min(xs), min(ys), max(xs), max(ys)


def _ring(cx, cy, radii, angles):
    pts = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a)))
           for r, a in zip(radii, angles)]
    return pts + [pts[0]]


def _clip_half(ring, keep_west):
    """Sutherland-Hodgman clip of a closed convex ring against x <= 180
    (keep_west) or x >= 180."""
    inside = (lambda p: p[0] <= 180.0) if keep_west else (lambda p: p[0] >= 180.0)
    out = []
    pts = ring[:-1]
    for i, cur in enumerate(pts):
        prev = pts[i - 1]
        if inside(cur) != inside(prev):
            t = (180.0 - prev[0]) / (cur[0] - prev[0])
            out.append((180.0, prev[1] + t * (cur[1] - prev[1])))
        if inside(cur):
            out.append(cur)
    return out + [out[0]]


def seeded_polygons(rng, n, rmin, rmax, lat_max):
    """n seeded non-rectangular polygons: star-shaped n-gons, every tenth
    with a hole, every twentieth a convex one crossing the antimeridian
    (stored split at +-180, as the fixture layer stores them).

    Vertex counts (5..24), radii and kinds follow the polygon index, so
    every seed yields the same amount of geometry; the seed moves the
    polygons and jitters their vertices."""
    polys = []
    golden = (np.sqrt(5.0) - 1.0) / 2.0
    for fid in range(n):
        k = 5 + fid % 20
        r = rmin + (rmax - rmin) * ((fid * golden) % 1.0)
        # evenly spread angles with jitter: gaps stay below 1.6 * 2 pi / k
        base = np.sort((np.arange(k) + rng.uniform(0.0, 0.6, k)) * 2 * np.pi / k)
        if fid % 20 == 1:
            cy = float(rng.uniform(-lat_max, lat_max))
            cx = 180.0 + float(rng.uniform(-0.5, 0.5)) * r
            ring = _ring(cx, cy, np.full(k, r), base)
            west = _clip_half(ring, True)
            east = [(x - 360.0, y) for x, y in _clip_half(ring, False)]
            polys.append(NGon(fid, [[west], [east]]))
            continue
        radii = r * rng.uniform(0.6, 1.0, k)
        cx = float(rng.uniform(-180.0 + rmax, 180.0 - rmax))
        cy = float(rng.uniform(-lat_max, lat_max))
        rings = [_ring(cx, cy, radii, base)]
        if fid % 10 == 3:
            # k is 8 or 18 here: 0.6 r * cos(1.6 pi / 8) > 0.3 r bounds the
            # outer ring from below
            rings.append(_ring(cx, cy, np.full(6, 0.3 * r),
                               np.arange(6) * np.pi / 3 + 0.1))
        polys.append(NGon(fid, [rings]))
    return polys


# --- numpy ray cast (independent of kernels/pip.py) --------------------------

EPS = 1e-7  # degrees; points this close to an edge may go either way


def ray_cast(px, py, ring):
    """(inside, near_edge) for points against one closed ring: even-odd
    crossings of a ray towards +x, and a flag for points within EPS of an
    edge, whose classification depends on rounding."""
    xs = np.array([p[0] for p in ring])
    ys = np.array([p[1] for p in ring])
    inside = np.zeros(px.shape, dtype=bool)
    near = np.zeros(px.shape, dtype=bool)
    for i in range(len(xs) - 1):
        x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        straddle = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= straddle & (px < xc)
        dx, dy = x2 - x1, y2 - y1
        ll = dx * dx + dy * dy
        t = np.clip(((px - x1) * dx + (py - y1) * dy) / ll, 0.0, 1.0)
        near |= (px - x1 - t * dx) ** 2 + (py - y1 - t * dy) ** 2 < EPS * EPS
    return inside, near


def ngon_contains(poly, px, py):
    """(inside, near_edge) of points in a polygon: inside a part's outer
    ring and in none of its holes."""
    inside = np.zeros(px.shape, dtype=bool)
    near = np.zeros(px.shape, dtype=bool)
    for part in poly.parts:
        ins, nr = ray_cast(px, py, part[0])
        near |= nr
        for hole in part[1:]:
            hin, hnr = ray_cast(px, py, hole)
            ins &= ~hin
            near |= hnr
        inside |= ins
    return inside, near


class _LonIndex:
    """Points sorted by lon, for cheap bbox candidate lookups."""

    def __init__(self, lon, lat):
        order = np.argsort(lon, kind="stable")
        self.lon = lon[order]
        self.lat = lat[order]

    def in_box(self, xmin, ymin, xmax, ymax):
        a, b = np.searchsorted(self.lon, [xmin - EPS, xmax + EPS])
        sel = np.arange(a, b)
        lat = self.lat[a:b]
        sel = sel[(lat >= ymin - EPS) & (lat <= ymax + EPS)]
        return self.lon[sel], self.lat[sel]


def pip_kernel_rate(polys, lon, lat):
    """kernels.pip.points_in_polygon over each polygon part's bbox
    candidates: candidate points tested per second (Spark-free)."""
    from osgeo_gdal_spark.kernels import pip as P, wkb as W

    idx = _LonIndex(lon, lat)
    jobs = []
    for p in polys:
        g = W.parse_wkb(p.wkb())
        ring = 0
        for nrings in g.part_rings:
            xs = g.xs[g.ring_offsets[ring]:g.ring_offsets[ring + 1]]
            ys = g.ys[g.ring_offsets[ring]:g.ring_offsets[ring + 1]]
            px, py = idx.in_box(xs.min(), ys.min(), xs.max(), ys.max())
            if len(px):
                jobs.append((px, py, g))
            ring += int(nrings)
    npts = sum(len(j[0]) for j in jobs)
    t0 = time.perf_counter()
    for px, py, g in jobs:
        P.points_in_polygon(px, py, g)
    secs = time.perf_counter() - t0
    return npts / secs if secs > 0 else 0.0


# --- workloads -------------------------------------------------------------

class PointJoin:
    """Geocoded pages x the 10 fixture polygons, per-polygon counts plus a
    z6 -> z3 tile-count pyramid, both written through StageWriter."""

    name = "point_join"
    BASE_ZOOM, LEVELS = 6, 3

    def __init__(self, seed, size):
        self.seed = seed
        self.n = SIZES[self.name][size]["pages"]

    def generate(self, spark, workdir):
        rng = np.random.default_rng(self.seed)
        self.ids = seeded_doc_ids(rng, self.n)
        self.docs_dir = workdir
        write_documents(os.path.join(workdir, "documents.parquet"), self.ids)
        self.items = self.n

    def run_pass(self, spark, ctx):
        from osgeo_gdal_spark.operators import spatial_join as SJ, tiling as TL
        from osgeo_gdal_spark.plans.lineage import StageWriter
        from osgeo_gdal_spark.sources import pages as PG, polygons as PO

        pages = PG.pages_df(spark, self.docs_dir)
        with ctx.op("spatial_join", "call"):
            joined = SJ.spatial_join(spark, pages, PO.POLYGONS)
            counts = joined.groupBy("eas_id").count()
        with ctx.op("tiling", "call"):
            pyramid = TL.pyramid_counts(
                TL.tile_counts(pages, self.BASE_ZOOM), self.LEVELS)
        writer = StageWriter(spark, ctx.stage_root(), ctx.run_id)
        with ctx.op("spatial_join", "exec"), \
                ctx.tracer.span("plans.lineage.run_stage"):
            got_counts = writer.run_stage("poly_counts", ["all"],
                                          lambda _u: counts).collect()
        with ctx.op("tiling", "exec"), \
                ctx.tracer.span("plans.lineage.run_stage"):
            got_tiles = writer.run_stage("tile_pyramid", ["all"],
                                         lambda _u: pyramid).collect()
        return {
            "counts": {int(r["eas_id"]): int(r["count"]) for r in got_counts},
            "tiles": sorted((int(r["dz"]), int(r["gx"]), int(r["gy"]),
                             int(r["cnt"])) for r in got_tiles),
        }

    def expected(self):
        """DuckDB over the same ids: polygons.pip_pairs_sql for the join,
        the sqlgen tile formulas for the pyramid."""
        import duckdb
        import pyarrow as pa

        from osgeo_gdal_spark.functions import sqlgen as G
        from osgeo_gdal_spark.sources import polygons as PO

        con = duckdb.connect()
        con.register("ids", pa.table({"doc_id": self.ids}))
        con.execute(
            f"CREATE TEMP TABLE pages AS SELECT doc_id, "
            f"{G.url_sql('doc_id', G.DUCKDB)} AS url, "
            f"{G.lon_sql('doc_id')} AS lon, {G.lat_sql('doc_id')} AS lat "
            f"FROM ids")
        pairs = PO.pip_pairs_sql("lon", "lat")
        counts = dict(con.execute(
            f"SELECT eas_id, COUNT(*) FROM ({pairs}) GROUP BY eas_id").fetchall())
        # pages at exactly lon = -180 inside a dateline polygon's predicate
        # sit ON the split edge of the stored MultiPolygon (WRAPDATELINE
        # form), where strict-interior containment is a boundary case: the
        # SQL predicate counts them, the split geometry need not
        edge = dict(con.execute(
            f"SELECT eas_id, COUNT(*) FROM ({pairs}) pr JOIN pages USING (doc_id) "
            f"WHERE pages.lon = {G.D(-180.0)} GROUP BY eas_id").fetchall())
        z = self.BASE_ZOOM
        base = (f"SELECT {G.tile_x_sql('lon', z)} AS gx, "
                f"{G.tile_y_sql('lat', z)} AS gy FROM pages")
        tiles = []
        for dz in range(self.LEVELS + 1):
            tiles += con.execute(
                f"SELECT {dz}, gx // {1 << dz}, gy // {1 << dz}, COUNT(*) "
                f"FROM ({base}) GROUP BY 2, 3").fetchall()
        con.close()
        return {"counts": {int(k): (int(v) - int(edge.get(k, 0)), int(v))
                           for k, v in counts.items()},
                "tiles": sorted(tuple(int(x) for x in t) for t in tiles)}

    def check(self, got, want):
        bad = {k: (got["counts"].get(k), lo, hi)
               for k, (lo, hi) in want["counts"].items()
               if not lo <= got["counts"].get(k, 0) <= hi}
        if bad or set(got["counts"]) - set(want["counts"]):
            return f"per-polygon counts out of bounds: {bad}"
        if got["tiles"] != want["tiles"]:
            return "tile pyramid differs"
        return None

    def kernels(self):
        from osgeo_gdal_spark.operators.spatial_join import is_axis_rect
        from osgeo_gdal_spark.kernels import wkb as W
        from osgeo_gdal_spark.sources import polygons as PO

        refine = [p for p in PO.POLYGONS
                  if not is_axis_rect(W.parse_wkb(p.wkb()))]
        lon, lat = geocode(self.ids)
        return {"kernels.pip.points_per_s": pip_kernel_rate(refine, lon, lat)}


class RasterVector:
    """A seeded smooth DEM through contour, polygonize (of a classified
    band), geodetic warp and zonal statistics over seeded polygons."""

    name = "raster_vector"
    LEVELS = (350.5, 600.5, 850.5)
    CLASS_EDGES = (350.0, 600.0, 850.0)
    PERIODS, BUMPS = 3, 12

    def __init__(self, seed, size):
        self.seed = seed
        s = SIZES[self.name][size]
        self.zoom, self.nzones = s["zoom"], s["zones"]

    def generate(self, spark, workdir):
        from osgeo_gdal_spark.sources import raster as RS

        rng = np.random.default_rng(self.seed)
        n = (1 << self.zoom) * RS.TILE
        yy, xx = np.mgrid[0:n, 0:n] / n
        # a PERIODS x PERIODS field of hills and basins with seeded phases,
        # roughened by seeded bumps: every seed gives the operators the
        # same amount of structure (contour chains, regions crossing tile
        # seams), so the work per pass does not depend on the seed
        px, py = rng.uniform(0.0, 2 * np.pi, 2)
        dem = np.sin(2 * np.pi * self.PERIODS * xx + px) \
            * np.sin(2 * np.pi * self.PERIODS * yy + py)
        for _ in range(self.BUMPS):
            cx, cy = rng.uniform(0.0, 1.0, 2)
            s = rng.uniform(0.02, 0.06)
            h = rng.uniform(-0.3, 0.3)
            dem += h * np.exp(-((xx - cx) ** 2 + (yy - cy) ** 2) / (2 * s * s))
        # values in [100, 1100]: clear of the warp's 0.0 nodata
        dem = 100.0 + (dem - dem.min()) / (dem.max() - dem.min()) * 1000.0
        self.dem = dem.astype(np.float32)
        self.cls = np.digitize(self.dem, self.CLASS_EDGES).astype(np.uint8)
        self.zones = seeded_polygons(rng, self.nzones, 8.0, 25.0, 60.0)
        self.dem_tiles = RS.tiles_from_grid(spark, self.dem, self.zoom, "dem")
        self.cls_tiles = RS.tiles_from_grid(spark, self.cls, self.zoom, "cls")
        self.items = n * n

    def run_pass(self, spark, ctx):
        from osgeo_gdal_spark.operators import (contour as CT,
                                                polygonize as PZ,
                                                raster_ops as RO)
        from osgeo_gdal_spark.sources import raster as RS

        z = self.zoom
        with ctx.op("contour", "call"):
            lines = CT.contour_polylines(self.dem_tiles, z, list(self.LEVELS),
                                          shuffle_partitions=1)
        with ctx.op("contour", "exec"):
            lines = lines.collect()
        with ctx.op("polygonize", "call"):
            regions = PZ.polygonize(self.cls_tiles, z, shuffle_partitions=1)
        with ctx.op("polygonize", "exec"):
            regions = regions.collect()
        with ctx.op("raster_ops.warp", "call"):
            warped = RO.warp_reproject_geodetic(self.dem_tiles, z)
        with ctx.op("raster_ops.warp", "exec"):
            warped = warped.collect()
        with ctx.op("raster_ops.zonal", "call"):
            zonal = RO.raster_zonal_stats(self.dem_tiles, self.zones, z)
        with ctx.op("raster_ops.zonal", "exec"):
            zonal = zonal.collect()

        segs = {}
        for r in lines:
            segs[float(r["level"])] = segs.get(float(r["level"]), 0) + int(r["n_segs"])
        px = {}
        for r in regions:
            px[int(r["value"])] = px.get(int(r["value"]), 0) + int(r["n_pixels"])
        n = self.dem.shape[0]
        grid = np.zeros((n, n))
        for r in warped:
            g = RS.parse_tile(r)
            grid[int(r["gy"]) * RS.TILE:(int(r["gy"]) + 1) * RS.TILE,
                 int(r["gx"]) * RS.TILE:(int(r["gx"]) + 1) * RS.TILE] = g
        return {
            "segments": segs,
            "class_pixels": px,
            "warp_rows": _row_digest(grid),
            "zones": {int(r["eas_id"]): (int(r["zn_count"]), float(r["zn_sum"]))
                      for r in zonal},
        }

    def expected(self):
        return {
            "segments": {lv: _ms_segments(self.dem, lv) for lv in self.LEVELS},
            "class_pixels": {int(k): int(v) for k, v in
                             enumerate(np.bincount(self.cls.ravel())) if v},
            "warp_rows": _row_digest(_geodetic_bilinear(self.dem)),
            "zones": _zonal_bounds(self.dem, self.zones),
        }

    def check(self, got, want):
        if got["segments"] != want["segments"]:
            return f"contour segments {got['segments']} vs {want['segments']}"
        if got["class_pixels"] != want["class_pixels"]:
            return f"class pixels {got['class_pixels']} vs {want['class_pixels']}"
        gv, wv = got["warp_rows"], want["warp_rows"]
        if len(gv) != len(wv) or any(abs(a - b) > 1e-6 for a, b in zip(gv, wv)):
            return "warped row means differ"
        for eas, (lo, hi, s, slack) in want["zones"].items():
            c, vs = got["zones"].get(eas, (0, 0.0))
            if not lo <= c <= hi or abs(vs - s) > slack:
                return f"zone {eas}: count {c} not in [{lo}, {hi}] or sum {vs} vs {s}"
        if set(got["zones"]) - set(want["zones"]):
            return "unexpected zones"
        return None

    def kernels(self):
        from osgeo_gdal_spark.kernels import contour as KC

        g = self.dem.astype(np.float64)
        t0 = time.perf_counter()
        for lv in self.LEVELS:
            KC.marching_squares(g, lv)
        secs = time.perf_counter() - t0
        cells = (g.shape[0] - 1) * (g.shape[1] - 1) * len(self.LEVELS)
        lon, lat = _pixel_centers(self.dem.shape[0])
        LON = np.broadcast_to(lon[None, :], self.dem.shape).ravel()
        LAT = np.broadcast_to(lat[:, None], self.dem.shape).ravel()
        return {"kernels.contour.cells_per_s": cells / secs,
                "kernels.pip.points_per_s": pip_kernel_rate(self.zones, LON, LAT)}


def _ms_segments(grid, level):
    """Marching-squares segment count over the whole grid: one segment per
    crossed cell, two for the saddle cases 5 and 10."""
    g = grid.astype(np.float64)
    case = ((g[:-1, :-1] >= level).astype(np.int8)
            | ((g[:-1, 1:] >= level).astype(np.int8) << 1)
            | ((g[1:, 1:] >= level).astype(np.int8) << 2)
            | ((g[1:, :-1] >= level).astype(np.int8) << 3))
    crossed = (case != 0) & (case != 15)
    saddle = (case == 5) | (case == 10)
    return int(crossed.sum() + saddle.sum())


def _row_digest(grid):
    """Mean of each row's valid (non-nodata) pixels, rows with any valid
    pixel only."""
    valid = grid != 0.0
    rows = valid.any(axis=1)
    return [float(grid[i][valid[i]].mean()) for i in np.nonzero(rows)[0]]


def _geodetic_bilinear(dem):
    """The mercator -> plate-carree warp, restated: destination row Y is
    latitude 90 - (Y + 0.5) / n * 180; its source row is the inverse
    Gudermannian of that latitude (quantized to 1/4096 px, as gdalwarp's
    approximate transformer does); columns map to themselves, so bilinear
    reduces to a blend of two source rows."""
    n = dem.shape[0]
    d = dem.astype(np.float64)
    out = np.zeros((n, n))
    for y in range(n):
        lat = np.radians(90.0 - (y + 0.5) / n * 180.0)
        with np.errstate(divide="ignore", over="ignore", invalid="ignore"):
            merc = np.arcsinh(np.tan(lat))
        sy = (1.0 - merc / np.pi) / 2.0 * n - 0.5
        if not np.isfinite(sy) or sy < -0.5 or sy > n - 0.5:
            continue
        sy = np.floor(sy * 4096.0 + 0.5) / 4096.0
        by = int(np.floor(sy))
        fy = sy - by
        r0, r1 = d[min(max(by, 0), n - 1)], d[min(max(by + 1, 0), n - 1)]
        out[y] = (1.0 - fy) * r0 + fy * r1
    return out


def _pixel_centers(n):
    """lon per column and lat per row of a world mercator grid's pixel
    centers (inverse mercator via sinh, not the engine's exp form)."""
    lon = (np.arange(n) + 0.5) / n * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * (np.arange(n) + 0.5) / n))))
    return lon, lat


def _zonal_bounds(dem, zones):
    """Per zone (count lo, count hi, value sum, sum slack). Zones burn in
    ascending fid order, later ones replacing earlier ones. A pixel's owner
    is in doubt for a zone if it lies near the zone's own edge, or inside
    the zone and near the edge of a later zone; only those pixels widen
    that zone's bounds."""
    n = dem.shape[0]
    lon, lat = _pixel_centers(n)
    LON = np.broadcast_to(lon[None, :], (n, n)).ravel()
    LAT = np.broadcast_to(lat[:, None], (n, n)).ravel()
    vals = dem.astype(np.float64).ravel()
    owner = np.full(n * n, -1, dtype=np.int64)
    tests = {}
    for z in sorted(zones, key=lambda p: p.fid):
        ins, near = ngon_contains(z, LON, LAT)
        owner[ins] = z.eas_id
        tests[z.eas_id] = (ins, near)
    out = {}
    near_later = np.zeros(n * n, dtype=bool)
    for z in sorted(zones, key=lambda p: p.fid, reverse=True):
        ins, near = tests[z.eas_id]
        doubt = near | (ins & near_later)
        near_later |= near
        m = owner == z.eas_id
        amb = int(doubt.sum())
        cnt = int(m.sum())
        if cnt == 0 and amb == 0:
            continue
        s = float(vals[m].sum())
        out[z.eas_id] = (cnt - amb, cnt + amb, s,
                         1e-9 * max(1.0, abs(s)) + float(np.abs(vals[doubt]).sum()))
    return out


WORKLOADS = {w.name: w for w in (PointJoin, RasterVector)}
