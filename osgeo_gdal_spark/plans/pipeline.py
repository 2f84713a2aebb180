"""The `gdal pipeline` analog: named steps chained into a lazy DataFrame.

GDAL's unified CLI composes explicit operator DAGs —
``gdal pipeline read ... ! filter ... ! reproject ... ! write ...``
(vector step registry ``/root/reference/apps/gdalalg_vector_pipeline.cpp:
144-224``, raster registry ``apps/gdalalg_raster_pipeline.cpp:174-232``).
Steps exchange lazily-evaluated layers — exactly DataFrame chaining, so
each step here is a thin named wrapper over the engine's operators; the
pipeline object is just a logical plan builder (`tee` ≙ cached reuse,
`materialize` ≙ StageWriter checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


class Pipeline:
    """Fluent step chain. Every step returns self; .df() yields the plan."""

    def __init__(self, spark: SparkSession, df: DataFrame | None = None):
        self.spark = spark
        self._df = df

    # --- sources ---------------------------------------------------------
    def read_pages(self, sf_dir: str):
        from ..sources import pages as PG

        self._df = PG.pages_df(self.spark, sf_dir)
        return self

    def read_table(self, sf_dir: str, name: str):
        from ..session import read_table

        self._df = read_table(self.spark, sf_dir, name)
        return self

    # --- vector steps (gdalalg_vector_pipeline.cpp registry analogs) ------
    def filter(self, expr: str):                      # `filter`
        self._df = self._df.filter(F.expr(expr))
        return self

    def select(self, *cols):                          # `select`
        self._df = self._df.select(*cols)
        return self

    def sql(self, stmt: str, view="pipe"):            # `sql`
        self._df.createOrReplaceTempView(view)
        self._df = self.spark.sql(stmt)
        return self

    def limit(self, n: int):                          # `limit`
        self._df = self._df.limit(n)
        return self

    def sort(self, *cols):                            # `sort`
        self._df = self._df.orderBy(*cols)
        return self

    def explode(self, col: str, out: str):            # `explode`
        self._df = self._df.withColumn(out, F.explode(F.col(col)))
        return self

    def swap_xy(self, x="lon", y="lat"):              # `swap-xy`
        self._df = self._df.withColumn("__t", F.col(x)).withColumn(
            x, F.col(y)
        ).withColumn(y, F.col("__t")).drop("__t")
        return self

    def cells(self, zoom: int):                       # reproject+cell encode
        from ..operators import spatial_join as SJ

        self._df = SJ.with_cell_key(self._df, zoom)
        return self

    def join_polygons(self, polys, zoom=None, how="inner"):  # layer algebra
        from ..operators import spatial_join as SJ

        kw = {} if zoom is None else {"zoom": zoom}
        self._df = SJ.spatial_join(self.spark, self._df, polys, how=how, **kw)
        return self

    def clip(self, polys):                            # `clip` (semi)
        return self.join_polygons(polys, how="semi")

    def erase(self, polys):                           # layer-algebra Erase
        return self.join_polygons(polys, how="anti")

    # --- raster steps ------------------------------------------------------
    def tile(self, zoom: int):                        # `tile` (burn density)
        from ..operators import tiling as TL

        self._df = TL.burn_point_tiles(self._df, zoom)
        return self

    def overview(self):                               # `overview` (1 level)
        # density tiles (burn output, has n_points) and raster tiles
        # (dataset tiles, has dataset_id/band) are distinct row types —
        # dispatch to the matching AVERAGE reducer
        if "n_points" in self._df.columns:
            from ..operators import tiling as TL

            self._df = TL.reduce_tiles_average(self._df)
        else:
            from ..operators import raster_ops as RO

            self._df = RO.pyramid_average(self._df)
        return self

    def reclassify(self, mapping: dict, col="value"):  # `reclassify`
        expr = "CASE " + " ".join(
            f"WHEN {col} = {k} THEN {v}" for k, v in mapping.items()
        ) + f" ELSE {col} END"
        self._df = self._df.withColumn(col, F.expr(expr))
        return self

    def scale(self, scale=1.0, offset=0.0, out_dtype="float64"):  # `scale`
        from ..operators import raster_ops as RO

        self._df = RO.translate_tiles(self._df, scale, offset, out_dtype)
        return self

    def reproject(self, zoom: int, method="bilinear", nodata=0.0):  # `reproject`
        from ..operators import raster_ops as RO

        self._df = RO.warp_reproject_geodetic(self._df, zoom, method, nodata)
        return self

    def mosaic(self, other: "Pipeline | DataFrame", nodata: float):  # `mosaic`
        from ..operators import raster_ops as RO

        odf = other.df() if isinstance(other, Pipeline) else other
        self._df = RO.mosaic_overlay([self._df, odf], nodata)
        return self

    def contour(self, zoom: int, levels):             # raster -> segments
        from ..operators import contour as CT

        self._df = CT.contour_segments(self._df, zoom, levels)
        return self

    def polygonize(self, zoom: int):                  # raster -> polygons
        from ..operators import polygonize as PZ

        self._df = PZ.polygonize_polygons(self._df, zoom)
        return self

    def footprint(self, zoom: int, valid):            # validity -> polygon
        from ..operators import polygonize as PZ

        self._df = PZ.footprint(self._df, zoom, valid)
        return self

    def clip_rect(self, rect, keep_cols=("fid", "eas_id")):  # `clip` w/ geometry
        from ..operators import overlay as OV

        self._df = OV.clip_features_rect(self._df, rect, keep_cols=keep_cols)
        return self

    # --- corpus-curation steps (training-data pipeline tier) ---------------
    def quality_gate(self, max_rep_frac=0.18, min_uniq_frac=0.2):
        """Gopher repetition gate via the zero-shuffle per-row metric
        form; keeps passing documents (columns preserved)."""
        from ..operators import corpus as CP

        stats = CP.repetition_stats_rowwise(self._df).select(
            "doc_id", "rep_frac", "uniq_frac"
        )
        self._df = (
            self._df.join(stats, "doc_id")
            .filter(
                (F.coalesce(F.col("rep_frac"), F.lit(0.0)) <= max_rep_frac)
                & (F.col("uniq_frac") >= min_uniq_frac)
            )
            .drop("rep_frac", "uniq_frac")
        )
        return self

    def dedup_exact(self, text_col="text"):
        """Exact dedup: keep the smallest doc_id per md5(text)."""
        from pyspark.sql import Window

        w = Window.partitionBy(F.md5(F.col(text_col))).orderBy("doc_id")
        self._df = (
            self._df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        return self

    def sample_stratified(self, rates: dict, default_pct=20,
                          strat_col="lang"):
        """Deterministic doc_id-mod sampling (resumable, RNG-free)."""
        pct = F.lit(int(default_pct))
        for k, v in sorted(rates.items()):
            pct = F.when(F.col(strat_col) == k, F.lit(int(v))).otherwise(pct)
        self._df = self._df.filter((F.col("doc_id") % 100) < pct)
        return self

    def pack(self, budget: int, shard_size: int = 1000):
        """GPT-style sequence packing annotation (seq_id/seq_off/n_seqs
        joined back onto the surviving documents)."""
        from ..operators import corpus as CP

        plan = CP.pack_sequences(self._df, budget, shard_size=shard_size) \
            .select("doc_id", "seq_id", "seq_off", "n_seqs")
        self._df = self._df.join(plan, "doc_id")
        return self

    def hex_cells(self, size: float = 3.0):
        """Hex-cell density of the current (lon, lat) rows."""
        from ..operators import tiling as TL

        self._df = TL.hex_counts(self._df, size)
        return self

    # --- plumbing ----------------------------------------------------------
    def tee(self):                                    # `tee` ≙ cache + fork
        self._df = self._df.cache()
        return Pipeline(self.spark, self._df)

    def materialize(self, writer, stage: str):        # `materialize`
        df = self._df
        self._df = writer.run_stage(stage, ["all"], lambda _u: df)
        return self

    def write(self, path: str, partition_by=None, fmt="parquet"):  # `write`
        if fmt == "png":
            # PNG tile pyramid sink ({z}/{x}/{y}.png — gdal raster tile
            # layout, apps/gdalalg_raster_tile.cpp:509): encode raster
            # tile rows map-only, then write the file tree
            from ..operators import tiling as TL

            TL.write_png_pyramid(TL.encode_png_tiles(self._df), path)
            return self
        if fmt in ("gtiff", "tif"):
            # GeoTIFF tile pyramid sink ({z}/{x}/{y}.tif — the
            # reference's GIS-interchange tile output, frmts/gtiff/)
            from ..operators import tiling as TL

            TL.write_gtiff_pyramid(TL.encode_gtiff_tiles(self._df), path)
            return self
        w = self._df.write.mode("overwrite").format(fmt)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.save(path)
        return self

    def df(self) -> DataFrame:
        return self._df
