"""Checkpointed stage writes with per-partition lineage + resumability.

North-rule requirement: every stage checkpoints with per-partition lineage
and throughput metrics so any run is resumable mid-pyramid. The GDAL
precedent is the pipeline's ``materialize`` step
(``/root/reference/apps/gdalalg_vector_pipeline.cpp`` registry; SURVEY
§2.L: materialize ≙ checkpoint).

Layout (parquet here; the Iceberg mapping is 1:1 — ``writeTo(...).append()``
with the same lineage columns, and the metrics table as a separate Iceberg
table; this container has no Iceberg runtime jars so the parquet layout is
the tested path):

    {root}/{stage}/data/...            partitioned by unit_id
    {root}/{stage}/_metrics/...        one row per written unit

A **unit** is the resumability grain — e.g. a zoom level, a tile-key range,
a date bucket. ``completed_units`` reads the metrics table; ``run_stage``
anti-joins the unit list against it so a re-run only computes missing
units (crash-resume = re-invoke the same driver).

Per-unit cost: the data write (one job, plus any shuffle stages the unit's
own plan needs) and a one-row metrics write (one job); nothing is read
back. The metrics ``rows`` is counted from the data write itself
(``DataFrame.observe``); the metrics row is an Arrow local relation
(``session.local_df``), so writing it starts no Python worker; a missing
metrics table is detected with the Hadoop FS instead of a failed read;
and ``read_stage`` reuses the schema of the frame this writer just wrote
(a writer resuming in a new process infers it from the parquet footers,
one more job)."""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..session import local_df

METRICS_SCHEMA = ("stage STRING, unit_id STRING, run_id STRING, rows BIGINT, "
                  "secs DOUBLE, rows_per_sec DOUBLE, ts BIGINT")


class StageMetricsError(RuntimeError):
    """A stage's metrics table exists but cannot be read, so which units
    are done is unknown. Raised instead of re-running every unit."""


class StageWriter:
    def __init__(self, spark: SparkSession, root: str, run_id: str):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        self._schemas = {}   # stage -> schema of the last unit written here

    def _data_path(self, stage: str) -> str:
        return f"{self.root}/{stage}/data"

    def _metrics_path(self, stage: str) -> str:
        return f"{self.root}/{stage}/_metrics"

    def completed_units(self, stage: str) -> set:
        """Unit ids with a metrics row. A missing metrics table means no
        unit is done; one that exists but cannot be read raises
        :class:`StageMetricsError`."""
        path = self._metrics_path(stage)
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        if not jpath.getFileSystem(
                self.spark._jsc.hadoopConfiguration()).exists(jpath):
            return set()
        try:
            rows = self.metrics(stage).select("unit_id").distinct().collect()
        except (Py4JJavaError, PySparkException) as e:
            raise StageMetricsError(
                f"cannot read the metrics table {path}: {e}") from e
        return {r["unit_id"] for r in rows}

    def run_stage(self, stage: str, units: list, build_unit) -> DataFrame:
        """Compute and persist each not-yet-completed unit.

        units: list of unit ids (strings). build_unit(unit_id) -> DataFrame.
        Each unit lands atomically: data first (overwrite of its partition
        dir), then the metrics row — a unit missing its metrics row is
        re-run, so partial writes never count as done."""
        done = self.completed_units(stage)
        todo = [u for u in units if u not in done]
        for unit in todo:
            t0 = time.perf_counter()
            df = build_unit(unit).withColumn("unit_id", F.lit(unit)).withColumn(
                "run_id", F.lit(self.run_id)
            )
            written = Observation()
            df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite").parquet(f"{self._data_path(stage)}/{unit}")
            secs = time.perf_counter() - t0
            rows = written.get["rows"]
            self._schemas[stage] = df.schema
            local_df(
                self.spark,
                [(stage, unit, self.run_id, rows, float(secs),
                  float(rows / secs) if secs > 0 else 0.0, int(time.time()))],
                METRICS_SCHEMA,
            ).write.mode("append").parquet(self._metrics_path(stage))
        return self.read_stage(stage)

    def read_stage(self, stage: str) -> DataFrame:
        reader = self.spark.read.option("recursiveFileLookup", "false")
        if stage in self._schemas:
            reader = reader.schema(self._schemas[stage])
        return reader.parquet(f"{self._data_path(stage)}/*")

    def metrics(self, stage: str) -> DataFrame:
        return self.spark.read.schema(METRICS_SCHEMA).parquet(
            self._metrics_path(stage))
