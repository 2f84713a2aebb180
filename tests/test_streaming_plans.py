"""Streaming wrapper, lineage/checkpoint resume, and pipeline API tests."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.plans.lineage import StageWriter
from osgeo_gdal_spark.plans.pipeline import Pipeline
from osgeo_gdal_spark.sources import pages as PG, polygons as PL
from osgeo_gdal_spark.streaming import stream as ST
from tests.conftest import SF_DIR


def test_streaming_event_windows_equal_batch(spark):
    """Bounded stream drained with availableNow == batch aggregation
    (FIXTURES.md §6)."""
    sdf = ST.windowed_event_counts(ST.read_events_stream(spark, SF_DIR))
    q = (
        sdf.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r["win_start"], r["event_type"]): r["n_events"]
        for r in ev.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_timestamp("win.start").alias("win_start"),
                "event_type", "n_events")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_tile_counts_equal_batch(spark):
    """The tiling engine under streaming matches batch tile counts."""
    docs_stream = ST.read_table_stream(spark, SF_DIR, "documents")
    pages_stream = PG.pages_df_from_documents(docs_stream)
    sdf = ST.streaming_tile_counts(pages_stream, zoom=4, window="365 days")
    q = (
        sdf.writeStream.format("memory").queryName("tile_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["gx"], r["gy"]): r["cnt"]
        for r in spark.sql(
            "SELECT gx, gy, SUM(cnt) AS cnt FROM tile_counts GROUP BY gx, gy"
        ).collect()
    }
    from osgeo_gdal_spark.operators import tiling as TL

    want = {
        (r["gx"], r["gy"]): r["cnt"]
        for r in TL.tile_counts(PG.pages_df(spark, SF_DIR), 4).collect()
    }
    assert got == want


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="lineage_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_lineage_checkpoint_and_resume(spark, tmpdir):
    w = StageWriter(spark, tmpdir, run_id="r1")
    calls = []

    def build(unit):
        calls.append(unit)
        n = int(unit)
        return spark.range(n * 10).withColumn("v", F.col("id") * 2)

    out = w.run_stage("tens", ["1", "2", "3"], build)
    assert sorted(calls) == ["1", "2", "3"]
    assert out.count() == 60
    m = w.metrics("tens")
    assert m.count() == 3
    assert set(m.columns) >= {"stage", "unit_id", "run_id", "rows", "secs",
                              "rows_per_sec", "ts"}
    # resume: nothing recomputed
    calls.clear()
    out2 = w.run_stage("tens", ["1", "2", "3"], build)
    assert calls == [] and out2.count() == 60
    # crash-resume: add a unit -> only it runs
    w.run_stage("tens", ["1", "2", "3", "4"], build)
    assert calls == ["4"]



def test_lineage_unit_cost_is_three_jobs(spark, tmpdir):
    """One fresh unit costs the data write, the metrics-row write and the
    caller's read_stage collect: no read-back count, no Python-RDD
    metrics row, no schema inference job."""
    w = StageWriter(spark, tmpdir, run_id="r1")
    sc = spark.sparkContext
    sc.setJobGroup("lineage_unit_cost", "one fresh StageWriter unit")
    try:
        rows = w.run_stage("cost", ["a"], lambda _u: spark.range(3)).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("lineage_unit_cost")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 3
    assert len(jobs) <= 3, jobs


def test_lineage_rows_observed_from_write(spark, tmpdir):
    """The metrics `rows` equals the rows written, empty units included,
    and read_stage returns the same columns, types and rows whether the
    writer knows the schema or a fresh writer infers it."""
    frames = {
        "full": spark.range(7).withColumn("v", F.col("id") * 2),
        "range0": spark.range(0).withColumn("v", F.col("id") * 2),
        "filtered": spark.range(5).withColumn("v", F.col("id") * 2)
        .filter("id > 10"),
    }
    w = StageWriter(spark, tmpdir, run_id="r1")
    mine = w.run_stage("rows", list(frames), lambda u: frames[u])
    got = {r["unit_id"]: r["rows"] for r in w.metrics("rows").collect()}
    assert got == {"full": 7, "range0": 0, "filtered": 0}
    on_disk = {r["unit_id"]: r["count"]
               for r in mine.groupBy("unit_id").count().collect()}
    assert on_disk == {"full": 7}
    fresh = StageWriter(spark, tmpdir, run_id="r2").read_stage("rows")
    assert mine.schema == fresh.schema
    assert mine.columns == ["id", "v", "unit_id", "run_id"]
    assert sorted(mine.collect()) == sorted(fresh.collect())


def test_lineage_unreadable_metrics_raise(spark, tmpdir):
    """A metrics table that exists but cannot be read must stop the
    stage, not silently re-run every unit."""
    import os

    from osgeo_gdal_spark.plans.lineage import StageMetricsError

    w = StageWriter(spark, tmpdir, run_id="r1")
    w.run_stage("bad", ["1"], lambda _u: spark.range(2))
    with open(os.path.join(tmpdir, "bad", "_metrics", "garbage.parquet"),
              "wb") as f:
        f.write(b"this is not parquet")
    calls = []

    def build(unit):
        calls.append(unit)
        return spark.range(2)

    with pytest.raises(StageMetricsError):
        w.run_stage("bad", ["1", "2"], build)
    assert calls == []


def test_local_df_fallback_counted(spark, monkeypatch):
    """An Arrow conversion failure falls back to the Python-RDD path and
    is counted, so driver tables cannot leave the Arrow path unseen."""
    import pyarrow as pa

    from osgeo_gdal_spark import session as S

    def fail(*_a, **_k):
        raise pa.ArrowInvalid("forced")

    before = S.local_df_fallbacks
    assert S.local_df(spark, [(1, "x")], "a LONG, b STRING").collect() \
        == [(1, "x")]
    assert S.local_df_fallbacks == before
    monkeypatch.setattr(spark, "_create_from_pandas_with_arrow", fail)
    df = S.local_df(spark, [(1, "x"), (2, None)], "a LONG, b STRING")
    assert S.local_df_fallbacks == before + 1
    assert sorted(df.collect()) == [(1, "x"), (2, None)]

def test_pipeline_chain_matches_direct(spark):
    p = (
        Pipeline(spark)
        .read_pages(SF_DIR)
        .filter("lang = 'en'")
        .join_polygons(PL.POLYGONS)
        .select("url", "eas_id")
    )
    got = {(r["url"], r["eas_id"]) for r in p.df().collect()}
    from osgeo_gdal_spark.operators import spatial_join as SJ

    direct = SJ.spatial_join(
        spark, PG.pages_df(spark, SF_DIR).filter("lang = 'en'"), PL.POLYGONS
    )
    want = {(r["url"], r["eas_id"]) for r in direct.select("url", "eas_id").collect()}
    assert got == want and len(got) > 0


def test_pipeline_raster_steps(spark):
    tiles = (
        Pipeline(spark)
        .read_pages(SF_DIR)
        .tile(3)
        .overview()
        .df()
    )
    rows = tiles.collect()
    assert all(r["zoom"] == 2 for r in rows)
    assert sum(r["n_points"] for r in rows) == 500


def test_streaming_stateful_dedup_first_seen(spark, tmpdir):
    """applyInPandasWithState exact dedup: duplicates planted across TWO
    separate input files (drained as separate micro-batches via
    maxFilesPerTrigger=1) are dropped by the cross-trigger state."""
    import pandas as pd

    import os
    src = os.path.join(tmpdir, "docs_in")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha", "beta", "alpha"],       # in-batch dup
    }).to_parquet(f"{src}/part1.parquet")
    pd.DataFrame({
        "doc_id": [4, 5, 6],
        "text": ["alpha", "gamma", "beta"],       # cross-batch dups
    }).to_parquet(f"{src}/part2.parquet")

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_dedup_first_seen(stream)
    q = (
        out.writeStream.format("memory").queryName("dedup_out")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    got = {r["text_hash"]: r["doc_id"] for r in rows}
    assert len(rows) == 3          # alpha, beta, gamma — each ONCE
    assert sorted(got.values()) in ([1, 2, 5],)  # first-seen doc ids


def test_streaming_quality_gate_equal_batch(spark):
    """The corpus quality gate is stateless per document, so the SAME
    operator code on a bounded stream (availableNow drain) equals the
    batch metrics row-for-row, verdict included."""
    from osgeo_gdal_spark.operators.corpus import repetition_stats

    sdf = ST.streaming_quality_gate(
        ST.read_table_stream(spark, SF_DIR, "documents")
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("qgate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["doc_id"]: (r["n_words"], r["top2_cnt"], r["keep"])
           for r in spark.sql("SELECT * FROM qgate").collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stats = repetition_stats(docs)
    want = {r["doc_id"]: (r["n_words"], r["top2_cnt"],
                          bool((r["rep_frac"] or 0.0) <= 0.18
                               and r["uniq_frac"] >= 0.2))
            for r in stats.collect()}
    assert len(got) == len(want) > 0
    assert got == want


def test_pipeline_corpus_chain(spark):
    """The curation pipeline as one DSL chain: read -> quality gate ->
    exact dedup -> stratified sample -> pack. Each stage's effect is
    cross-checked against the standalone operators."""
    from osgeo_gdal_spark.operators import corpus as CP
    from osgeo_gdal_spark.plans.pipeline import Pipeline

    p = (
        Pipeline(spark).read_table(SF_DIR, "documents")
        .quality_gate()
        .dedup_exact()
        .sample_stratified({"en": 80}, default_pct=50)
        .pack(budget=512, shard_size=100)
    )
    out = p.df()
    rows = out.collect()
    assert len(rows) > 0
    assert {"seq_id", "seq_off", "n_seqs"} <= set(out.columns)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stats = {r["doc_id"]: r for r in
             CP.repetition_stats_rowwise(docs).collect()}
    ids = {r["doc_id"] for r in rows}
    for i in ids:
        s = stats[i]
        assert (s["rep_frac"] or 0.0) <= 0.18 and s["uniq_frac"] >= 0.2
    # sample rule respected
    langs = {r["doc_id"]: r["lang"] for r in docs.collect()}
    for i in ids:
        pct = 80 if langs[i] == "en" else 50
        assert i % 100 < pct


def test_streaming_hex_counts_equal_batch(spark):
    """Windowed hex density on a bounded stream == batch groupBy with
    the same sqlgen cube-round fragments."""
    from osgeo_gdal_spark.functions import sqlgen as G
    from osgeo_gdal_spark.sources import pages as PG

    docs_stream = ST.read_table_stream(spark, SF_DIR, "documents")
    sdf = ST.streaming_hex_counts(
        PG.pages_df_from_documents(docs_stream), window="365 days")
    q = (
        sdf.writeStream.format("memory").queryName("hex_counts")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r["win_start"], r["hq"], r["hr"]): r["cnt"]
           for r in spark.sql("SELECT * FROM hex_counts").collect()}
    pages = PG.pages_df(spark, SF_DIR)
    qf = G.hex_qf_sql("lon", "lat", 3.0)
    rf = G.hex_rf_sql("lat", 3.0)
    want = {
        (r["win_start"], r["hq"], r["hr"]): r["cnt"]
        for r in pages.withColumn("qf", F.expr(qf))
        .withColumn("rf", F.expr(rf))
        .groupBy(
            F.window("warc_ts", "365 days").alias("win"),
            F.expr(G.hex_q_sql("qf", "rf")).alias("hq"),
            F.expr(G.hex_r_sql("qf", "rf")).alias("hr"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_timestamp("win.start").alias("win_start"),
                "hq", "hr", "cnt").collect()
    }
    assert got == want and len(got) > 0


def test_streaming_url_frontier_cross_trigger(spark, tmpdir):
    """Streaming URL-frontier screen: messy variants of the SAME
    canonical URL arriving in different micro-batches collapse to one
    first-seen row via cross-trigger state."""
    import os

    import pandas as pd

    src = os.path.join(tmpdir, "urls_in")
    os.makedirs(src, exist_ok=True)
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "url": ["https://WWW.Example1.com/a/?b=2&a=1",
                "http://other.com/x",
                "https://www.example1.com:443/a?a=1&b=2"],  # dup of 1
    }).to_parquet(f"{src}/p1.parquet")
    pd.DataFrame({
        "doc_id": [4, 5],
        "url": ["https://example1.com/a?b=2&a=1&utm_source=z",  # dup of 1
                "http://other.com/x#frag"],                     # dup of 2
    }).to_parquet(f"{src}/p2.parquet")

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = ST.streaming_url_frontier(stream)
    q = (out.writeStream.format("memory").queryName("url_frontier")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM url_frontier").collect()
    got = {r["canon_url"]: r["doc_id"] for r in rows}
    assert got == {"https://example1.com/a?a=1&b=2": 1,
                   "http://other.com/x": 2}


def test_stateful_timeout_evicts_state():
    """The timeout invocation of the shared first-seen group function
    must EVICT the key (state.remove) and emit nothing — the
    bounded-state contract for unbounded key spaces (ADVICE r4: the
    timeout used to re-arm forever, so state never shrank). Driven
    directly through the module-level factory with a fake GroupState
    (the applyInPandasWithState timeout path needs wall-clock passage
    a test cannot afford)."""
    import pandas as pd

    from osgeo_gdal_spark.streaming.stream import _first_seen_fn

    class FakeState:
        def __init__(self, has_timed_out, exists):
            self.hasTimedOut = has_timed_out
            self.exists = exists
            self.removed = False
            self.timeouts = []
            self.updated = None

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeouts.append(ms)

        def update(self, v):
            self.updated = v

    fn = _first_seen_fn("canon_url", timeout_minutes=5)
    # timeout invocation: evict, emit nothing, do NOT re-arm
    st = FakeState(has_timed_out=True, exists=True)
    assert list(fn(("u",), iter(()), st)) == []
    assert st.removed and st.timeouts == [] and st.updated is None
    # first sight: emit + arm the timeout
    st = FakeState(has_timed_out=False, exists=False)
    out = list(fn(("u",), iter([pd.DataFrame({"doc_id": [7, 3]})]), st))
    assert len(out) == 1 and out[0]["doc_id"].iloc[0] == 3
    assert st.updated == (True,) and st.timeouts == [300000]
    assert not st.removed
    # later sight: drop + RE-arm (sliding inactivity window)
    st = FakeState(has_timed_out=False, exists=True)
    assert list(fn(("u",), iter([pd.DataFrame({"doc_id": [9]})]), st)) == []
    assert st.timeouts == [300000] and not st.removed


def test_streaming_count_min_equal_batch(spark):
    """The count-min sketch under Structured Streaming: the merge-by-
    addition property means the streamed d×w counters (complete mode,
    availableNow) equal the batch sketch exactly."""
    from pyspark.sql import functions as F

    from osgeo_gdal_spark.operators.corpus import (
        CMS_A0, CMS_B0, CMS_DA, CMS_DB, FP_MOD, FP_WORD_BASE,
        count_min_sketch)

    docs_stream = ST.read_table_stream(spark, SF_DIR, "documents")
    words = docs_stream.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    h = words.select(F.expr(
        f"aggregate(split(word, ''), 0L, "
        f"(acc, c) -> (acc * {FP_WORD_BASE} + ascii(c)) % {FP_MOD})"
    ).alias("h"))
    pairs = ", ".join(
        f"{i}, (({CMS_A0 + CMS_DA * i}L * h + {CMS_B0 + CMS_DB * i}) "
        f"% {FP_MOD}) % 64"
        for i in range(4))
    sk = (h.select(F.expr(f"stack(4, {pairs}) AS (row, bucket)"))
          .groupBy("row", "bucket").count())
    q = (sk.writeStream.format("memory").queryName("cms_stream")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["row"], r["bucket"]): r["count"]
           for r in spark.sql("SELECT * FROM cms_stream").collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = {(r["row"], r["bucket"]): r["cnt"]
            for r in count_min_sketch(docs, d=4, w=64).collect()}
    assert got == want


def test_streaming_line_dedup_equal_batch_cross_trigger(spark, tmpdir):
    """Round-7 (VERDICT r6 item 7): the watermark streaming twin of the
    hash-first line dedup. Duplicate lines planted ACROSS two files
    (drained as separate micro-batches) must keep exactly the first
    file's copy, matching corpus.line_dedup_kept row-for-row on the
    same input; per-key state is the 16-byte digest and expires via
    dropDuplicatesWithinWatermark."""
    import os

    import pandas as pd

    from osgeo_gdal_spark.operators import corpus as CP

    src = os.path.join(tmpdir, "lines_in")
    os.makedirs(src, exist_ok=True)
    t0 = pd.Timestamp("2026-01-01T00:00:00")
    # width=2 lines; doc 1: "aa bb./cc dd" -> lines "aa bb.", "cc dd?"...
    def write(path, df):
        df["ts"] = df["ts"].astype("datetime64[us]")  # Spark rejects NANOS
        df.to_parquet(path)

    write(f"{src}/part1.parquet", pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["aa bb cc dd", "ee ff gg hh"],
        "ts": [t0, t0 + pd.Timedelta(minutes=1)],
    }))
    # doc 3 repeats doc 1's first chunk at the SAME (doc+idx)%4 phase so
    # the synthesized line text is byte-identical (cross-batch dup);
    # doc 4 is fresh
    write(f"{src}/part2.parquet", pd.DataFrame({
        "doc_id": [5, 4],
        "text": ["aa bb cc dd", "ii jj kk ll"],
        "ts": [t0 + pd.Timedelta(minutes=2), t0 + pd.Timedelta(minutes=3)],
    }))

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ST.streaming_line_dedup(stream, width=2, ts_col="ts")
    q = (
        out.writeStream.format("memory").queryName("line_dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r["lh"], r["doc_id"], r["line_idx"])
           for r in spark.sql("SELECT * FROM line_dedup_out").collect()}

    batch = spark.read.parquet(src)
    want = {(r["lh"], r["doc_id"], r["line_idx"])
            for r in CP.line_dedup_kept(
                CP.doc_lines(batch, width=2)).collect()}
    assert len(got) > 0
    assert got == want
    # and the planted dup really collided: fewer kept lines than lines
    n_lines = CP.doc_lines(batch, width=2).count()
    assert len(got) < n_lines
