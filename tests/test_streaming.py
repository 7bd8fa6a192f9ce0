"""Structured Streaming under a real readStream: file source split
into multiple trigger batches, availableNow processing, memory sink —
streaming results must equal the batch run of the identical
transformation (SURVEY.md §2.9)."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.io import load_table
from osm_data_classification_spark.streaming import (
    session_agg,
    stream_dedup,
    stream_events,
    tumbling_daily,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """events split into 4 parquet files so maxFilesPerTrigger=1 yields
    4 incremental micro-batches."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, df, mode: str):
    name = "sink_" + uuid.uuid4().hex[:8]
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_"))
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_daily_stream_equals_batch(spark, sf_dir, events_dir):
    stream = stream_events(spark, events_dir)
    got = _run_stream(spark, tumbling_daily(stream, watermark="40 days"), "complete")
    batch = tumbling_daily(load_table(spark, sf_dir, "events"), watermark="40 days")
    cols = ["day", "user_id", "n_events"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_session_agg_stream_equals_batch(spark, sf_dir, events_dir):
    stream = stream_events(spark, events_dir)
    got = _run_stream(spark, session_agg(stream, watermark="40 days"), "complete")
    batch = session_agg(load_table(spark, sf_dir, "events"), watermark="40 days")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_stream_dedup_no_duplicate_ids(spark, sf_dir, events_dir):
    """Feed the same files twice (union of two streams of the same dir
    would re-read; instead duplicate rows within the watermark window
    by unioning the source with itself via a second directory)."""
    d2 = tempfile.mkdtemp(prefix="stream_dup_")
    try:
        # two copies of every file → every event_id appears twice
        for f in os.listdir(events_dir):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(events_dir, f), os.path.join(d2, "a_" + f))
                shutil.copy(os.path.join(events_dir, f), os.path.join(d2, "b_" + f))
        stream = stream_events(spark, d2, max_files=2)
        got = _run_stream(spark, stream_dedup(stream, watermark="40 days"), "append")
        n_unique = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
        assert got.select("event_id").distinct().count() == got.count()
        assert got.count() == n_unique
    finally:
        shutil.rmtree(d2, ignore_errors=True)


def test_late_data_beyond_watermark_dropped(spark):
    """Controlled arrival order: batch 1 advances the watermark far past
    an old event that then arrives in batch 2 → the late event must NOT
    appear in the aggregation (bounded state is the point of the
    watermark at 10^12-row scale)."""
    sch = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    src = tempfile.mkdtemp(prefix="late_src_")
    try:
        on_time = spark.createDataFrame(
            [(1, "2024-01-10 12:00:00", 1, "a", 1.0, "{}"),
             (2, "2024-01-20 12:00:00", 1, "a", 1.0, "{}")],
            sch,
        ).withColumn("ts", F.to_timestamp("ts"))
        on_time.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))

        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string"
            )
            .parquet(src + "/*")
        )
        # append mode + live query: the first batch advances the
        # watermark to Jan-20 11:00; the late file arrives in a LATER
        # micro-batch, so its Jan-1 row targets a window that is
        # already closed and must be dropped.
        name = "late_" + uuid.uuid4().hex[:8]
        q = (
            tumbling_daily(stream, watermark="1 hour")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_late_"))
            .start()
        )
        try:
            q.processAllAvailable()  # batch 0: on-time file, watermark advances
            late = spark.createDataFrame(
                [(3, "2024-01-01 12:00:00", 1, "a", 1.0, "{}")],  # 19 days late
                sch,
            ).withColumn("ts", F.to_timestamp("ts"))
            late.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
            q.processAllAvailable()  # batch with the late row
            days = {r["day"].day for r in spark.table(name).collect()}
        finally:
            q.stop()
        assert 10 in days  # closed by the Jan-20 event advancing the watermark
        assert 1 not in days  # late event dropped by the watermark
        assert 20 not in days  # its window never closed → still in state
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_watermark_present_in_plan(spark, events_dir):
    stream = stream_events(spark, events_dir)
    plan = tumbling_daily(stream)._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


def test_stateful_running_totals(spark, sf_dir, events_dir):
    """applyInPandasWithState: state accumulates across micro-batches;
    the LAST emitted row per user equals the batch aggregate."""
    from osm_data_classification_spark.streaming import running_user_totals

    stream = stream_events(spark, events_dir)
    name = "state_" + uuid.uuid4().hex[:8]
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_state_"))
        .start()
    )
    q.awaitTermination(120)
    import pandas as pd

    got = spark.table(name).toPandas()
    # update mode appends one row per (batch, user); the final state is
    # the row with the max n_events per user
    final = got.sort_values("n_events").groupby("user_id").last()
    exp = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .toPandas()
        .set_index("user_id")
        .sort_index()
    )
    assert final["n_events"].sort_index().tolist() == exp["n_events"].tolist()
    pd.testing.assert_series_equal(
        final["total_value"].sort_index(),
        exp["total_value"],
        check_names=False,
        rtol=1e-9,
    )
    # state genuinely accumulated across >1 batch: some user must have
    # been emitted more than once
    assert (got.groupby("user_id").size() > 1).any()


def test_streaming_tile_aggregation_equals_batch(spark, sf_dir):
    """The flagship tile path under readStream: pages stream in over 4
    micro-batches, the SAME JVM geocode/encode expressions apply, and
    complete-mode tile aggregation converges to the batch tile table —
    the batch-first-streaming-ready contract of SURVEY.md §2.9."""
    from osm_data_classification_spark.geo.cells import cell_encode_col
    from osm_data_classification_spark.sources.pages import geocode_cols, synth_pages

    src = tempfile.mkdtemp(prefix="stream_pages_")
    try:
        pages = synth_pages(spark, sf_dir).drop("html")  # binary col: keep files small
        pages.repartition(4).write.mode("overwrite").parquet(src)

        def tiles_of(df):
            lon, lat = geocode_cols(F.col("text"))
            enc = df.select(
                "url",
                "lang",
                "warc_ts",
                cell_encode_col(lon, lat, 7).alias("cell"),
            )
            return enc.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n_edits"),
                F.approx_count_distinct("url").alias("n_urls_approx"),
            )

        stream = (
            spark.readStream.schema("url string, warc_ts timestamp, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        got = _run_stream(spark, tiles_of(stream), "complete")
        batch = tiles_of(spark.read.parquet(src))
        cols = ["cell", "n_edits", "n_urls_approx"]
        assert _rows(got, cols) == _rows(batch, cols)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_streaming_tile_ladder_equals_batch(spark, sf_dir):
    """Streaming resolution-ladder rollup via foreachBatch: pages
    stream in over 4 micro-batches, each reduced to res-9 PARTIAL
    tiles appended to a store; compaction (merge) + ladder over the
    partials must equal the single-pass batch ladder — the
    associativity contract that makes incremental tiling correct."""
    from osm_data_classification_spark.operators.geo_ops import tile_ladder
    from osm_data_classification_spark.sources.pages import synth_pages
    from osm_data_classification_spark.streaming.pipeline import (
        stream_tiles,
        tile_partials,
    )

    src = tempfile.mkdtemp(prefix="stream_ladder_src_")
    partials_dir = tempfile.mkdtemp(prefix="stream_ladder_part_") + "/p"
    try:
        pages = synth_pages(spark, sf_dir).drop("html")
        pages.repartition(4).write.mode("overwrite").parquet(src)

        ckpt = tempfile.mkdtemp(prefix="ckpt_ladder_")
        streamed = stream_tiles(spark, src, partials_dir, ckpt, 9, 5).toPandas()
        shutil.rmtree(ckpt, ignore_errors=True)

        partials = spark.read.parquet(partials_dir)
        # really incremental: more partial rows than distinct cells
        assert partials.count() > partials.select("cell").distinct().count()
        batch = tile_ladder(
            tile_partials(spark.read.parquet(src), res=9), 9, 5
        ).toPandas()

        def canon(df):
            df = df.copy()
            df["activity_hist"] = df["activity_hist"].map(
                lambda a: "|".join(str(int(v)) for v in a)
            )
            return sorted(map(tuple, df[sorted(df.columns)].to_numpy()))

        assert canon(streamed) == canon(batch)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(os.path.dirname(partials_dir), ignore_errors=True)


def test_stream_tiles_empty_source_gives_empty_ladder(spark, tmp_path):
    """A source with no files fires no micro-batch, so the partials
    store is never created: the ladder is empty and keeps the columns
    of the batch ladder."""
    from osm_data_classification_spark.operators.geo_ops import tile_ladder
    from osm_data_classification_spark.streaming.pipeline import (
        stream_tiles,
        tile_partials,
    )

    (tmp_path / "src").mkdir()
    ladder = stream_tiles(
        spark, str(tmp_path / "src"), str(tmp_path / "p"), str(tmp_path / "ckpt"), 9, 5
    )
    assert ladder.count() == 0
    no_pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, text string, lang string"
    )
    assert ladder.columns == tile_ladder(tile_partials(no_pages, res=9), 9, 5).columns


def test_replayed_epoch_not_double_counted(spark, sf_dir):
    """foreachBatch is at-least-once: a micro-batch can be re-run with
    the SAME batch_id after a failure between sink commit and
    checkpoint commit. The partials writer must make the replay
    REPLACE its epoch (dynamic partition overwrite), so the compacted
    tiles equal the no-failure run (round-2 ADVICE, medium)."""
    from osm_data_classification_spark.operators.geo_ops import tile_rollup
    from osm_data_classification_spark.sources.pages import synth_pages
    from osm_data_classification_spark.streaming.pipeline import (
        partials_batch_writer,
        tile_partials,
    )

    pages = synth_pages(spark, sf_dir).drop("html")
    b0 = pages.filter(F.crc32("url") % 2 == 0)
    b1 = pages.filter(F.crc32("url") % 2 == 1)
    pdir = tempfile.mkdtemp(prefix="replay_partials_") + "/p"
    try:
        write = partials_batch_writer(pdir, res=7)
        write(b0, 0)
        write(b1, 1)
        write(b0, 0)  # replayed epoch 0 — must replace, not append
        merged = tile_rollup(
            spark.read.parquet(pdir).drop("batch_id"), 7, 7
        ).toPandas()
        expected = tile_partials(b0.unionByName(b1), res=7).toPandas()

        def canon(df):
            df = df.copy()
            df["activity_hist"] = df["activity_hist"].map(
                lambda a: "|".join(str(int(v)) for v in a)
            )
            return sorted(map(tuple, df[sorted(df.columns)].to_numpy()))

        assert canon(merged) == canon(expected)
    finally:
        shutil.rmtree(os.path.dirname(pdir), ignore_errors=True)


def test_tile_partials_drop_ungeocodable_pages(spark):
    """The streaming ladder honors the same contract as the batch
    source: pages that geocode to NULL are dropped, never emitted as a
    NULL-cell tile group (round-2 ADVICE, low)."""
    from osm_data_classification_spark.streaming.pipeline import tile_partials

    pages = spark.createDataFrame(
        [
            ("u1", "hello loc_5_9 world", "en"),
            ("u2", "no token at all", "en"),
            ("u3", "also none", "fr"),
        ],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.current_timestamp())
    rows = tile_partials(pages, res=7).collect()
    assert len(rows) == 1
    assert rows[0]["cell"] is not None
    assert rows[0]["n_edits"] == 1


def test_stream_dedup_recrawl_equals_batch_aggregate(spark, sf_dir):
    """The streaming re-crawl dedup entry must reduce the duplicated
    stream (events + exact copies of every third event) back to the
    per-type aggregate of the ORIGINAL table — across micro-batches,
    whichever batch each copy landed in. If the dedup dropped nothing,
    sum_event_id double-counts every injected copy and this fails."""
    from osm_data_classification_spark.operators.relational import (
        CATALOG as REL,
    )

    got = {
        r["event_type"]: (r["n_events"], r["sum_event_id"], r["n_users"])
        for r in REL["stream_dedup_recrawl"].fn(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the injection must be non-trivial at this sf
    assert ev.where(F.col("event_id") % 3 == 0).count() > 0
    want = {
        r["event_type"]: (r["n_events"], r["sum_event_id"], r["n_users"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .collect()
    }
    assert got == want


def test_stream_stream_join_equals_batch_interval_join(spark, sf_dir):
    """The stream-stream watermarked interval join entry must emit
    exactly the batch interval join of the ORIGINAL fetch/robots
    splits — every cross-micro-batch match found (state buffered long
    enough), every injected late replay contributing zero pairs (late
    input dropped / matching state evicted), nothing emitted twice."""
    from osm_data_classification_spark.operators.relational import (
        CATALOG as REL,
    )

    got = REL["stream_stream_join"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    f = ev.where(F.col("event_id") % 2 == 0).select(
        "user_id",
        F.col("event_id").alias("fetch_id"),
        F.col("ts").alias("fts"),
    )
    r = ev.where(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("robots_id"),
        F.col("ts").alias("rts"),
    )
    want = f.join(
        r,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("rts") >= F.col("fts") - F.expr("INTERVAL 2 DAYS"))
        & (F.col("rts") <= F.col("fts")),
    ).select("fetch_id", "robots_id")
    got_pairs = {(x["fetch_id"], x["robots_id"]) for x in got.collect()}
    want_pairs = {(x["fetch_id"], x["robots_id"]) for x in want.collect()}
    assert got.count() == len(got_pairs), "a pair was emitted twice"
    assert got_pairs == want_pairs


def test_stream_stream_left_join_null_timing(spark, sf_dir):
    """Left-outer stream-stream join: matched pairs equal the batch
    interval join; null-extended rows appear for EXACTLY the unmatched
    fetches older than the final watermark (max ts - 1h) — open
    fetches newer than it must not be flushed on shutdown; no fetch id
    may appear both matched and null-extended."""
    from osm_data_classification_spark.operators.relational import (
        CATALOG as REL,
    )

    got = REL["stream_stream_left_join"].fn(spark, sf_dir).collect()
    matched = [(r["fetch_id"], r["robots_id"]) for r in got if r["robots_id"] is not None]
    nulls = {r["fetch_id"] for r in got if r["robots_id"] is None}
    assert nulls, "no watermark-closed unmatched fetch emitted"
    assert not nulls & {f for f, _ in matched}, (
        "a fetch emitted both matched and null-extended — left state "
        "expired before its match arrived"
    )

    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("cut")
    ).first()["cut"]
    f = ev.where(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("fetch_id"), F.col("user_id"), F.col("ts")
    )
    r = ev.where(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("ru"), F.col("ts").alias("rts")
    )
    want_null = {
        x["fetch_id"]
        for x in f.join(
            r,
            (F.col("user_id") == F.col("ru"))
            & (F.col("rts") >= F.col("ts") - F.expr("INTERVAL 2 DAYS"))
            & (F.col("rts") <= F.col("ts")),
            "left_anti",
        )
        .filter(F.col("ts") < F.lit(wm))
        .collect()
    }
    assert nulls == want_null
