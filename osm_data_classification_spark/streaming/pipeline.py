"""Structured Streaming operators (SURVEY.md §2.9).

The reference is strictly batch (luigi DAG over files `[U]`); its
temporal analytics translate 1:1 to event-time streaming. Every
transformation here is **engine-agnostic**: it takes a DataFrame that
may come from `spark.read` or `spark.readStream` and returns the
transformed frame — the same code path is exercised in batch by the
catalog queries (operators/relational.py stream_* keys) and under a
real `readStream` + `trigger(availableNow)` in
tests/test_streaming.py.

:func:`replay` is the harness the streaming catalog entries share: it
stages each source's arrival batches as mtime-ordered parquet files,
reads them back through :func:`stream_events` one file per
micro-batch, runs the caller's streaming frame to a parquet append
sink under ``trigger(availableNow=True)`` and returns the sink's rows
detached from disk, so every temp file is gone when it returns.

Watermarks bound state: an aggregation over a 10^12-row unbounded
crawl stream only works if late data has a horizon; `withWatermark`
plus append output is what lets the state store evict closed windows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(spark: SparkSession, src_dir: str, max_files: int = 1) -> DataFrame:
    """File-source stream of events-shaped parquet: the local stand-in
    for a Kafka/Kinesis crawl feed; `maxFilesPerTrigger` forces
    multi-batch incremental execution."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def replay(
    spark: SparkSession,
    sources: dict[str, list[DataFrame]],
    query: Callable[..., DataFrame],
) -> DataFrame:
    """Run ``query`` as a real multi-batch stream and return its output.

    ``sources`` maps a source name to its arrival batches. Each batch
    is written as one parquet file whose mtime follows its position
    (FileStreamSource takes files oldest-mtime-first, so batch i is
    micro-batch i of that source); empty batches write no file.
    ``query`` is called with one :func:`stream_events` stream per
    source, by name, and its frame runs to a parquet sink in append
    mode under ``trigger(availableNow=True)``, which also fires the
    trailing no-data batches that move the watermark to its final
    value. When no batch fires the sink is never created, and an empty
    frame of the query's columns (all nullable, as the sink's are)
    keeps the 0-row contract. The result is ``localCheckpoint``-ed, so
    the staging dir can be deleted before returning."""
    base = tempfile.mkdtemp(prefix="stream_replay_")
    try:
        streams = {}
        for name, batches in sources.items():
            src = os.path.join(base, "src", name)
            for i, batch in enumerate(batches):
                stage = os.path.join(src, f"_stage{i}")
                batch.coalesce(1).write.mode("overwrite").parquet(stage)
                part = next(
                    (f for f in os.listdir(stage) if f.endswith(".parquet")),
                    None,
                )
                if part is not None:  # empty input at degenerate SFs
                    dst = os.path.join(src, f"batch{i}.parquet")
                    shutil.move(os.path.join(stage, part), dst)
                    t = 1_700_000_000 + 100 * i
                    os.utime(dst, (t, t))
                shutil.rmtree(stage)
            streams[name] = stream_events(spark, src)
        out = query(**streams)
        sink = os.path.join(base, "sink")
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            emitted = spark.read.parquet(sink)
        except AnalysisException:
            emitted = spark.createDataFrame([], out.schema.simpleString())
        return emitted.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def tumbling_daily(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Per-day tumbling counts with late-data watermark (A5's streaming
    twin). Append-mode-compatible: emits a window only once closed."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("day"), "user_id", "n_events")
    )


def session_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user (changeset-reconstruction analog
    `[U: chronology]`): events within ``gap`` of each other fuse into
    one session row."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator (SURVEY.md §2.9 'applyInPandasWithState
    for custom stateful operators'): per-user running event count and
    value total maintained in the state store across micro-batches.
    Emits the updated running totals for every user seen in a batch —
    the arbitrary-state shape that windows/sessions can't express
    (cross-batch monotone accumulators, custom eviction policies)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        import pandas as pd  # noqa: PLC0415 (worker-side import)

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful re-crawl dedup: first event per event_id wins, state
    bounded by the watermark (`dropDuplicatesWithinWatermark` — the
    url-re-crawl dedup analog for the pages stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# streaming tile ladder (foreachBatch incremental-rollup pattern)
# ---------------------------------------------------------------------------


def tile_partials(pages: DataFrame, res: int = 9) -> DataFrame:
    """Finest-res PARTIAL tiles of a pages frame — the mergeable unit
    of the streaming rollup. Every measure (counts, per-lang counts,
    day-of-week histogram) is associative+commutative, so per-batch
    partials merged later equal a single pass over all data; that is
    the whole contract of incremental tiling. Engine-agnostic: works
    on a batch frame or inside foreachBatch."""
    from ..geo.cells import cell_encode_col
    from ..operators.geo_ops import LANGS
    from ..sources.pages import geocode_cols

    lon, lat = geocode_cols(F.col("text"))
    enc = pages.select(
        lon.alias("__lon"),
        lat.alias("__lat"),
        F.col("lang").alias("__lang"),
        F.dayofweek("warc_ts").alias("__dow"),
    ).filter(
        # Same contract as the batch source (sources/pages.py
        # geocoded_pages): ungeocodable pages are DROPPED, never
        # NULL-tiled — otherwise junk input emits a NULL-cell tile
        # group and breaks batch≡stream equivalence (ADVICE r2).
        F.col("__lon").isNotNull() & F.col("__lat").isNotNull()
    ).select(
        cell_encode_col(F.col("__lon"), F.col("__lat"), res).alias("cell"),
        "__lang",
        "__dow",
    )
    return enc.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_edits"),
        *[
            F.sum(F.when(F.col("__lang") == lg, 1).otherwise(0)).alias(f"n_{lg}")
            for lg in LANGS
        ],
        F.array(
            *[
                F.sum(F.when(F.col("__dow") == d, 1).otherwise(0))
                for d in range(1, 8)
            ]
        ).alias("activity_hist"),
    )


def partials_batch_writer(partials_dir: str, res: int = 9):
    """foreachBatch sink: reduce each pages micro-batch to finest-res
    partial tiles and write them to the partials store, partitioned by
    ``batch_id`` with DYNAMIC partition overwrite. foreachBatch is
    at-least-once: a failure between the parquet commit and the
    checkpoint commit replays the micro-batch with the SAME batch_id —
    a plain append would then double-count every measure (ADVICE r2).
    Dynamic overwrite makes the replay REPLACE its own epoch partition
    (batch content is pinned by the checkpointed offsets, so the
    rewrite is byte-equivalent), which is the exactly-once recipe for
    deterministic foreachBatch sinks."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            tile_partials(batch_df, res=res)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(partials_dir)
        )

    return write
