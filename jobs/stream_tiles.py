"""Streaming tile-ladder job: incremental rollup of a pages stream.

Run::

    spark-submit --py-files engine.zip jobs/stream_tiles.py \
        --src /tmp/pages_stream --partials /tmp/tile_partials \
        --out /tmp/tiles_out [--res 9] [--bottom 5]

The production shape for unbounded crawl feeds (SURVEY.md §2.9 +
NOTES_r2.md): a file-source stream (swap for Kafka on a cluster) is
reduced per micro-batch to finest-res PARTIAL tiles appended to the
partials store (streaming/pipeline.py:partials_batch_writer — every
measure is associative, so per-batch partials merged later equal a
single pass); a compaction then merges the partials and rolls the
resolution ladder, writing one parquet per level. Batch≡stream is
pinned by tests/test_streaming.py::test_streaming_tile_ladder_equals_batch.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_data_classification_spark.session import get_spark  # noqa: E402
from osm_data_classification_spark.streaming.pipeline import (  # noqa: E402
    partials_batch_writer,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True, help="pages parquet stream dir")
    ap.add_argument("--partials", required=True, help="partial-tile store")
    ap.add_argument("--out", required=True, help="ladder output dir")
    ap.add_argument("--res", type=int, default=9)
    ap.add_argument("--bottom", type=int, default=5)
    ap.add_argument("--checkpoint", default=None)
    args = ap.parse_args()

    spark = get_spark("stream-tiles")
    spark.sparkContext.setLogLevel("WARN")

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, text string, lang string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(args.src)
    )
    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="ckpt_stream_tiles_")
    q = (
        stream.writeStream.foreachBatch(
            partials_batch_writer(args.partials, res=args.res)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()

    from osm_data_classification_spark.operators.geo_ops import (
        tile_ladder,
        tile_rollup,
    )

    # batch_id is a partition column: replayed epochs were already
    # REPLACED at write time (dynamic partition overwrite in
    # partials_batch_writer), so the compaction just drops it.
    partials = spark.read.parquet(args.partials).drop("batch_id")
    merged = tile_rollup(partials, args.res, args.res)
    ladder = tile_ladder(merged, args.res, args.bottom)
    ladder.write.mode("overwrite").partitionBy("res").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote {n} ladder rows (res {args.res}..{args.bottom}) to {args.out}")


if __name__ == "__main__":
    main()
