"""Streaming tile-ladder job: incremental rollup of a pages stream.

Run::

    spark-submit --py-files engine.zip jobs/stream_tiles.py \
        --src /tmp/pages_stream --partials /tmp/tile_partials \
        --out /tmp/tiles_out [--res 9] [--bottom 5] [--checkpoint DIR]

The production shape for unbounded crawl feeds (SURVEY.md §2.9 +
NOTES_r2.md): a file-source stream (swap for Kafka on a cluster) is
reduced per micro-batch to finest-res PARTIAL tiles in the partials
store, then the partials are merged and the resolution ladder rolled;
the job writes it as one parquet partition per level. All of that is
streaming/pipeline.py:stream_tiles, the harness the
``stream_tile_ladder`` catalog entry runs too; this job adds the CLI
and the writer. Without ``--checkpoint`` the stream checkpoints to a
temp dir that is removed when the job ends. A source with no files writes 0 rows. Batch≡stream is
pinned by tests/test_streaming.py::test_streaming_tile_ladder_equals_batch.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_data_classification_spark.session import get_spark  # noqa: E402
from osm_data_classification_spark.streaming.pipeline import stream_tiles  # noqa: E402


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

    # a checkpoint the job makes up has a random name no later run could
    # resume from, so it goes when the job ends; a --checkpoint stays
    ckpt = args.checkpoint or tempfile.mkdtemp(prefix="ckpt_stream_tiles_")
    try:
        ladder = stream_tiles(
            spark, args.src, args.partials, ckpt, res=args.res, bottom=args.bottom
        )
        ladder.write.mode("overwrite").partitionBy("res").parquet(args.out)
    finally:
        if args.checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    # with the ladder's schema: a 0-row ladder writes no parquet file
    n = spark.read.schema(ladder.schema).parquet(args.out).count()
    print(f"wrote {n} ladder rows (res {args.res}..{args.bottom}) to {args.out}")


if __name__ == "__main__":
    main()
