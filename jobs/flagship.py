"""Flagship spatial-join + tiling job (SURVEY.md §3.2; BASELINE.json:2).

Run::

    spark-submit --py-files engine.zip jobs/flagship.py \
        --sf-dir /root/testdata/sf0.1 --multiplier 40 \
        --out /tmp/flagship_out [--resume]

Stages (each checkpointed with lineage, resumable mid-pipeline):
  1. pages    — synthesize/scan + geocode + cell-encode
  2. matched  — point-in-polygon join vs broadcast boundary index
  3. tiles    — per-tile contributor/edit feature vectors + boundary hits

The tiles checkpoint is checked against the uncheckpointed fused
``jobs_api.flagship`` plan: both must have the same ``table_checksum``.

``--resume`` skips any stage whose checkpoint + lineage validate
(BASELINE.json:6 "exact resume-from-checkpoint").
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_data_classification_spark.io import run_stage, table_checksum  # noqa: E402
from osm_data_classification_spark.jobs_api import flagship  # noqa: E402
from osm_data_classification_spark.operators.geo_ops import (  # noqa: E402
    pip_join,
    tile_aggregate,
)
from osm_data_classification_spark.session import get_spark  # noqa: E402
from osm_data_classification_spark.sources.boundaries import packed_boundaries  # noqa: E402
from osm_data_classification_spark.sources.pages import (  # noqa: E402
    geocoded_pages,
    with_contributor,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--multiplier", type=int, default=40)
    ap.add_argument("--res", type=int, default=7)
    ap.add_argument("--n-boundaries", type=int, default=50)
    ap.add_argument("--out", default="/tmp/flagship_out")
    ap.add_argument("--resume", action="store_true", help="reuse valid checkpoints")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("flagship", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    # self-ship the package to executors (the --py-files contract);
    # harmless no-op when spark-submit already shipped engine.zip
    from tools.package import build

    spark.sparkContext.addPyFile(build("/tmp/engine_flagship.zip"))
    t0 = time.perf_counter()

    pages = run_stage(
        spark,
        os.path.join(args.out, "pages"),
        lambda: with_contributor(
            geocoded_pages(spark, args.sf_dir, multiplier=args.multiplier, res=args.res)
        ),
        cell_col="cell",
        force=not args.resume,
    )
    packed = packed_boundaries(args.n_boundaries)
    matched = run_stage(
        spark,
        os.path.join(args.out, "matched"),
        lambda: pip_join(pages, packed, res=args.res),
        cell_col="cell",
        force=not args.resume,
    )
    tiles = run_stage(
        spark,
        os.path.join(args.out, "tiles"),
        lambda: tile_aggregate(
            matched,
            res=args.res,
            cell_col="cell",
            contributor_col="contributor",
            boundary_col="boundary_id",
        ),
        cell_col="cell",
        force=not args.resume,
    )
    elapsed = time.perf_counter() - t0
    n_pages = pages.count()
    n_tiles = tiles.count()
    checksum = table_checksum(tiles)
    print(
        f"flagship: {n_pages} pages -> {n_tiles} tiles in {elapsed:.2f}s "
        f"({n_pages / elapsed:.0f} pages/sec); checksum={checksum}"
    )
    fused = table_checksum(
        flagship(
            spark,
            args.sf_dir,
            multiplier=args.multiplier,
            n_boundaries=args.n_boundaries,
            res=args.res,
        )
    )
    if checksum != fused:
        raise RuntimeError(f"checkpointed tiles checksum {checksum} != fused flagship {fused}")
    spark.stop()


if __name__ == "__main__":
    main()
