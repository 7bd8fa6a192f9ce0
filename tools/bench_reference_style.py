"""Single-node reference-style baseline vs the Spark engine.

The reference is an eager, single-threaded pandas pipeline (SURVEY.md
§3.1); the north-star asks the new engine to match-or-beat its
single-node throughput at the same data scale. This harness implements
the flagship trace (synth pages → geocode → cell encode → PIP join →
tile aggregation) the reference's way — one thread, eager pandas/numpy,
no Spark — using the very same numpy kernels the test oracles use, then
runs the Spark engine on the identical input and writes the comparison
as the last section of BENCH/BASELINE.md, replacing the previous one.

Usage: python tools/bench_reference_style.py [--multiplier 40]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from osm_data_classification_spark.geo.cells import encode_np  # noqa: E402
from osm_data_classification_spark.sources.boundaries import packed_boundaries  # noqa: E402
from osm_data_classification_spark.sources.pages import (  # noqa: E402
    LAT_OFF,
    LAT_STEP,
    LON_OFF,
    LON_STEP,
    MEGA_TOKENS,
    N_I,
    N_J,
)

RES = 7


def pandas_synth_pages(docs: pd.DataFrame, multiplier: int) -> pd.DataFrame:
    """Eager single-thread twin of sources.pages.synth_pages."""
    rows = docs.loc[docs.index.repeat(multiplier)].reset_index(drop=True)
    rep = np.tile(np.arange(multiplier), len(docs))
    pid = rows["doc_id"].to_numpy() * multiplier + rep
    mega_idx = pid % 10
    mega_i = np.array([i for i, _ in MEGA_TOKENS])[pid % 5]
    mega_j = np.array([j for _, j in MEGA_TOKENS])[pid % 5]
    i = np.where(mega_idx < 3, mega_i, (pid * 2654435761) % N_I)
    j = np.where(mega_idx < 3, mega_j, (pid * 40503) % N_J)
    text = rows["text"].to_numpy() + np.char.add(
        np.char.add(" loc_", i.astype(str)), np.char.add("_", j.astype(str))
    )
    url = np.char.add(
        np.char.add("https://site", (pid % 97).astype(str)),
        np.char.add(".example/p/", pid.astype(str)),
    )
    n_crawls = np.where(pid % 5 == 0, (pid % 4) + 2, 1)
    base = pd.DataFrame(
        {"url": url, "text": text, "lang": rows["lang"].to_numpy(), "page_id": pid,
         "n_crawls": n_crawls}
    )
    base = base.loc[base.index.repeat(base["n_crawls"])].reset_index(drop=True)
    crawl = np.concatenate([np.arange(1, n + 1) for n in n_crawls])
    days = (base["page_id"].to_numpy() * 31 + crawl * 7) % 90
    mins = (base["page_id"].to_numpy() * 17 + crawl * 13) % 1440
    base["warc_ts"] = (
        pd.Timestamp("2024-01-01")
        + pd.to_timedelta(days, unit="D")
        + pd.to_timedelta(mins, unit="m")
    )
    return base.drop(columns=["n_crawls"])


_LOC = re.compile(r"loc_(\d+)_(\d+)")


def pandas_flagship(sf_dir: str, multiplier: int) -> tuple[pd.DataFrame, int]:
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"))[
        ["doc_id", "text", "lang"]
    ]
    pages = pandas_synth_pages(docs, multiplier)
    n_pages = len(pages)
    # geocode (vectorized regex extract, the pandas way)
    ij = pages["text"].str.extract(_LOC)
    lon = -180.0 + ij[0].astype(np.int64) * LON_STEP + LON_OFF
    lat = -90.0 + ij[1].astype(np.int64) * LAT_STEP + LAT_OFF
    pages["lon"], pages["lat"] = lon.to_numpy(), lat.to_numpy()
    pages["cell"] = encode_np(pages["lon"].to_numpy(), pages["lat"].to_numpy(), RES)
    pages["contributor"] = (
        pages["url"].str.extract(r"site(\d+)")[0].astype(np.int64)
    )
    # PIP join: bbox candidates then exact ray cast (eager, per boundary)
    pk = packed_boundaries(50)
    matched_parts = []
    for b in range(pk.n_boundaries):
        xmin, ymin, xmax, ymax = pk.bbox[b]
        m = (
            (pages["lon"] >= xmin)
            & (pages["lon"] <= xmax)
            & (pages["lat"] >= ymin)
            & (pages["lat"] <= ymax)
        )
        cand = pages[m]
        if len(cand) == 0:
            continue
        inside = pk.contains(
            np.full(len(cand), b), cand["lon"].to_numpy(), cand["lat"].to_numpy()
        )
        hit = cand[inside].copy()
        hit["boundary_id"] = pk.boundary_id[b]
        matched_parts.append(hit)
    matched = pd.concat(matched_parts, ignore_index=True)
    # tile aggregation
    matched["dow"] = matched["warc_ts"].dt.dayofweek  # rate only; shape parity
    tiles = matched.groupby("cell").agg(
        n_edits=("url", "size"),
        n_contributors=("contributor", "nunique"),
        n_urls=("url", "nunique"),
    )
    return tiles, n_pages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--multiplier", type=int, default=400)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    # --- single-thread pandas (the reference's engine style) ------------
    t0 = time.perf_counter()
    tiles, n_pages = pandas_flagship(args.sf_dir, args.multiplier)
    pandas_s = time.perf_counter() - t0
    pandas_rate = n_pages / pandas_s

    # --- the Spark engine, same input -----------------------------------
    from osm_data_classification_spark.jobs_api import flagship
    from osm_data_classification_spark.session import get_spark

    cpus = os.cpu_count()
    spark = get_spark("ref-compare", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    flagship(spark, args.sf_dir, multiplier=1).count()  # warm
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        n_tiles = flagship(spark, args.sf_dir, multiplier=args.multiplier).count()
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    spark_rate = n_pages / best
    spark.stop()

    ratio = spark_rate / pandas_rate
    result = {
        "pages": n_pages,
        "pandas_sec": round(pandas_s, 2),
        "pandas_pages_per_sec": round(pandas_rate),
        "spark_sec": round(best, 2),
        "spark_pages_per_sec": round(spark_rate),
        "speedup_vs_reference_style": round(ratio, 2),
        "pandas_tiles": len(tiles),
        "spark_tiles": n_tiles,
    }
    print(json.dumps(result))

    marker = "\n## Single-node reference-style comparison"
    md = f"""{marker}

The reference engine is eager single-threaded pandas (SURVEY.md §3.1).
The identical flagship trace implemented that way (same numpy kernels,
one thread) vs this engine on the same {n_pages:,}-page input:

| engine | wall sec | pages/sec |
|---|---|---|
| reference-style pandas (1 thread) | {pandas_s:.2f} | {pandas_rate:,.0f} |
| this engine (local[{cpus}]) | {best:.2f} | {spark_rate:,.0f} |

→ **{ratio:.1f}× the reference-style single-node throughput** at the
same data scale (north-star: "matches-or-beats"). Regenerate:
`python tools/bench_reference_style.py --multiplier {args.multiplier}`.
"""
    # the section runs to the end of the file (tools/bench_scaling.py
    # keeps it there), so a rerun replaces it instead of repeating it
    path = os.path.join(ROOT, "BENCH", "BASELINE.md")
    old = open(path).read() if os.path.exists(path) else ""
    if marker in old:
        old = old[: old.index(marker)]
    with open(path, "w") as f:
        f.write(old.rstrip("\n") + "\n" + md)
    print("wrote BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
