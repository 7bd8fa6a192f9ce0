"""The workloads and the traced layer profile.

Every engine call goes through the public entry points listed in
README.md ("Engine entry points"). A workload iteration returns the
result DataFrame (for the plan fingerprint) and a list of problems
found in its output; an empty list means the output is correct.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from checks import knn_digest, knn_duckdb_digest, knn_numpy_digest, knn_problems, rows_digest
from inputs import flagship_doc_ids, knn_doc_ids, page_count, write_documents

from osm_data_classification_spark.io import (
    checkpoint_exists,
    lineage_rows,
    run_stage,
    table_checksum,
)
from osm_data_classification_spark.jobs_api import flagship
from osm_data_classification_spark.operators.geo_ops import (
    knn_auto_res,
    knn_join,
    pip_join,
    tile_aggregate,
)
from osm_data_classification_spark.sources.boundaries import packed_boundaries
from osm_data_classification_spark.sources.pages import geocoded_pages

FLAGSHIP_MULTIPLIER = 40  # 5k documents -> 300k pages, the jobs/flagship.py default
IO_MULTIPLIER = 25  # checkpoint pass of the traced profile: 187k pages
RES = 7
N_BOUNDARIES = 50
K = 5


def with_contributor(pages):
    """The flagship's page frame: geocoded pages plus the site id."""
    return pages.withColumn(
        "contributor", F.regexp_extract("url", r"site(\d+)", 1).try_cast("long")
    )


class FlagshipTiles:
    """``jobs_api.flagship`` fused into one plan, result collected.
    ``flagship`` builds its own boundary set (the engine's fixed one), so
    the seed does not change this workload's input."""

    name = "flagship_tiles"
    item = "pages"

    def __init__(self, spark, work_dir: str, seed: int, pinned: dict) -> None:
        self.spark = spark
        self.docs = write_documents(os.path.join(work_dir, "flagship_docs"), flagship_doc_ids())
        self.items = page_count(flagship_doc_ids(), FLAGSHIP_MULTIPLIER)
        self.expect = pinned["flagship_tiles"]
        self.reference = self.expect
        self.reference_problems: list[str] = []

    def run(self, tr):
        with tr.span("jobs_api.flagship"):
            df = flagship(self.spark, self.docs, multiplier=FLAGSHIP_MULTIPLIER,
                          n_boundaries=N_BOUNDARIES, res=RES)
            rows = df.collect()
        problems = []
        if len(rows) != self.expect["tiles"]:
            problems.append(f"{len(rows)} tiles, expected {self.expect['tiles']}")
        digest = rows_digest(rows)
        if digest != self.expect["rows_digest"]:
            problems.append(f"tile rows digest {digest} != pinned {self.expect['rows_digest']}")
        return df, problems

    def checksum_problems(self, df) -> list[str]:
        """bench.py's invariance witness: ``table_checksum`` of the tiles
        without ``activity_hist``, against the pinned value."""
        got = table_checksum(df.drop("activity_hist"))
        want = self.expect["table_checksum_no_hist"]
        return [] if got == want else [f"flagship table_checksum {got} != pinned {want}"]


class KnnEnrich:
    """The ``geo_knn_join`` shape: k=5 self-kNN over the distinct geocoded
    urls of a seed-chosen 5k-document subset, result collected. Expected
    output: a numpy brute force, computed once per run; when the seed is
    pinned, every iteration is also checked against the pinned digest.
    The traced run also cross-checks the numpy reference against a DuckDB
    brute force."""

    name = "knn_enrich"
    item = "probes"

    def __init__(self, spark, work_dir: str, seed: int, pinned: dict) -> None:
        self.spark = spark
        self.ids = ids = knn_doc_ids(seed)
        self.docs = write_documents(os.path.join(work_dir, "knn_docs"), ids)
        self.items = len(ids)  # multiplier 1: one distinct url per document
        self.expect_digest = knn_numpy_digest(ids, K)
        self.reference = {"rows": K * len(ids), "digest": self.expect_digest}
        self.pin = pin = pinned["knn_enrich"].get(str(seed))
        self.reference_problems = (
            [f"numpy reference {self.expect_digest} != pinned {pin}"]
            if pin is not None and pin != self.expect_digest else []
        )
        self.persistent_left = 0

    def duckdb_problems(self) -> list[str]:
        d = knn_duckdb_digest(self.ids, K)
        return [] if d == self.expect_digest else [f"DuckDB reference {d} != numpy {self.expect_digest}"]

    def run(self, tr):
        sc = self.spark.sparkContext
        with tr.span("knn.points"):
            pts = (
                geocoded_pages(self.spark, self.docs, res=6)
                .dropDuplicates(["url"])
                .select(F.col("url").alias("qid"), "lon", "lat")
                .persist()
            )
            n = pts.count()
        before = len(sc._jsc.getPersistentRDDs())
        with tr.span("geo_ops.knn_join.call"):
            df = knn_join(pts, pts.withColumnRenamed("qid", "cid"), k=K,
                          res=knn_auto_res(n, k=K), id_col="qid", cand_id_col="cid",
                          n_candidates=n, n_probes=n)
        with tr.span("geo_ops.knn_join.action"):
            pdf = df.toPandas()
        self.persistent_left = len(sc._jsc.getPersistentRDDs()) - before
        self.spark.catalog.clearCache()
        problems = knn_problems(pdf, self.items, K)
        if n != self.items:
            problems.append(f"{n} distinct urls, expected {self.items}")
        digest = None if problems else knn_digest(pdf)
        if digest is not None and digest != self.expect_digest:
            problems.append("kNN rows differ from the brute-force reference")
        if digest is not None and self.pin is not None and digest != self.pin:
            problems.append(f"kNN digest {digest} != pinned {self.pin}")
        return df, problems


WORKLOADS = {w.name: w for w in (FlagshipTiles, KnnEnrich)}


def _sink(df, cols):
    """Action over a pipeline prefix: row count plus an xor of row hashes
    over ``cols``, so every listed column is computed and nothing else."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h")
    ).collect()[0]
    return row["n"]


def flagship_prefixes(spark, tr, docs: str) -> dict:
    """Time the flagship's pipeline prefixes, each ending one layer further:
    synth, geocode+encode, coarse PIP, refine, then the two branches the
    flagship joins, tiles and boundary hits, each on top of refine. A
    layer's self time is its prefix's wall time minus that of the prefix
    it builds on. Refine is sunk twice: over every column the tile branch
    reads, and over the two the boundary-hit branch reads (the rest are
    pruned from that plan). The boundary-hit branch restates
    ``jobs_api.flagship``'s own, so the self times can be checked against
    the fused flagship.
    Returns row counts; wall times and Spark work are in the spans."""
    from osm_data_classification_spark.sources.pages import synth_pages

    page_cols = ["url", "warc_ts", "lang", "lon", "lat", "cell", "contributor"]
    counts = {}
    with tr.span("prefix.synth"):
        counts["synth"] = _sink(synth_pages(spark, docs, FLAGSHIP_MULTIPLIER),
                                ["url", "warc_ts", "lang", "text"])
    pages = with_contributor(geocoded_pages(spark, docs, multiplier=FLAGSHIP_MULTIPLIER, res=RES))
    with tr.span("prefix.pages"):
        counts["pages"] = _sink(pages, page_cols)
    with tr.span("sources.boundaries.pack"):
        packed = packed_boundaries(N_BOUNDARIES)
    with tr.span("geo.pip.cell_cover"):
        counts["cover_pairs"] = len(packed.cell_cover(RES)[0])
    with tr.span("prefix.coarse"):
        counts["candidates"] = _sink(pip_join(pages, packed, res=RES, refine=False),
                                     page_cols + ["boundary_id"])
    with tr.span("prefix.refine"):
        with tr.span("geo_ops.pip_join.call"):
            matched = pip_join(pages, packed, res=RES)
        counts["matched"] = _sink(matched, page_cols + ["boundary_id"])
    with tr.span("prefix.tiles"):
        counts["tiles"] = len(tile_aggregate(matched, res=RES, cell_col="cell",
                                             contributor_col="contributor").collect())
    bhits = (
        matched.select("cell", "boundary_id").distinct()
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n_boundaries"))
    )
    with tr.span("prefix.refine_cells"):
        _sink(matched, ["cell", "boundary_id"])
    with tr.span("prefix.bhits"):
        counts["bhit_cells"] = len(bhits.collect())
    return counts


def checkpoint_pass(spark, tr, work_dir: str, docs: str, seed: int,
                    pinned: dict) -> tuple[dict, list[str]]:
    """The jobs/flagship.py path: three forced ``run_stage`` calls (pages,
    matched, tiles) into a fresh directory, then a resume pass that
    validates and reuses all three checkpoints, then checksums. The tiles
    must checksum the same after write, after resume, and as the fused
    (uncheckpointed) plan, and equal the pinned value for a pinned seed."""
    out = os.path.join(work_dir, "checkpoints")
    shutil.rmtree(out, ignore_errors=True)
    packed = packed_boundaries(N_BOUNDARIES, seed)
    stages = ("pages", "matched", "tiles")

    def build(force: bool, prefix: str):
        frames = {}
        builders = {
            "pages": lambda: with_contributor(
                geocoded_pages(spark, docs, multiplier=IO_MULTIPLIER, res=RES)),
            "matched": lambda: pip_join(frames["pages"], packed, res=RES),
            "tiles": lambda: tile_aggregate(frames["matched"], res=RES, cell_col="cell",
                                            contributor_col="contributor"),
        }
        for s in stages:
            with tr.span(f"{prefix}.{s}"):
                frames[s] = run_stage(spark, os.path.join(out, s), builders[s],
                                      cell_col="cell", force=force)
        return frames

    facts = {"pages": page_count(flagship_doc_ids(), IO_MULTIPLIER)}
    with tr.span("io.write"):
        written = build(True, "io.run_stage")
    with tr.span("io.write_checksum"):
        write_sum = table_checksum(written["tiles"])
    for s in stages:
        files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(out, s)) for f in fs]
        facts[f"files.{s}"] = sum(1 for f in files if f.endswith(".parquet"))
        facts[f"bytes.{s}"] = sum(os.path.getsize(f) for f in files)
    with tr.span("io.checkpoint_exists"):
        valid = all(checkpoint_exists(spark, os.path.join(out, s)) for s in stages)
    with tr.span("io.resume"):
        resumed = build(False, "io.reuse")
        with tr.span("io.table_checksum"):
            resume_sum = table_checksum(resumed["tiles"])
    with tr.span("io.lineage_rows"):
        facts["lineage_partitions"] = len(lineage_rows(resumed["tiles"], cell_col="cell").collect())
    fused = tile_aggregate(
        pip_join(with_contributor(geocoded_pages(spark, docs, multiplier=IO_MULTIPLIER, res=RES)),
                 packed, res=RES),
        res=RES, cell_col="cell", contributor_col="contributor")
    fused_sum = table_checksum(fused)
    shutil.rmtree(out, ignore_errors=True)

    problems = []
    if not valid:
        problems.append("a written checkpoint did not validate")
    if not write_sum == resume_sum == fused_sum:
        problems.append(f"tile checksums differ: write {write_sum}, resume {resume_sum}, fused {fused_sum}")
    pin = pinned["checkpoint_tiles"].get(str(seed))
    if pin is not None and pin != resume_sum:
        problems.append(f"tile checksum {resume_sum} != pinned {pin}")
    facts["tiles_checksum"] = resume_sum
    return facts, problems
