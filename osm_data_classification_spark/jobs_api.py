"""End-to-end jobs — the flagship spatial-join + tiling trace
(SURVEY.md §3.2) and the classification chain entry points.

``flagship`` is the metric stage (BASELINE.json:2): its throughput in
pages/sec at two parallelism levels is what bench.py measures, and its
output is what ``entry(spark)`` returns to the driver smoke check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.geo_ops import pip_join, tile_aggregate
from .sources.boundaries import packed_boundaries
from .sources.pages import geocoded_pages

FLAGSHIP_RES = 7


def flagship(
    spark: SparkSession,
    sf_dir: str,
    multiplier: int = 1,
    n_boundaries: int = 50,
    res: int = FLAGSHIP_RES,
) -> DataFrame:
    """scan pages → geocode → cell-encode → PIP join vs broadcast
    boundary index → per-tile contributor/edit feature vectors and
    boundary hit counts.

    Single logical plan that reads the matched pages once: one
    broadcast join (coarse PIP), one Arrow refine stage, and four
    exchanges (the pre-fan-out repartition of the page source, then
    the three-phase tile agg, which also carries the per-tile
    boundary count). The `contributor` is the page's site id — the
    uid analog of the reference's element history `[U: osmparsing]`.
    """
    pages = geocoded_pages(spark, sf_dir, multiplier=multiplier, res=res)
    pages = pages.withColumn(
        "contributor", F.regexp_extract("url", r"site(\d+)", 1).try_cast("long")
    )
    matched = pip_join(pages, packed_boundaries(n_boundaries), res=res)
    return tile_aggregate(
        matched,
        res=res,
        cell_col="cell",
        contributor_col="contributor",
        boundary_col="boundary_id",
    )


def run_curate(spark: SparkSession, sf_dir: str, out: str) -> tuple[int, int]:
    """The curation job's core (jobs/curate.py is the spark-submit
    shell around this): run the webtext curation funnel, PII-scrub the
    surviving text, write the curated corpus + funnel report, and
    return ``(n_docs, checksum)`` — an order-insensitive aggregated
    checksum of the written corpus, the determinism witness the tests
    compare across runs. Fully distributed: the old witness collected
    every (doc_id, md5) to the driver, an O(corpus) driver transfer in
    a job-API path (r3 VERDICT nit #1); the checksum aggregate keeps
    the job shell scale-clean at 10^9 docs."""
    import os

    from .io import checkpoint_write, table_checksum
    from .operators.webtext import (
        _EMAIL_RE,
        _IP_RE,
        _PHONE_RE,
        curate_corpus_funnel,
        curate_stages,
    )

    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    stages = curate_stages(spark, sf_dir)
    curated = stages["s6_sampled"].select(
        "doc_id", "lang", scrubbed.alias("text")
    )
    checkpoint_write(curated, os.path.join(out, "data"))
    funnel = curate_corpus_funnel(spark, sf_dir)
    funnel.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "funnel")
    )
    back = spark.read.parquet(os.path.join(out, "data", "data"))
    witness = back.select("doc_id", "lang", F.md5("text").alias("h"))
    return (back.count(), table_checksum(witness))
