"""End-to-end jobs — the flagship spatial-join + tiling trace
(SURVEY.md §3.2).

``flagship`` is the metric stage (BASELINE.json:2): its throughput in
pages/sec at two parallelism levels is what bench.py measures, and its
output is what ``entry(spark)`` returns to the driver smoke check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.geo_ops import pip_join, tile_aggregate
from .sources.boundaries import packed_boundaries
from .sources.pages import geocoded_pages, with_contributor

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
    boundary count). The `contributor` is the page's site id
    (``sources.pages.with_contributor``).
    """
    pages = with_contributor(
        geocoded_pages(spark, sf_dir, multiplier=multiplier, res=res)
    )
    matched = pip_join(pages, packed_boundaries(n_boundaries), res=res)
    return tile_aggregate(
        matched,
        res=res,
        cell_col="cell",
        contributor_col="contributor",
        boundary_col="boundary_id",
    )

