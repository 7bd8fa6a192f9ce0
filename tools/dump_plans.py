"""Capture the physical plans of the headline operators into PLANS.md.

The claims these plans support are enforced by tests/test_plans.py;
this file is the human-readable capture (regenerate after plan-shaping
changes): python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from osm_data_classification_spark.catalog import full_catalog  # noqa: E402
from osm_data_classification_spark.operators.geo_ops import (  # noqa: E402
    pip_join,
    tile_aggregate,
)
from osm_data_classification_spark.plans import audit  # noqa: E402
from osm_data_classification_spark.session import get_spark  # noqa: E402
from osm_data_classification_spark.sources.boundaries import packed_boundaries  # noqa: E402
from osm_data_classification_spark.sources.pages import (  # noqa: E402
    geocoded_pages,
    with_contributor,
)

SF = "/root/testdata/sf0.001"

NOTES = {
    "filter_lang_en": "filter pushed to the parquet scan (PushedFilters), "
    "ReadSchema pruned to the projected columns",
    "join_orders_customer": "small dim side broadcast — no shuffle on the "
    "fact side, no sort-merge",
    "star_join_3way": "chained broadcast joins: the fact table streams "
    "through every dim without an exchange",
    "window_version_chain": "both window specs share the partition key → "
    "ONE hash exchange + one sort serves lead/lag/row_number",
    "agg_user_features": "wide single-pass groupBy: partial_* aggregates "
    "combine map-side before the only exchange",
    "sort_limit_report": "global order+limit compiles to "
    "TakeOrderedAndProject — no global sort",
    "asof_join_purchase_view": "AS-OF join as a window composition: one "
    "hash exchange on the key, NO join operator in the plan",
    "interval_join_bucketed": "no-equi-key interval join rewritten to an "
    "hour-bucket EQUI join — no BroadcastNestedLoop/Cartesian",
    "sql_tpch_q5": "6-way join chain: Catalyst reorders and broadcasts "
    "every dim; the lineitem fact streams through one chain of "
    "BroadcastHashJoins",
    "sql_tpch_q6": "pushdown-only shape: every predicate reaches the "
    "parquet scan (PushedFilters on raw columns), ReadSchema pruned to "
    "4 columns, then partial->final aggregate — no join, no sort",
    "geo_quadkey_encode": "floors + 17 base-4 digit expressions are "
    "pure JVM bit arithmetic in one codegen stage; the only exchange "
    "is the synthetic source's spread repartition",
    "geo_bbox_cells_query": "Z-order window scan: ONE higher-order "
    "exists over the literal range array (constant codegen size — an "
    "OR-chain of 49 BETWEENs made Janino fail the compile) + exact "
    "refine inside the scan-side codegen stage; the only exchange is "
    "the synthetic source's spread repartition",
    "geo_tile_heat_decay": "integer half-life weights (clamped "
    "shiftleft) + one cell groupBy with map-side combine — the "
    "geo_tile_agg shape with a decayed measure",
    "geo_cluster_dense_cells": "page-scaled work = one raster groupBy; "
    "the adjacency explode/join and label-propagation rounds run over "
    "the dense-CELL set (bounded by 4^res), with localCheckpoint "
    "truncating the iterative plan",
    "sample_global_shuffle": "one hash exchange on shard + per-shard "
    "sort for row_number — no global ordering anywhere",
    "stats_table_profile": "single Aggregate computes every metric; "
    "exact NDV x5 costs Expand x5 (documented exactness price), then "
    "a literal inline unpivot over the 1-row result",
    "window_range_trailing_sum": "one RANGE-frame window, hash "
    "exchange on user_id; frame state bounded by the 1h span",
    "sessionize_events": "lag-mark-cumsum: both windows share the "
    "user_id partitioning -> ONE exchange + sort serves both, then "
    "the session groupBy",
    "geo_polyfill": "distributed grid generation (two sequence "
    "explodes) -> the SAME broadcast-cover + Arrow ray-cast path as "
    "the PIP join, pointed at cell centers",
    "geo_radius_join": "one-ring grid partitioning (cell > radius => "
    "adjacency is complete): explode 3x3 ring, equi-join on the cell, "
    "exact distance filter — one shuffle per side, no cartesian; the "
    "mega-cell quadratic pairs are the QUERY's answer, AQE skew-split "
    "spreads them",
    "funnel_conversion": "first-touch funnel in one conditional-min "
    "groupBy + a 1-row rollup — no per-stage re-scan, no joins",
    "cohort_retention": "first-week agg + distinct + rollup, all "
    "hashed on user/cohort keys — the retention triangle in three "
    "partial-combined exchanges",
    "tile_incremental_merge": "two independent partial aggregations "
    "merged by a (cell,url) groupBy then the final rollup — the "
    "associative-merge shape incremental view maintenance relies on",
    "dedup_cross_snapshot": "new-batch fingerprints LEFT JOIN the "
    "distinct old-fingerprint set; at scale the runtime bloom filter "
    "prefilters the probe side (plan-gated elsewhere)",
    "geo_tile_smooth": "3x3 kernel convolution on the AGGREGATED "
    "raster: pages collapse to one row per non-empty cell before the "
    "x9 kernel explode, so both exchanges carry O(cells), never pages",
    "dedup_containment": "rare-shingle blocking: one groupBy(shingle) "
    "builds the DF table, candidates come from the rare-only "
    "self-join (fan-out bounded by DF-cap squared per shingle), the "
    "containment verify joins candidates to distinct shingle sets — "
    "nothing all-pairs",
    "dedup_exact_substring_spans": "map-side gram pass -> ONE "
    "groupBy(fingerprint) with partial combine -> fingerprint-equi "
    "annotate join -> per-doc rollup: the suffix-array-free "
    "exact-substring shape",
    "events_anomaly_mad": "two exact-median aggregations and two "
    "joins all hash on user_id — one partitioning serves the whole "
    "doubled-median pipeline; medians run over per-host day lists "
    "(bounded by days, not events)",
    "geo_contributor_stays": "lag + cumsum share the contributor "
    "window partitioning (ONE exchange + sort), then one "
    "partial-combined groupBy over runs — sessionize_events on a "
    "spatial key",
    "crawl_budget_allocate": "ONE window over the host partition key "
    "(single hash exchange); the running prefix sum streams per "
    "partition in sort order — take-while gating with O(1) state per "
    "host",
    "grouped_cusum_apply": "relational pre-aggregation collapses "
    "events to the per-host daily series BEFORE the single "
    "applyInPandas exchange — the Arrow transfer is bounded by "
    "days x hosts, never event count",
}


def md_block(title: str, note: str, plan: str) -> str:
    return f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n\n"


def main() -> None:
    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    cat = full_catalog()

    out = [
        "# PLANS — captured physical plans of the headline operators\n\n"
        "Generated by tools/dump_plans.py at sf0.001; the properties\n"
        "described are asserted by tests/test_plans.py on every run.\n\n"
    ]
    for name, note in NOTES.items():
        df = cat[name].fn(spark, SF)
        out.append(md_block(name, note, audit.formatted_plan(df)))

    pages = with_contributor(geocoded_pages(spark, SF, res=7))
    packed = packed_boundaries(50)
    refined = pip_join(pages, packed, res=7)
    out.append(
        md_block(
            "pip_join (J5: coarse broadcast + Arrow refine)",
            "candidate generation is a BroadcastHashJoin on cell id (the "
            "points side NEVER shuffles); the exact ray-cast refine is one "
            "ArrowEvalPython stage with zero additional exchanges.",
            audit.formatted_plan(refined),
        )
    )
    tiles = tile_aggregate(pages, res=7, cell_col="cell")
    out.append(
        md_block(
            "tile_aggregate (A7: distinct-free three-phase cascade)",
            "keys walk (cell,uid,url) → (cell,uid) → (cell): every phase is "
            "partial-aggregatable (no Expand, no countDistinct funnel), so "
            "mega-cell rows spread across the cluster in phases 1–2 and "
            "phase 3 sees ≤ #contributors rows per cell.",
            audit.formatted_plan(tiles),
        )
    )
    from osm_data_classification_spark.jobs_api import flagship

    out.append(
        md_block(
            "flagship (end-to-end spatial-join + tiling trace)",
            "the whole metric stage in one plan that reads the matched pages "
            "once: broadcast coarse PIP, one Arrow refine stage, and the "
            "three-phase tile agg, whose Generate also keys every row by "
            "(cell, boundary) for the per-tile boundary count — no second "
            "branch, no join back on cell, NO Expand anywhere on the skewed "
            "cell key (gated by tests/test_plans.py).",
            audit.formatted_plan(flagship(spark, SF)),
        )
    )

    path = os.path.join(ROOT, "PLANS.md")
    with open(path, "w") as f:
        f.write("".join(out))
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
