"""Assembles the full query catalog from every operator module.

One entry per kept operator row in SURVEY.md §2. Import side effects
populate each module's CATALOG.

ORDERING MATTERS: the driver evaluates only the first 50 catalog
entries against their DuckDB oracles (round-1 lesson — the geo/ref
oracles sat past position 49 and were never driver-graded). Since
round 4 the window is GENERATED by tools/gen_priority.py from the
driver's own grade history: anchors pinned, then every full oracle
the driver has never graded (novelty-first, plain-Catalyst TPC-H
tail last), then least-recently-graded refill. Entries past position
50 keep their pytest gates in tests/ as the correctness signal until
their window turn comes.
"""

from __future__ import annotations

from .operators.relational import CATALOG as _RELATIONAL
from .operators.relational import QuerySpec

# The driver-checked window, highest-value first — GENERATED by
# tools/gen_priority.py from the driver's own grade history
# (CORRECTNESS_r*.json). Round-3 VERDICT #2: the hand-maintained
# rotation block was the likeliest place for a silent mistake, so the
# policy (anchors pinned, never-driver-graded full oracles first,
# TPC-H tail last, least-recently-graded refill) now lives in the
# tool; edit THERE and re-run `python tools/gen_priority.py --apply`.
# `--check` asserts this block matches a fresh generation (gated in
# tests/test_reference_suites.py).
PRIORITY: tuple[str, ...] = (
    # --- BEGIN GENERATED WINDOW (tools/gen_priority.py) ---
    # generated-from-rounds: 1,2,3,4,5
    # anchors (pinned, round-over-round continuity):
    "geo_pip_join_exact",
    "geo_knn_join_exact",
    "geo_tile_agg",
    "rollup_res_ladder",
    "ref_user_features",
    # never-driver-graded full oracles, novelty-first (TPC-H tail last):
    "stream_tumbling_daily",
    "stream_sliding_hourly",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "text_token_count",
    "text_fingerprint",
    "scan_pages",
    "filter_lang_en",
    "distinct_users",
    "join_orders_customer",
    "star_join_3way",
    "semi_join_active_users",
    "agg_pivot_eventtype",
    "agg_user_features",
    "rollup_lang_source",
    "normalize_minmax",
    "window_version_chain",
    "window_running_sum",
    "window_avg_gap",
    "window_topk_per_group",
    "sort_limit_report",
    "union_sources",
    "json_extract_props",
    "stream_session_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_score",
    "text_lang_id",
    "text_hash_embedding",
    "geo_cell_encode",
    "kmeans_assign_fixed",
    "pca_project_fixed",
    "mm_binary_meta",
    "ref_element_metadata",
    "ref_changeset_metadata",
    "ref_editor_topk",
    "skew_salted_join",
    "pages_text_extract",
    "grouped_quantiles_apply",
    "sql_tpch_q1",
    "sql_tpch_q3",
    "asof_join_purchase_view",
    "cube_user_type",
    "window_rank_family",
    # --- END GENERATED WINDOW ---
)


def raw_catalog() -> dict[str, QuerySpec]:
    """The module-union catalog in DECLARATION order — the stable,
    PRIORITY-independent ordering tools/gen_priority.py ranks the
    rotation queue by (ranking by full_catalog()'s order would be
    self-referential: regenerating the window would reshuffle the very
    order it was derived from)."""
    cat: dict[str, QuerySpec] = {}
    cat.update(_RELATIONAL)
    for modname in ("dedup", "text", "geo_queries", "ml_queries", "multimodal",
                    "ref_features", "skew_queries", "grouped",
                    "sql_surface", "temporal", "components", "warehouse"):
        mod = __import__(
            f"osm_data_classification_spark.operators.{modname}",
            fromlist=["CATALOG"],
        )
        cat.update(mod.CATALOG)
    # a broken operator module must fail LOUDLY here — swallowing the
    # ImportError would silently drop its queries from the driver gate
    assert len(cat) >= 75, f"catalog unexpectedly small: {len(cat)}"
    return cat


def full_catalog() -> dict[str, QuerySpec]:
    cat = raw_catalog()
    assert len(PRIORITY) == 50, f"PRIORITY must be 50 names, got {len(PRIORITY)}"
    missing = [n for n in PRIORITY if n not in cat]
    assert not missing, f"PRIORITY names not in catalog: {missing}"
    ordered = {n: cat[n] for n in PRIORITY}
    ordered.update({n: s for n, s in cat.items() if n not in ordered})
    return ordered
