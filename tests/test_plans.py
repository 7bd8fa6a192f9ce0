"""Plan-quality gates (SURVEY.md §4): pushdown, pruning, broadcast,
codegen, shuffle counts — asserted, not hoped for."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from osm_data_classification_spark.catalog import full_catalog
from osm_data_classification_spark.io import load_table
from osm_data_classification_spark.operators.geo_ops import pip_join, tile_aggregate
from osm_data_classification_spark.plans import audit
from osm_data_classification_spark.sources.boundaries import packed_boundaries
from osm_data_classification_spark.sources.pages import geocoded_pages


def _q(name):
    return full_catalog()[name].fn


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = _q("filter_lang_en")(spark, sf_dir)
    pushed = " ".join(audit.pushed_filters(df))
    assert "lang" in pushed, f"lang filter not pushed: {pushed!r}"


def test_projection_prunes_read_schema(spark, sf_dir):
    df = _q("scan_pages")(spark, sf_dir)
    cols = audit.read_schema_columns(df)
    assert "text" not in cols, f"text should be pruned, read: {cols}"
    assert cols <= {"doc_id", "lang", "n_chars"}


def test_small_dim_join_broadcasts(spark, sf_dir):
    df = _q("join_orders_customer")(spark, sf_dir)
    kinds = audit.join_kinds(df)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds, kinds


def test_star_join_all_broadcast_no_shuffle(spark, sf_dir):
    df = _q("star_join_3way")(spark, sf_dir)
    kinds = audit.join_kinds(df)
    assert kinds.count("BroadcastHashJoin") >= 2, kinds


def test_pip_coarse_join_is_broadcast(spark, sf_dir):
    pages = geocoded_pages(spark, sf_dir, res=7)
    cand = pip_join(pages, packed_boundaries(50), res=7, refine=False)
    kinds = audit.join_kinds(cand)
    assert kinds == ["BroadcastHashJoin"], kinds
    # the points side never shuffles for the PIP join (SURVEY.md §4.2)
    assert audit.count_exchanges(cand) <= 1  # only the synth repartition


def test_pip_refine_is_single_arrow_stage(spark, sf_dir):
    pages = geocoded_pages(spark, sf_dir, res=7)
    refined = pip_join(pages, packed_boundaries(50), res=7)
    assert audit.has_python_stage(refined)
    # refine adds NO exchange on top of the coarse join
    coarse = pip_join(pages, packed_boundaries(50), res=7, refine=False)
    assert audit.count_exchanges(refined) == audit.count_exchanges(coarse)


def test_tile_agg_three_phase_exchanges(spark, sf_dir):
    pages = geocoded_pages(spark, sf_dir, res=7).withColumn(
        "contributor", F.regexp_extract("url", r"site(\d+)", 1).cast("long")
    )
    tiles = tile_aggregate(pages, res=7, cell_col="cell")
    # synth repartition + (cell,uid,url) + (cell,uid) + (cell): ≤4, and
    # each agg phase must combine map-side (partial_ in the plan)
    assert audit.count_exchanges(tiles) <= 4
    plan = audit.formatted_plan(tiles)
    assert "partial_" in plan


def test_window_version_chain_single_exchange(spark, sf_dir):
    df = _q("window_version_chain")(spark, sf_dir)
    # both window specs share the partition key -> one hash exchange
    assert audit.count_exchanges(df) == 1, audit.count_exchanges(df)


def test_relational_ops_stay_in_codegen(spark, sf_dir):
    for name in ("agg_user_features", "agg_element_meta", "scalar_math_ratios"):
        df = _q(name)(spark, sf_dir)
        assert audit.codegen_stage_count(df) >= 1, name
        assert not audit.has_python_stage(df), f"{name} crossed into Python"


def test_sort_limit_uses_take_ordered(spark, sf_dir):
    df = _q("sort_limit_report")(spark, sf_dir)
    assert "TakeOrderedAndProject" in audit.simple_plan(df)


def test_geocode_encode_is_jvm_only(spark, sf_dir):
    df = geocoded_pages(spark, sf_dir, res=7)
    assert not audit.has_python_stage(df), "hot-path encode crossed into Python"
    assert audit.codegen_stage_count(df) >= 1


def test_asof_join_single_exchange_no_join_node(spark, sf_dir):
    """The as-of join is a window composition: one hash exchange on the
    key, no join operator at all (and certainly no range/BNL join)."""
    df = _q("asof_join_purchase_view")(spark, sf_dir)
    assert audit.join_kinds(df) == [], audit.join_kinds(df)
    assert audit.count_exchanges(df) == 1


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    """The bucketed interval join must plan as a hash/broadcast EQUI
    join — BroadcastNestedLoopJoin/CartesianProduct would be the naive
    no-equi-key plan that dies at scale."""
    df = _q("interval_join_bucketed")(spark, sf_dir)
    kinds = audit.join_kinds(df)
    assert "BroadcastNestedLoopJoin" not in kinds, kinds
    assert "CartesianProduct" not in kinds, kinds
    assert any(k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin") for k in kinds), kinds


def test_flagship_has_no_expand_on_cell_key(spark, sf_dir):
    """The per-tile boundary count rides the three-phase tile cascade
    as a second key kind fed by one Generate; a single-phase
    countDistinct would plan an Expand that funnels every mega-cell row
    into one reduce group (skew)."""
    from osm_data_classification_spark.jobs_api import flagship

    df = flagship(spark, sf_dir)
    nodes = audit.plan_nodes(df)
    assert not any("Expand" in n for n in nodes), nodes


def test_flagship_reads_matched_pages_once(spark, sf_dir):
    """The flagship is one pass over the matched pages: the boundary
    count shares the tile cascade instead of a second branch joined
    back on cell, so the plan has one scan of ``documents``, one Arrow
    refine and no join besides the broadcast coarse PIP join."""
    from osm_data_classification_spark.jobs_api import flagship

    df = flagship(spark, sf_dir)
    nodes = audit.plan_nodes(df)
    python = [n for n in nodes if n in ("ArrowEvalPython", "BatchEvalPython")]
    assert len(python) == 1, nodes
    scanned = re.findall(r"^Location: \w+ \[(.*)\]$", audit.formatted_plan(df), re.M)
    assert [os.path.basename(p) for p in scanned] == ["documents.parquet"], scanned
    assert audit.join_kinds(df) == ["BroadcastHashJoin"], audit.join_kinds(df)


def test_pip_cover_switches_to_shuffle_join(spark, sf_dir, monkeypatch):
    """Past _COVER_BROADCAST_MAX pairs the cover side must NOT be
    broadcast (same OOM class as the removed kNN fallback) — the plan
    degrades to a shuffle equi-join on cell with identical results."""
    from osm_data_classification_spark.operators import geo_ops

    pages = geocoded_pages(spark, sf_dir, res=7)
    pk = packed_boundaries(50)
    want = sorted(
        (r["url"], r["boundary_id"])
        for r in pip_join(pages, pk, res=7).select("url", "boundary_id").collect()
    )
    monkeypatch.setattr(geo_ops, "_COVER_BROADCAST_MAX", 0)
    # with the hint gone, Catalyst still auto-broadcasts a toy-sized
    # cover (that IS the adaptive behavior we want); disable the
    # threshold to see the big-cover physical plan
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        coarse = pip_join(pages, pk, res=7, refine=False)
        kinds = audit.join_kinds(coarse)
        assert "BroadcastHashJoin" not in kinds, kinds
        got = sorted(
            (r["url"], r["boundary_id"])
            for r in pip_join(pages, pk, res=7)
            .select("url", "boundary_id")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == want

def test_pip_shuffle_entry_runs_non_broadcast_path(spark, sf_dir):
    """The driver-graded geo_pip_join_shuffle entry must actually run
    the shuffle-cover join — under the session's DEFAULT broadcast
    threshold, exactly as the driver grades it. Past the gate the
    cover carries a shuffle_hash hint (the session's 64MB threshold
    would otherwise auto-broadcast a toy cover and the entry would
    silently re-test the broadcast regime). Result set must equal the
    broadcast-regime entry bit-for-bit (round-2 VERDICT #7)."""
    want = sorted(
        (r["url"], str(r["warc_ts"]), r["boundary_id"])
        for r in _q("geo_pip_join_exact")(spark, sf_dir).collect()
    )
    df = _q("geo_pip_join_shuffle")(spark, sf_dir)
    kinds = audit.join_kinds(df)
    assert "BroadcastHashJoin" not in kinds, kinds
    assert "ShuffledHashJoin" in kinds, kinds
    got = sorted(
        (r["url"], str(r["warc_ts"]), r["boundary_id"]) for r in df.collect()
    )
    assert got == want


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """At 100 TB a sort-merge join's cost is dominated by shuffling the
    FACT side; when the dim carries a selective filter, Spark can build
    a bloom filter over the dim's join keys at runtime and apply it to
    the fact scan BEFORE the exchange, shrinking the shuffle by the
    selectivity factor. Assert the engine's session config actually
    yields that plan: a `might_contain` predicate on the fact side fed
    by a `bloom_filter_agg` build over the filtered dim. The size
    thresholds are lowered because the test tables are tiny — at real
    scale the defaults (10M creation / 10G application side) fire on
    their own."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # force the shuffle join: broadcast joins don't need the filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        df = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.collect()
        plan = audit.simple_plan(df)
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_line_filter_is_map_only_codegen(spark, sf_dir):
    """text_line_filter's whole recipe (sequence → transform →
    higher-order filter → md5) must stay a single map-only codegen
    pass: zero exchanges, zero Python stages. At 10^12 pages any
    exchange or Arrow hop here would dominate the stage."""
    df = _q("text_line_filter")(spark, sf_dir)
    assert audit.count_exchanges(df) == 0, audit.plan_nodes(df)
    assert not audit.has_python_stage(df)
    assert audit.codegen_stage_count(df) >= 1


def test_quadkey_encode_is_map_only_codegen(spark, sf_dir):
    """geo_quadkey_encode: floors + 17 digit expressions are all JVM
    bit arithmetic — zero exchanges beyond the synthetic source's own
    spread repartition, zero Python stages."""
    df = _q("geo_quadkey_encode")(spark, sf_dir)
    assert audit.count_exchanges(df) <= 1, audit.plan_nodes(df)
    assert not audit.has_python_stage(df)
    assert audit.codegen_stage_count(df) >= 1


def test_quantize_int8_is_map_only_codegen(spark, sf_dir):
    """embed_quantize_int8: abs/max/floor array HOFs are all JVM
    expressions — zero exchanges, zero Python stages (a 10^12-vector
    recode must be scan-bound)."""
    df = _q("embed_quantize_int8")(spark, sf_dir)
    assert audit.count_exchanges(df) == 0, audit.plan_nodes(df)
    assert not audit.has_python_stage(df)
    assert audit.codegen_stage_count(df) >= 1


def test_gopher_filter_is_map_only_codegen(spark, sf_dir):
    """gopher_quality_filter must stay a single map-only pass: the
    zip_with plant + HOF aggregates are all JVM expressions — zero
    exchanges, zero Python stages. One verdict row per document at
    10^12 pages is scan-bound or it is wrong."""
    df = _q("gopher_quality_filter")(spark, sf_dir)
    assert audit.count_exchanges(df) == 0, audit.plan_nodes(df)
    assert not audit.has_python_stage(df)
    assert audit.codegen_stage_count(df) >= 1


def test_nfc_normalize_is_single_arrow_stage_no_shuffle(spark, sf_dir):
    """text_normalize_unicode is the designed slow path: exactly ONE
    ArrowEvalPython (vectorized pandas UDF) node, no exchange — the
    JVM-side length/md5 work must not force a second Python hop."""
    df = _q("text_normalize_unicode")(spark, sf_dir)
    nodes = audit.plan_nodes(df)
    arrow = [n for n in nodes if "ArrowEvalPython" in n]
    assert len(arrow) == 1, nodes
    assert audit.count_exchanges(df) == 0, nodes


def test_rarity_join_broadcasts_vocabulary_side(spark, sf_dir):
    """text_rarity_score joins the token stream against the corpus
    unigram table; the unigram side is vocabulary-sized, so the join
    must resolve as a broadcast hash join (AQE or static), never a
    sort-merge over the token stream."""
    df = _q("text_rarity_score")(spark, sf_dir)
    df.collect()  # let AQE finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_outlinks_parse_is_map_only(spark, sf_dir):
    """webgraph_outlinks: regexp parse + posexplode stays in one
    map-only pass — the only exchange is the synthetic source's
    spread repartition, and no Python stage exists."""
    df = _q("webgraph_outlinks")(spark, sf_dir)
    assert audit.count_exchanges(df) <= 1
    assert not audit.has_python_stage(df)


def test_bbox_query_is_single_source_exchange(spark, sf_dir):
    """geo_bbox_cells_query: the exists-over-range-array predicate
    adds NO exchange beyond the source repartition and never leaves
    codegen (the OR-chain regression would fail Janino and fall to
    interpreted mode — pinned indirectly by stage count here and by
    wall time in the catalog gate)."""
    df = _q("geo_bbox_cells_query")(spark, sf_dir)
    assert audit.count_exchanges(df) <= 1
    assert not audit.has_python_stage(df)


def test_bpe_pair_counts_partial_aggregates(spark, sf_dir):
    """bpe_pair_counts: the pair groupBy must partial-combine
    map-side (HashAggregate below the exchange) so the shuffle
    carries at most alphabet^2 rows per task, never the token
    fan-out."""
    df = _q("bpe_pair_counts")(spark, sf_dir)
    plan = audit.formatted_plan(df)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert audit.count_exchanges(df) <= 2  # source spread is absent here


def test_cross_snapshot_dedup_joins_on_fingerprint(spark, sf_dir):
    """dedup_cross_snapshot: the probe is an equi-join on the hash
    column — no nested loop, no cartesian."""
    df = _q("dedup_cross_snapshot")(spark, sf_dir)
    kinds = " ".join(audit.join_kinds(df)).lower()
    assert "nestedloop" not in kinds and "cartesian" not in kinds


def test_bloom_prefilter_broadcasts_filter_and_truth_sides(spark, sf_dir):
    """The bloom bit table (≤ m rows by construction) and the exact
    old-fingerprint join must both broadcast — the probe side is the
    only data-sized input and it must never be the build side."""
    df = _q("dedup_bloom_prefilter")(spark, sf_dir)
    kinds = audit.join_kinds(df)
    assert kinds.count("BroadcastHashJoin") >= 2, kinds
    assert "SortMergeJoin" not in kinds, kinds


def test_pq_scores_against_broadcast_codebook_and_lut(spark, sf_dir):
    """PQ assignment joins the broadcast 128-row codebook; ADC joins
    the broadcast probe LUT — the vector/code side streams, matching
    the memory-resident PQ layout claimed in SCALE.md."""
    df = _q("ann_pq_topk")(spark, sf_dir)
    kinds = audit.join_kinds(df)
    assert kinds.count("BroadcastHashJoin") >= 2, kinds
    assert "SortMergeJoin" not in kinds, kinds
    assert "CartesianProduct" not in kinds, kinds


def test_triangle_count_no_cartesian(spark, sf_dir):
    """The wedge join is an equi-join on the pivot node and the
    closure an equi-join on (y, z) — a plan that degrades to a
    cartesian or a broadcast nested loop has lost the equi-keys."""
    df = _q("webgraph_triangle_count")(spark, sf_dir)
    nodes = " ".join(audit.plan_nodes(df))
    assert "CartesianProduct" not in nodes, nodes
    assert "BroadcastNestedLoopJoin" not in nodes, nodes


def test_plan_fingerprint_stable_and_discriminating(spark, sf_dir):
    """plan_fingerprint (r4 VERDICT #4) must be (a) invariant across
    re-constructions of the same query — expr ids, paths, and plan ids
    are assigned per-session and must normalize away — and (b) actually
    sensitive to a real plan change (different query => different
    digest)."""
    from osm_data_classification_spark.catalog import full_catalog
    from osm_data_classification_spark.plans.audit import plan_fingerprint

    cat = full_catalog()
    a1 = plan_fingerprint(cat["star_join_3way"].fn(spark, sf_dir))
    a2 = plan_fingerprint(cat["star_join_3way"].fn(spark, sf_dir))
    assert a1 == a2, "fingerprint not stable across constructions"
    b = plan_fingerprint(cat["sql_tpch_q5"].fn(spark, sf_dir))
    assert a1 != b, "fingerprint failed to discriminate distinct plans"


def test_plan_fingerprint_sees_literal_change(spark):
    """Catalyst prints string literals unquoted, so a literal that looks
    like an expression id (``a#12``) must survive the normalization: a
    change to the literal alone is a plan change."""
    from osm_data_classification_spark.plans.audit import plan_fingerprint

    def q(lit):
        col = F.concat(F.lit("a#"), F.col("id").cast("string"))
        return spark.range(20).filter(col == F.lit(lit))

    assert plan_fingerprint(q("a#12")) == plan_fingerprint(q("a#12"))
    assert plan_fingerprint(q("a#12")) != plan_fingerprint(q("a#13"))
