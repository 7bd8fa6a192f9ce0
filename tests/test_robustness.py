"""Robustness: haversine numpy parity, 500-boundary PIP stress with
sampled oracle parity, adversarial text inputs through the text/dedup
operators."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.geo.distance import haversine_km_col
from osm_data_classification_spark.operators import dedup, text
from osm_data_classification_spark.operators.geo_ops import pip_join
from osm_data_classification_spark.sources.boundaries import packed_boundaries
from osm_data_classification_spark.sources.pages import geocoded_pages
from tests.oracle_geo import haversine_km_np

GEN_PRIORITY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "gen_priority.py"
)


def test_haversine_jvm_matches_numpy(spark):
    rng = np.random.default_rng(7)
    n = 2000
    lon1, lat1 = rng.uniform(-180, 180, n), rng.uniform(-89, 89, n)
    lon2, lat2 = rng.uniform(-180, 180, n), rng.uniform(-89, 89, n)
    pdf = spark.createDataFrame(
        [(float(a), float(b), float(c), float(d))
         for a, b, c, d in zip(lon1, lat1, lon2, lat2)],
        "lon1 double, lat1 double, lon2 double, lat2 double",
    )
    got = np.array(
        [
            r["d"]
            for r in pdf.select(
                haversine_km_col(
                    F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")
                ).alias("d")
            ).collect()
        ]
    )
    exp = haversine_km_np(lon1, lat1, lon2, lat2)
    np.testing.assert_allclose(np.sort(got), np.sort(exp), rtol=1e-9)
    assert (got >= 0).all() and (got <= 20040).all()  # half circumference


def test_pip_join_500_boundaries(spark, sf_dir):
    """10x the usual boundary count: candidates still broadcast-join,
    and a sampled subset matches the single-threaded oracle exactly."""
    pages = geocoded_pages(spark, sf_dir, res=7)
    pk = packed_boundaries(500)
    t0 = time.perf_counter()
    matched = pip_join(pages, pk, res=7).select("url", "lon", "lat", "boundary_id")
    rows = matched.collect()
    elapsed = time.perf_counter() - t0
    assert elapsed < 120
    assert len(rows) > 0
    # sampled parity: re-test 1000 assignment pairs with the numpy kernel
    sample = rows[:1000]
    bidx = pk.index_of(np.array([r["boundary_id"] for r in sample]))
    inside = pk.contains(
        bidx,
        np.array([r["lon"] for r in sample]),
        np.array([r["lat"] for r in sample]),
    )
    assert inside.all()


ADVERSARIAL = [
    (1, ""),  # empty
    (2, "   "),  # whitespace only
    (3, "one"),  # below shingle width
    (4, "a " * 500),  # hugely repetitive
    (5, "naïve café 北京 emoji🙂 mixed"),  # unicode
    (6, "x" * 10_000),  # one giant token
    (7, "tab\tseparated\nnewline\r\nreturn"),  # odd whitespace
]


@pytest.fixture(scope="module")
def adversarial_docs(spark):
    return spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")


def test_text_ops_survive_adversarial_input(spark, adversarial_docs, monkeypatch, sf_dir):
    df = adversarial_docs
    toks = df.select("doc_id", text.tokens_col(F.col("text")).alias("t"))
    counts = {r["doc_id"]: r["n"] for r in toks.select("doc_id", F.size("t").alias("n")).collect()}
    assert counts[4] == 500
    assert counts[6] == 1
    assert counts[7] == 4  # tab/newline/return all split
    # fingerprints exist and are distinct for distinct content
    fps = (
        df.select("doc_id", F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fp"))
        .collect()
    )
    # all distinct: "" and "   " canonicalize differently ("" vs " ")
    assert len({r["fp"] for r in fps}) == len(ADVERSARIAL)


def test_shingles_adversarial(spark, adversarial_docs):
    sh = dedup.shingles(adversarial_docs).collect()
    by_doc: dict[int, int] = {}
    for r in sh:
        by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0) + 1
    assert 1 not in by_doc and 3 not in by_doc and 6 not in by_doc
    assert by_doc[4] == 500 - 2  # n - NGRAM + 1
    v = {(r["doc_id"], r["shingle"]) for r in
         dedup.shingles_vectorized(adversarial_docs).collect()}
    h = {(r["doc_id"], r["shingle"]) for r in sh}
    assert v == h  # vectorized twin agrees even on adversarial input


def test_pip_join_5000_boundaries(spark, sf_dir):
    """100x boundary count (round-2 VERDICT #6): the refine must stay
    O(candidate rings) — CSR ring lookup + per-ring bbox prefilter —
    so 5,000 boundaries complete comfortably, and a sampled subset
    still matches the numpy kernel exactly."""
    pages = geocoded_pages(spark, sf_dir, res=7)
    pk = packed_boundaries(5000)
    t0 = time.perf_counter()
    matched = pip_join(pages, pk, res=7).select("url", "lon", "lat", "boundary_id")
    rows = matched.collect()
    elapsed = time.perf_counter() - t0
    assert elapsed < 180
    assert len(rows) > 0
    sample = rows[:2000]
    bidx = pk.index_of(np.array([r["boundary_id"] for r in sample]))
    inside = pk.contains(
        bidx,
        np.array([r["lon"] for r in sample]),
        np.array([r["lat"] for r in sample]),
    )
    assert inside.all()


def test_pip_refine_cost_independent_of_total_boundaries():
    """Kernel-level scaling evidence: refining the SAME number of
    candidate pairs (targeting the same 100 boundary indexes) must not
    get slower when the packed index holds 10x the boundaries — the
    old linear `ring_boundary == b` scan made every batch O(total
    rings); the CSR index makes it O(rings of the batch)."""
    rng = np.random.default_rng(11)
    m = 50_000
    px = rng.uniform(-170, 170, m)
    py = rng.uniform(-70, 70, m)
    times = {}
    for n in (500, 5000):
        pk = packed_boundaries(n)
        bidx = rng.integers(0, 100, m).astype(np.int64)
        pk.contains(bidx[:100], px[:100], py[:100])  # warm: build index
        t0 = time.perf_counter()
        pk.contains(bidx, px, py)
        times[n] = time.perf_counter() - t0
    # identical pair count, same target boundaries: a linear-in-total
    # scan would be ~10x slower; allow 3x for noise
    assert times[5000] < 3 * max(times[500], 1e-3), times


EMPTY_INPUT_QUERIES = [
    # one per operator family — empty partitions happen at 10^3
    # executors; every operator must plan and run on 0 rows
    "scan_pages", "filter_lang_en", "distinct_users",
    "join_orders_customer", "star_join_3way", "semi_join_active_users",
    "agg_user_features", "agg_pivot_eventtype", "rollup_lang_source",
    "window_avg_gap", "window_topk_per_group", "topk_event_types",
    "stream_session_agg", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash", "text_quality_score", "text_lang_id",
    "text_hash_embedding", "geo_cell_encode",
    "geo_pip_join", "geo_knn_join", "geo_tile_agg", "mm_frame_sample",
    "pages_text_extract", "asof_join_purchase_view", "dedup_clusters",
    "sql_tpch_q5", "sql_tpch_q18", "kmeans_assign_fixed",
    "pca_project_fixed", "rollup_res_ladder", "mm_decode_features",
    # round-3 additions
    "geo_pip_join_shuffle", "stream_tile_ladder",
    "sample_hash_split", "host_agg",
    # round-3 SQL additions (q6/q14 are agg-without-groupBy — 1 row
    # on empty input by SQL semantics, so excluded like
    # agg_approx_distinct; q4 groups, so it qualifies)
    "agg_quantile_bound", "sql_tpch_q4",
    # TPC-H completion set (q17 is agg-without-groupBy -> excluded
    # like q6/q14; the rest group or project and must yield 0 rows)
    "sql_tpch_q2", "sql_tpch_q8", "sql_tpch_q9", "sql_tpch_q11",
    "sql_tpch_q13", "sql_tpch_q15", "sql_tpch_q16", "sql_tpch_q20",
    "sql_tpch_q21", "sql_tpch_q22",
    # recrawl dedup
    "stream_dedup_recrawl",
    # fifth-session batch (stats_table_profile is agg-fed -> excluded like
    # agg_approx_distinct; geo_cover_compact / geo_polyfill /
    # sql_recursive_hierarchy take no table input at all)
    "geo_cell_neighbors", "geo_cluster_dense_cells", "geo_tile_vectorize",
    "geo_bbox_cells_query", "geo_tile_heat_decay", "sample_global_shuffle",
    "rollup_grouping_sets", "window_range_trailing_sum",
    "stream_watermark_late_drop",
    "dedup_bloom_prefilter", "stream_session_dwell", "geo_geohash_encode",
    "mm_scene_cut", "sample_host_cap",
    "crawl_snapshot_coverage",
    # round-5 batch (stream_stream joins buffer nothing on empty
    # sides; CUSUM/MAD see zero hosts; blocking deduds produce no
    # candidates)
    "stream_stream_join", "stream_stream_left_join",
    "dedup_containment", "dedup_exact_substring_spans",
    "geo_tile_smooth", "geo_contributor_stays", "events_anomaly_mad",
    "crawl_budget_allocate", "grouped_cusum_apply",
]


def test_catalog_queries_survive_empty_input(spark, tmp_path_factory):
    """Run a representative catalog slice against 0-row tables with the
    real schemas: no operator may crash on empty input (the everyday
    state of some partition on a real cluster)."""
    from osm_data_classification_spark.catalog import full_catalog

    src = "/root/testdata/sf0.001"
    empty_dir = str(tmp_path_factory.mktemp("empty_sf"))
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).write.mode(
            "overwrite"
        ).parquet(f"{empty_dir}/{t}.parquet")

    cat = full_catalog()
    for name in EMPTY_INPUT_QUERIES:
        df = cat[name].fn(spark, empty_dir)
        assert df.count() == 0, f"{name} produced rows from empty input"


def test_staging_entries_leave_no_temp_files(spark, sf_dir, tmp_path, monkeypatch):
    """The catalog entries that stage parquet files for a real stream
    or a warehouse table must delete every temp dir they make, and
    their result must not read from one: it is still counted after the
    entry has returned."""
    import tempfile

    from osm_data_classification_spark.catalog import full_catalog

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cat = full_catalog()
    for name in (
        "stream_dedup_recrawl", "stream_watermark_late_drop",
        "stream_session_dwell", "stream_stream_join",
        "stream_stream_left_join", "stream_tile_ladder",
        "table_snapshot_merge", "table_schema_evolution",
    ):
        cat[name].fn(spark, sf_dir).count()
    assert os.listdir(tmp_path) == []


def test_ungeocodable_pages_dropped_not_null_tiled(spark):
    """A page with no place token must geocode to NULL and be dropped
    at the source — never become a NULL-cell tile group."""
    from osm_data_classification_spark.geo.cells import cell_encode_col
    from osm_data_classification_spark.operators.geo_ops import tile_aggregate
    from osm_data_classification_spark.sources.pages import geocode_cols

    pages = spark.createDataFrame(
        [
            ("u1", "hello loc_5_9 world"),
            ("u2", "no token at all"),
            ("u3", "also none"),
        ],
        "url string, text string",
    )
    lon, lat = geocode_cols(F.col("text"))
    geo = (
        pages.select("*", lon.alias("lon"), lat.alias("lat"))
        .filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
        .withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), 7))
        .withColumn("lang", F.lit("en"))
        .withColumn("warc_ts", F.current_timestamp())
        .withColumn("contributor", F.lit(1))
    )
    tiles = tile_aggregate(geo, res=7, cell_col="cell").collect()
    assert len(tiles) == 1
    assert tiles[0]["cell"] is not None
    assert tiles[0]["n_edits"] == 1


def test_priority_window_matches_generator():
    """catalog.PRIORITY is a GENERATED block (r3 VERDICT #2): any hand
    edit that diverges from the rotation policy in
    tools/gen_priority.py — anchors pinned, never-driver-graded full
    oracles first, TPC-H tail last — fails this gate. Regenerate with
    `python tools/gen_priority.py --apply` instead of editing names."""
    import subprocess
    import sys as _sys

    proc = subprocess.run(
        [_sys.executable, GEN_PRIORITY, "--check"],
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_priority_check_survives_future_driver_grade(tmp_path, monkeypatch):
    """r4 VERDICT "What's wrong" #1: the unstamped --check regenerated
    from ALL grade files on disk, so the driver depositing
    CORRECTNESS_r{N}.json AFTER the builder's final commit reddened CI
    with no code change. The fix stamps the generated block with its
    snapshot (# generated-from-rounds:) and --check replays against
    exactly that snapshot. This test simulates the failure mode: copy
    the repo's grade files + catalog into a scratch ROOT, deposit a
    fabricated future-round grade file, and assert the stamped
    regeneration is UNCHANGED while the stampless (next-window)
    generation DOES see the new round."""
    import glob
    import importlib.util
    import json as _json
    import shutil

    spec = importlib.util.spec_from_file_location("gen_priority", GEN_PRIORITY)
    gp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gp)

    for path in glob.glob(os.path.join(gp.ROOT, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    catalog_py = shutil.copy(gp.CATALOG_PY, tmp_path)
    monkeypatch.setattr(gp, "ROOT", str(tmp_path))
    monkeypatch.setattr(gp, "CATALOG_PY", catalog_py)

    stamped = gp.stamped_rounds()
    before, _ = gp.generate(stamped)
    assert tuple(before) == gp.current_priority()

    # deposit a fabricated future grade file in ROOT, regenerate both ways
    fake = os.path.join(gp.ROOT, "CORRECTNESS_r98.json")
    assert not os.path.exists(fake)
    with open(fake, "w") as f:
        _json.dump({before[-1]: {"rows_match": True}}, f)
    # stamped replay: identical — a later grade file cannot redden CI
    replay, _ = gp.generate(stamped)
    assert replay == before
    # stampless (next-window) generation DOES incorporate the new
    # round: before[-1] is a refill regrade, now freshly r98-graded,
    # so it must yield its slot to a staler entry
    nxt, _ = gp.generate(None)
    assert 98 in gp.available_rounds()
    assert nxt != before
    assert before[-1] not in nxt


def test_priority_tool_reads_unpadded_rounds_and_fails_loudly(tmp_path, monkeypatch):
    """ADVICE r5 gen_priority.py:92: a grade file named without zero
    padding (CORRECTNESS_r7.json) must count for its round, not be
    skipped, and a catalog.py that lost its stamp or its markers must
    stop the tool with SystemExit, which `python -O` keeps (it strips
    asserts). Works on copies in a scratch ROOT."""
    import glob
    import importlib.util
    import json as _json
    import shutil

    spec = importlib.util.spec_from_file_location("gen_priority", GEN_PRIORITY)
    gp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gp)

    for path in glob.glob(os.path.join(gp.ROOT, "CORRECTNESS_r*.json")):
        shutil.copy(path, tmp_path)
    catalog_py = shutil.copy(gp.CATALOG_PY, tmp_path)
    monkeypatch.setattr(gp, "ROOT", str(tmp_path))
    monkeypatch.setattr(gp, "CATALOG_PY", catalog_py)

    with open(os.path.join(gp.ROOT, "CORRECTNESS_r7.json"), "w") as f:
        _json.dump({"geo_tile_agg": {"rows_match": True}}, f)
    assert gp.available_rounds()[-1] == 7
    assert gp.grade_history()["geo_tile_agg"] == 7
    assert gp.grade_history([7]) == {"geo_tile_agg": 7}

    with open(catalog_py) as f:
        src = f.read()
    with open(catalog_py, "w") as f:
        f.write(src.replace("generated-from-rounds:", "").replace(gp.BEGIN, ""))
    with pytest.raises(SystemExit):
        gp.stamped_rounds()
    with pytest.raises(SystemExit):
        gp.apply("")
