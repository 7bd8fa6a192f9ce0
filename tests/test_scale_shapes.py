"""Scale-shape checks: approx sketches within error bounds, kNN
auto-resolution behavior, and the kNN join at a 10x probe count."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from osm_data_classification_spark.io import load_table
from osm_data_classification_spark.operators.geo_ops import knn_auto_res, knn_join
from osm_data_classification_spark.sources.pages import geocoded_pages


def test_approx_distinct_within_error_bound(spark, sf_dir):
    """A4: approx_count_distinct(rsd=0.05) lands within ±3*rsd of the
    exact count (HLL guarantees ~65% within 1 rsd; 3 rsd is a safe
    deterministic-seed gate)."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("a")
    ).first()["a"]
    assert abs(approx - exact) <= max(1, 3 * 0.05 * exact)


def test_knn_auto_res_monotone():
    """More candidates → finer grid; never out of range."""
    prev = 1
    for n in (10, 1_000, 100_000, 10_000_000, 1_000_000_000):
        r = knn_auto_res(n, k=5)
        assert 1 <= r <= 12
        assert r >= prev
        prev = r


def test_knn_join_scales_10x_probes(spark, sf_dir):
    """J6 at 10× the usual probe count: the certified fraction stays
    high (the fallback scan must remain the rare tail) and the result
    is exactly k rows per probe."""
    pages = geocoded_pages(spark, sf_dir, res=6, multiplier=10)
    pts = (
        pages.select(F.xxhash64("url", "warc_ts").alias("qid"), "lon", "lat")
        .dropDuplicates(["qid"])
        .persist()
    )
    n = pts.count()
    assert n > 5_000
    res = knn_auto_res(n, k=5)
    t0 = time.perf_counter()
    out = knn_join(
        pts, pts.withColumnRenamed("qid", "cid"), k=5, res=res, n_candidates=n
    )
    total = out.count()
    elapsed = time.perf_counter() - t0
    assert total == 5 * n
    per_probe = out.groupBy("qid").count().filter(F.col("count") != 5).count()
    assert per_probe == 0
    # soft perf gate: far below the quadratic scan's cost envelope
    assert elapsed < 120, f"kNN at {n} probes took {elapsed:.1f}s"
    pts.unpersist()


def test_knn_result_independent_of_res_and_adaptive_path(spark, sf_dir):
    """Exactness holds at ANY grid res — including a pathologically fine
    grid where nothing certifies at ring 1, forcing the adaptive wider
    ring pass and the residue scan."""
    from osm_data_classification_spark.io import table_checksum

    pages = geocoded_pages(spark, sf_dir, res=6).dropDuplicates(["url"])
    pts = pages.select(F.xxhash64("url").alias("qid"), "lon", "lat").persist()
    good = knn_join(pts, pts.withColumnRenamed("qid", "cid"), k=3, res=4)
    bad = knn_join(pts, pts.withColumnRenamed("qid", "cid"), k=3, res=10)
    assert table_checksum(good) == table_checksum(bad)
    pts.unpersist()


def test_budget_allocate_take_while_not_topk(spark, sf_dir):
    """The byte budget is a take-while, not a count cap: within each
    host the fetch flags must be a PREFIX of the priority order (no
    fetch=True after the first False), the kept bytes must fit the
    budget, and at least one host must demonstrate the non-top-k
    property by keeping a different COUNT than some other host."""
    from pyspark.sql import functions as F

    from osm_data_classification_spark.operators.skew_queries import (
        _BYTE_BUDGET,
        CATALOG as SKEW,
    )

    out = SKEW["crawl_budget_allocate"].fn(spark, sf_dir)
    assert out.filter(
        F.col("fetch") & (F.col("cum_chars") > _BYTE_BUDGET)
    ).count() == 0
    # prefix property: within a host, max cum_chars among fetched <
    # min cum_chars among dropped
    per_host = (
        out.groupBy("host")
        .agg(
            F.max(F.when(F.col("fetch"), F.col("cum_chars"))).alias("maxk"),
            F.min(F.when(~F.col("fetch"), F.col("cum_chars"))).alias("mind"),
            F.sum(F.when(F.col("fetch"), 1).otherwise(0)).alias("n_kept"),
        )
        .collect()
    )
    for r in per_host:
        if r["maxk"] is not None and r["mind"] is not None:
            assert r["maxk"] < r["mind"], f"non-prefix fetch set on host {r['host']}"
    kept_counts = {r["n_kept"] for r in per_host}
    assert len(kept_counts) > 1, "every host kept the same count — looks like top-k"


def test_quantile_bound_flag_true_on_real_data(spark, sf_dir):
    from osm_data_classification_spark.operators.relational import CATALOG

    rows = CATALOG["agg_quantile_bound"].fn(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["within_bound"] for r in rows)


def test_quantile_exact_p50_matches_numpy(spark, sf_dir):
    """The emitted exact p50 must equal the floor((n-1)/2)-indexed
    sorted element per group (quantile_disc definition)."""
    import numpy as np

    from osm_data_classification_spark.io import load_table
    from osm_data_classification_spark.operators.relational import CATALOG

    got = {
        r["event_type"]: r
        for r in CATALOG["agg_quantile_bound"].fn(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    by_type: dict[str, list[float]] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for et, vals in by_type.items():
        v = np.sort(np.array(vals))
        want = int(np.floor(v[(len(v) - 1) // 2] * 1000))
        assert got[et]["exact_p50_x1000"] == want, et
        assert got[et]["n"] == len(vals)
