"""Property-based tests (SURVEY.md §5.2): numpy-level invariants of
the cell index and PIP kernel under randomized inputs — pure Python,
no SparkSession needed."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_data_classification_spark.geo import cells
from osm_data_classification_spark.geo.pip import PackedPolygons
from tests import oracle_geo

lons = st.floats(min_value=-180.0, max_value=179.999999, allow_nan=False)
lats = st.floats(min_value=-90.0, max_value=89.999999, allow_nan=False)
resolutions = st.integers(min_value=1, max_value=15)


@given(lon=lons, lat=lats, res=st.integers(min_value=1, max_value=14))
@settings(max_examples=200, deadline=None)
def test_parent_of_encode_is_coarser_encode(lon, lat, res):
    child = cells.encode_np(np.array([lon]), np.array([lat]), res + 1)
    parent = oracle_geo.parent_np(child, res)
    direct = cells.encode_np(np.array([lon]), np.array([lat]), res)
    assert parent[0] == direct[0]


@given(lon=lons, lat=lats, res=resolutions)
@settings(max_examples=200, deadline=None)
def test_cell_bounds_contain_point(lon, lat, res):
    cell = cells.encode_np(np.array([lon]), np.array([lat]), res)
    x0, y0, x1, y1 = oracle_geo.cell_bounds_np(cell)
    # atol: the encode adds 180/90 before flooring, which absorbs
    # sub-ulp coordinates at cell edges — a point within one ulp of an
    # edge may legally land in the adjacent cell (identically in the
    # numpy, JVM and SQL implementations)
    tol = 1e-9
    assert x0[0] - tol <= lon <= x1[0] + tol
    assert y0[0] - tol <= lat <= y1[0] + tol


@given(lon=lons, lat=lats, res=st.integers(min_value=2, max_value=12))
@settings(max_examples=100, deadline=None)
def test_kring_contains_own_cell_and_neighbors_parented(lon, lat, res):
    cell = int(cells.encode_np(np.array([lon]), np.array([lat]), res)[0])
    ring = oracle_geo.kring_np(cell, 1)
    assert cell in set(ring)
    assert 1 <= len(ring) <= 9
    for c in ring:
        assert int(oracle_geo.cell_res_np(np.array([c]))[0]) == res


@given(lon=lons, lat=lats, res=st.integers(min_value=1, max_value=14))
@settings(max_examples=100, deadline=None)
def test_children_partition_parent(lon, lat, res):
    parent = int(cells.encode_np(np.array([lon]), np.array([lat]), res)[0])
    kids = oracle_geo.children_np(parent)
    assert len(kids) == 4
    back = oracle_geo.parent_np(kids, res)
    assert all(b == parent for b in back)
    child = cells.encode_np(np.array([lon]), np.array([lat]), res + 1)
    assert child[0] in set(kids)


def _random_polygon(rng, n_vertices: int):
    cx, cy = rng.uniform(-150, 150), rng.uniform(-70, 70)
    angles = np.sort(rng.uniform(0, 2 * np.pi, n_vertices))
    radii = rng.uniform(2.0, 10.0, n_vertices)
    xs = cx + radii * np.cos(angles)
    ys = cy + radii * np.sin(angles)
    xs = np.append(xs, xs[0])
    ys = np.append(ys, ys[0])
    return xs, ys


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=50, deadline=None)
def test_pip_stable_under_tiny_jitter(seed):
    """PIP(p) == PIP(p + 1e-12) for points away from edges — the
    float-stability requirement behind bit-for-bit tile assignment."""
    rng = np.random.default_rng(seed)
    xs, ys = _random_polygon(rng, int(rng.integers(5, 20)))
    pk = PackedPolygons.from_rows([(0, 0, 0, xs, ys)])
    pts_x = rng.uniform(xs.min() - 1, xs.max() + 1, 50)
    pts_y = rng.uniform(ys.min() - 1, ys.max() + 1, 50)
    idx = np.zeros(50, dtype=np.int64)
    base = pk.contains(idx, pts_x, pts_y)
    jit = pk.contains(idx, pts_x + 1e-12, pts_y + 1e-12)
    # distance of each point to every edge; exclude near-edge points
    def min_edge_dist(px, py):
        ax, ay = xs[:-1], ys[:-1]
        bx, by = xs[1:], ys[1:]
        dx, dy = bx - ax, by - ay
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy), 0, 1)
        ex, ey = ax + t * dx - px, ay + t * dy - py
        return np.sqrt(ex * ex + ey * ey).min()

    for k in range(50):
        if min_edge_dist(pts_x[k], pts_y[k]) > 1e-9:
            assert base[k] == jit[k]


@given(seed=st.integers(min_value=0, max_value=10_000))
@settings(max_examples=30, deadline=None)
def test_pip_matches_matplotlib_free_winding_oracle(seed):
    """Ray-cast result equals an independent crossing-number oracle."""
    rng = np.random.default_rng(seed)
    xs, ys = _random_polygon(rng, int(rng.integers(5, 25)))
    pk = PackedPolygons.from_rows([(0, 0, 0, xs, ys)])
    px = rng.uniform(xs.min() - 2, xs.max() + 2, 200)
    py = rng.uniform(ys.min() - 2, ys.max() + 2, 200)
    got = pk.contains(np.zeros(200, dtype=np.int64), px, py)

    def crossing(pxi, pyi):
        c = False
        for k in range(len(xs) - 1):
            x1, y1, x2, y2 = xs[k], ys[k], xs[k + 1], ys[k + 1]
            if (y1 > pyi) != (y2 > pyi):
                xint = x1 + (pyi - y1) * (x2 - x1) / (y2 - y1)
                if pxi < xint:
                    c = not c
        return c

    exp = np.array([crossing(px[k], py[k]) for k in range(200)])
    assert (got == exp).all()


def test_anomaly_mad_robust_to_single_spike(spark):
    """The MAD detector's defining property: one huge spike in an
    otherwise-steady series is flagged WITHOUT masking itself (a
    mean/stddev z-score at 3 sigma misses it on short series because
    the spike inflates the stddev). Synthetic host: 9 steady days of 4
    events + 1 day of 400."""
    import datetime

    from pyspark.sql import functions as F

    from osm_data_classification_spark.operators.temporal import (
        CATALOG as TEMP,
    )

    rows = []
    eid = 0
    for d in range(10):
        n = 400 if d == 9 else 4
        for i in range(n):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 1, 1 + d, 1 + (i % 20), i % 60),
                    7,
                    "crawl",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    sch = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="mad_src_")
    try:
        spark.createDataFrame(rows, sch).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        out = TEMP["events_anomaly_mad"].fn(spark, d).collect()
        flagged = {r["day"] for r in out if r["is_anomaly"]}
        assert flagged == {"2024-01-10"}
        # med/mad reflect the steady regime, not the spike
        assert all(r["med2"] == 8 and r["mad4"] == 0 for r in out)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cusum_flags_sustained_drift_not_single_spike(spark):
    """CUSUM vs MAD division of labor: a one-day spike (then back to
    normal) must NOT put CUSUM into sustained drift at the end of the
    series, while a level shift (volume doubles and stays) must. The
    recurrence resets on max(0, .), so the spike decays."""
    import datetime
    import os
    import shutil
    import tempfile

    from osm_data_classification_spark.operators.grouped import (
        CATALOG as GRP,
    )

    rows, eid = [], 0
    # host 1: steady 4/day for 20 days, day 2 spikes to 20, rest steady
    for d in range(20):
        n = 20 if d == 2 else 4
        for i in range(n):
            rows.append((eid, datetime.datetime(2024, 1, 1 + d, 1 + i % 20), 1, "a", 1.0, "{}"))
            eid += 1
    # host 2: 4/day for 15 days then a sustained shift to 12/day
    for d in range(20):
        n = 4 if d < 15 else 12
        for i in range(n):
            rows.append((eid, datetime.datetime(2024, 1, 1 + d, 1 + i % 20), 2, "a", 1.0, "{}"))
            eid += 1
    sch = ("event_id long, ts timestamp, user_id long, event_type string,"
           " value double, props string")
    d = tempfile.mkdtemp(prefix="cusum_src_")
    try:
        spark.createDataFrame(rows, sch).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        out = GRP["grouped_cusum_apply"].fn(spark, d).collect()
        by_host_last = {}
        for r in sorted(out, key=lambda r: (r["user_id"], r["day"])):
            by_host_last[r["user_id"]] = r
        assert not by_host_last[1]["drift"], "spike host wrongly in drift at series end"
        assert by_host_last[2]["drift"], "level-shift host not flagged"
        # the spike day itself may exceed, but the accumulator must
        # have decayed back to zero by the series end
        assert by_host_last[1]["cusum2"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)
