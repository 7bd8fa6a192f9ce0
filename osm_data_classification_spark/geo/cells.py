"""Hierarchical H3/S2-style cell index, resolutions 0–15 (used: 5–12).

No h3/s2 library exists in this environment (SURVEY.md Appendix A), so
this is a from-scratch aperture-4 quadtree over an equirectangular
projection — the same *capability* the north-star names
(BASELINE.json:6 "batched H3/S2 cell encoding at resolutions 5-12"):
a 64-bit integer cell id with O(1) parent/children/neighbor arithmetic
and strict containment hierarchy.

Layout of a cell id (LongType-safe, always positive):

    bits 56..59 : resolution r (0..15)
    bits 0..2r-1: Morton (Z-order) interleave of (x, y)

where at resolution r the world is a 2^r × 2^r grid:
    x = floor((lon + 180) / 360 * 2^r)   (wraps at the anti-meridian)
    y = floor((lat +  90) / 180 * 2^r)   (clamped at the poles)

Morton interleaving gives the quadtree property: the parent at r-1 is
``morton >> 2``, children are ``morton*4 + {0,1,2,3}``, and ids that
share a prefix are spatially collocated — which is exactly what makes
cell-prefix partition pruning and the res-ladder rollup (SURVEY.md §2
A7/A8) cheap.

Two implementations with identical semantics (golden-tested against
each other):

- numpy (``encode_np``, ``xy_np``, ``cover_bbox_np``) — used inside
  pandas-UDF kernels and driver-side covers; the decode and hierarchy
  twins the tests check against live in tests/oracle_geo.py;
- Spark Column expressions (``cell_encode_col`` etc.) — pure JVM
  bit-twiddling inside whole-stage codegen, no Python worker at all.
  This is the hot path: at 10^12 rows the encode must not pay the
  JVM→Arrow→Python round-trip (SURVEY.md §7 "fuse UDF stages").
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RES_BITS_SHIFT = 56
MIN_RES, MAX_RES = 0, 15

# Morton spread magic numbers (16 -> 32 bit even positions)
_MAGIC = (
    (16, np.uint64(0x0000FFFF0000FFFF)),
    (8, np.uint64(0x00FF00FF00FF00FF)),
    (4, np.uint64(0x0F0F0F0F0F0F0F0F)),
    (2, np.uint64(0x3333333333333333)),
    (1, np.uint64(0x5555555555555555)),
)


# ---------------------------------------------------------------------------
# numpy implementation
# ---------------------------------------------------------------------------


def _spread_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    for shift, mask in _MAGIC:
        v = (v | (v << np.uint64(shift))) & mask
    return v


def xy_np(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid coordinates at ``res``. lon wraps into [-180,180); lat clamps."""
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lonw = ((lon + 180.0) % 360.0)  # wrap
    x = np.floor(lonw / 360.0 * n).astype(np.int64)
    x = np.clip(x, 0, n - 1)
    y = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    y = np.clip(y, 0, n - 1)
    return x, y


def encode_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized cell id for arrays of lon/lat."""
    if not (MIN_RES <= res <= MAX_RES):
        raise ValueError(f"res must be in [{MIN_RES},{MAX_RES}], got {res}")
    x, y = xy_np(lon, lat, res)
    morton = _spread_np(x) | (_spread_np(y) << np.uint64(1))
    return (np.uint64(res) << np.uint64(RES_BITS_SHIFT) | morton).astype(np.int64)


def cell_size_deg(res: int) -> tuple[float, float]:
    n = 1 << res
    return 360.0 / n, 180.0 / n


def cover_bbox_np(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> np.ndarray:
    """Cell ids covering a bbox. A bbox with xmax > 180 is treated as
    crossing the anti-meridian (unwrapped coords); x wraps mod 2^r."""
    n = 1 << res
    x0 = int(np.floor((xmin + 180.0) / 360.0 * n))
    x1 = int(np.floor((np.nextafter(xmax, -np.inf) + 180.0) / 360.0 * n))
    y0 = int(np.floor((ymin + 90.0) / 180.0 * n))
    y1 = int(np.floor((np.nextafter(ymax, -np.inf) + 90.0) / 180.0 * n))
    y0, y1 = max(y0, 0), min(y1, n - 1)
    xs = np.arange(x0, x1 + 1, dtype=np.int64) % n
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(xs, ys)
    morton = _spread_np(gx.ravel()) | (_spread_np(gy.ravel()) << np.uint64(1))
    return np.unique(
        (np.uint64(res) << np.uint64(RES_BITS_SHIFT) | morton).astype(np.int64)
    )


# ---------------------------------------------------------------------------
# Spark Column implementation (JVM-side, whole-stage-codegen friendly)
# ---------------------------------------------------------------------------


def _spread_col(v: Column) -> Column:
    for shift, mask in _MAGIC:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(int(mask)))
    return v


def xy_cols(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    """Grid (x, y) Column expressions — twin of :func:`xy_np`."""
    n = 1 << res
    # pmod, not %: Spark's % keeps the dividend's sign, so lon < -180
    # would clamp to x = 0 instead of wrapping as numpy's % does
    lonw = F.pmod(lon + F.lit(180.0), F.lit(360.0))
    x = F.least(F.floor(lonw / F.lit(360.0) * F.lit(n)), F.lit(n - 1)).cast("long")
    x = F.greatest(x, F.lit(0))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n)).cast("long")
    y = F.greatest(F.least(y, F.lit(n - 1)), F.lit(0))
    return x, y


def cell_from_xy_col(x: Column, y: Column, res: int) -> Column:
    morton = _spread_col(x).bitwiseOR(F.shiftleft(_spread_col(y), 1))
    return F.lit(res << RES_BITS_SHIFT).bitwiseOR(morton)


def kring_explode(
    df: DataFrame, x: Column, y: Column, res: int, ring: int,
    inner: int | None = None,
) -> tuple[DataFrame, Column, Column, Column, Column]:
    """One row per k-ring neighbour of each row's grid cell (x, y) — the
    Spark twin of ``kring_np`` in tests/oracle_geo.py: x wraps at the
    anti-meridian, y rows beyond the poles are dropped. Returns the
    exploded frame and, as Column expressions over it, the neighbour's
    grid (x, y) and its (dx, dy) offset. The frame keeps ``df``'s
    columns plus working columns named ``__x``, ``__y``, ``__dx``,
    ``__dy`` and ``__ny``; callers select what they need. The offsets
    are exploded as literal sequences FIRST and the neighbour computed
    once per output row, so the plan carries one small expression
    instead of (2r+1)² inlined copies.

    ``inner``: drop the cells of the ``inner``-ring block and emit the
    ANNULUS only (``inner=0`` drops just the centre). Valid whenever
    the inner block is un-capped (2*inner+1 <= 2^res): every inner
    cell's offset in this enumeration has max(|dx|,|dy|) <= inner, so
    the offset filter removes exactly the inner block."""
    n = 1 << res
    # x wraps, so when the ring spans the whole grid (2*ring+1 >= n)
    # distinct dx offsets must be capped at exactly n, or pmod maps two
    # offsets to the same cell and a row sees the same neighbour twice
    # (in the kNN join: duplicate candidate rows, a wrong top-k, and a
    # certification bound that would pass it). y clamps, so its range only needs trimming to the grid height for
    # plan size.
    if 2 * ring + 1 <= n:
        dx_lo, dx_hi = -ring, ring
    else:
        dx_lo, dx_hi = -(n // 2), n - n // 2 - 1
    dy = min(ring, n - 1)
    out = (
        df.withColumn("__x", x)
        .withColumn("__y", y)
        .select(
            "*", F.explode(F.sequence(F.lit(dx_lo), F.lit(dx_hi))).alias("__dx")
        )
        .select(
            "*", F.explode(F.sequence(F.lit(-dy), F.lit(dy))).alias("__dy")
        )
        .withColumn("__ny", F.col("__y") + F.col("__dy"))
        .filter((F.col("__ny") >= 0) & (F.col("__ny") < n))
    )
    if inner is not None:
        assert 2 * inner + 1 <= n, "inner block must be un-capped"
        out = out.filter(
            F.greatest(F.abs(F.col("__dx")), F.abs(F.col("__dy"))) > inner
        )
    nx = F.pmod(F.col("__x") + F.col("__dx"), F.lit(n))
    return out, nx, F.col("__ny"), F.col("__dx"), F.col("__dy")


def grid_counts(pages: DataFrame, res: int) -> DataFrame:
    """The page raster at ``res``: one row per occupied grid cell,
    (x, y, n_pages), from the frame's lon/lat (:func:`xy_cols`)."""
    x, y = xy_cols(F.col("lon"), F.col("lat"), res)
    return (
        pages.select(x.alias("x"), y.alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )


def cell_encode_col(lon: Column, lat: Column, res: int) -> Column:
    """Cell id as a pure Column expression — identical semantics to
    :func:`encode_np` (golden-tested), but runs inside whole-stage
    codegen: the 10^12-row hot path never leaves the JVM."""
    x, y = xy_cols(lon, lat, res)
    return cell_from_xy_col(x, y, res).alias(f"cell_r{res}")


def with_cell(df: DataFrame, name: str, res: int) -> DataFrame:
    """``df`` plus ``name``, the :func:`cell_encode_col` id at ``res`` of
    its ``lon``/``lat``, from grid x/y projected once: inlined into the
    Morton spread they appear 32 times each in every plan Catalyst
    analyses (CollapseProject does not re-inline an alias used twice)."""
    x, y = xy_cols(F.col("lon"), F.col("lat"), res)
    xy = df.select("*", x.alias("__x"), y.alias("__y"))
    cell = cell_from_xy_col(F.col("__x"), F.col("__y"), res)
    return xy.withColumn(name, cell).drop("__x", "__y")


def cell_parent_col(cell: Column, child_res: int, parent_res: int) -> Column:
    """Parent id via bit arithmetic (res known statically, as it always
    is in the tile rollup ladder)."""
    if parent_res > child_res:
        raise ValueError("parent_res must be <= child_res")
    morton = cell.bitwiseAND(F.lit((1 << RES_BITS_SHIFT) - 1))
    shifted = F.shiftright(morton, 2 * (child_res - parent_res))
    return F.lit(parent_res << RES_BITS_SHIFT).bitwiseOR(shifted)


def bbox_cover_ranges(
    lon0: float, lat0: float, lon1: float, lat1: float, res: int
) -> list[tuple[int, int]]:
    """Decompose a (closed) bbox into merged, sorted Morton-id ranges
    at ``res`` — the classic Z-order range decomposition: quadtree
    descent emits each fully-contained cell as one contiguous
    descendant range, boundary cells recurse down to ``res``. The
    union of ranges covers every res-``res`` cell whose bounds
    intersect the bbox (conservative superset — callers refine with
    the exact lon/lat predicate). No anti-meridian wrap: callers
    split a wrapping bbox into two first.

    Driver-side only (the bbox is a query literal): the output feeds
    `cell BETWEEN lo AND hi` predicates that Spark pushes into the
    parquet scan when the table is Z-order clustered
    (io.cluster_write), turning a full-table scan into
    O(matching row groups)."""
    if lon0 > lon1 or lat0 > lat1:
        raise ValueError("bbox min must be <= max (split wrapping boxes first)")
    raw: list[tuple[int, int]] = []

    def rec(x: int, y: int, p: int) -> None:
        n = 1 << p
        w, h = 360.0 / n, 180.0 / n
        clon0, clat0 = -180.0 + x * w, -90.0 + y * h
        clon1, clat1 = clon0 + w, clat0 + h
        if clon0 > lon1 or clon1 < lon0 or clat0 > lat1 or clat1 < lat0:
            return
        inside = lon0 <= clon0 and clon1 <= lon1 and lat0 <= clat0 and clat1 <= lat1
        if inside or p == res:
            m = int(_spread_np(np.array([x], dtype=np.uint64))[0]) | (
                int(_spread_np(np.array([y], dtype=np.uint64))[0]) << 1
            )
            shift = 2 * (res - p)
            raw.append((m << shift, ((m + 1) << shift) - 1))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                rec(2 * x + dx, 2 * y + dy, p + 1)

    rec(0, 0, 0)
    raw.sort()
    merged: list[list[int]] = []
    for lo, hi in raw:
        if merged and lo == merged[-1][1] + 1:
            merged[-1][1] = hi
        else:
            merged.append([lo, hi])
    base = res << RES_BITS_SHIFT
    return [(base | lo, base | hi) for lo, hi in merged]
