"""Single-threaded numpy oracles for the geo layer: cell-id decode and
hierarchy (the twins of geo/cells.py's Column arithmetic), the pages
geocoder (sources/pages.geocode_cols) and haversine distance
(geo/distance.haversine_km_col).

The encode side (``encode_np``, ``xy_np``, ``_spread_np``) stays in
geo/cells.py because the engine and tools call it; everything here is
used only by the tests.
"""

from __future__ import annotations

import re

import numpy as np

from osm_data_classification_spark.geo.cells import (
    _MAGIC,
    MAX_RES,
    RES_BITS_SHIFT,
    _spread_np,
)
from osm_data_classification_spark.geo.distance import EARTH_RADIUS_KM
from osm_data_classification_spark.sources.pages import (
    LAT_OFF,
    LAT_STEP,
    LON_OFF,
    LON_STEP,
)


def _compact_np(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & _MAGIC[-1][1]
    v = (v | (v >> np.uint64(1))) & _MAGIC[-2][1]
    v = (v | (v >> np.uint64(2))) & _MAGIC[-3][1]
    v = (v | (v >> np.uint64(4))) & _MAGIC[-4][1]
    v = (v | (v >> np.uint64(8))) & _MAGIC[-5][1]
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def cell_res_np(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell).astype(np.uint64) >> np.uint64(RES_BITS_SHIFT)).astype(
        np.int64
    )


def cell_xy_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    morton = np.asarray(cell).astype(np.uint64) & np.uint64((1 << RES_BITS_SHIFT) - 1)
    return (
        _compact_np(morton).astype(np.int64),
        _compact_np(morton >> np.uint64(1)).astype(np.int64),
    )


def parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Ancestor at ``parent_res`` — pure bit arithmetic, no trig."""
    cell = np.asarray(cell).astype(np.uint64)
    res = cell >> np.uint64(RES_BITS_SHIFT)
    if np.any(res < parent_res):
        raise ValueError("parent_res must be <= cell res")
    morton = cell & np.uint64((1 << RES_BITS_SHIFT) - 1)
    shift = (np.uint64(2) * (res - np.uint64(parent_res))).astype(np.uint64)
    return (
        np.uint64(parent_res) << np.uint64(RES_BITS_SHIFT) | (morton >> shift)
    ).astype(np.int64)


def children_np(cell: int) -> np.ndarray:
    """Four direct children (res+1)."""
    c = np.uint64(cell)
    res = int(c >> np.uint64(RES_BITS_SHIFT))
    if res >= MAX_RES:
        raise ValueError("cell already at max res")
    morton = c & np.uint64((1 << RES_BITS_SHIFT) - 1)
    kids = (morton << np.uint64(2)) + np.arange(4, dtype=np.uint64)
    return (np.uint64(res + 1) << np.uint64(RES_BITS_SHIFT) | kids).astype(np.int64)


def kring_np(cell: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)² block).
    x wraps across the anti-meridian; y rows beyond the poles are
    dropped. Includes the center cell. Sorted, deduped."""
    c = np.uint64(cell)
    res = int(c >> np.uint64(RES_BITS_SHIFT))
    n = 1 << res
    x, y = cell_xy_np(np.array([cell]))
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    xs = (x[0] + dx.ravel()) % n
    ys = y[0] + dy.ravel()
    ok = (ys >= 0) & (ys < n)
    xs, ys = xs[ok], ys[ok]
    morton = _spread_np(xs) | (_spread_np(ys) << np.uint64(1))
    out = (np.uint64(res) << np.uint64(RES_BITS_SHIFT) | morton).astype(np.int64)
    return np.unique(out)


def cell_bounds_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    cell = np.asarray(cell)
    res = cell_res_np(cell)
    n = (np.int64(1) << res).astype(np.float64)
    x, y = cell_xy_np(cell)
    w, h = 360.0 / n, 180.0 / n
    lon0 = -180.0 + x * w
    lat0 = -90.0 + y * h
    return lon0, lat0, lon0 + w, lat0 + h


def geocode_np(texts) -> tuple:
    """Twin of :func:`sources.pages.geocode_cols` (same semantics)."""
    pat = re.compile(r"loc_(\d+)_(\d+)")
    lon = np.empty(len(texts))
    lat = np.empty(len(texts))
    for k, t in enumerate(texts):
        m = pat.search(t)
        i, j = int(m.group(1)), int(m.group(2))
        lon[k] = -180.0 + i * LON_STEP + LON_OFF
        lat[k] = -90.0 + j * LAT_STEP + LAT_OFF
    return lon, lat


def haversine_km_np(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Twin of :func:`geo.distance.haversine_km_col`."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = rlat1 * 0 + np.radians(lat2) - np.radians(lat1)
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlon / 2) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))
