"""Synthetic OSM-style boundary multipolygons (FIXTURES.md §2.2).

Deterministic (seed 42), offline. Jittered regular n-gons around
seeded centers so containment ground truth is computable by the numpy
brute-force oracle. Includes the required edge cases: concave shapes,
holes, one multi-part boundary, one anti-meridian crosser (stored in
unwrapped longitudes per geo/pip.py policy), one degenerate sliver.
"""

from __future__ import annotations

import numpy as np

from ..geo.pip import PackedPolygons

def _ngon(cx: float, cy: float, r: float, n: int, rng, jitter: float = 0.25):
    ang = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    rad = r * (1.0 + jitter * (rng.random(n) - 0.5))
    xs = cx + rad * np.cos(ang)
    ys = np.clip(cy + rad * np.sin(ang), -89.9, 89.9)
    xs = np.r_[xs, xs[0]]
    ys = np.r_[ys, ys[0]]
    return xs.tolist(), ys.tolist()


def synthetic_boundary_rows(n: int = 50, seed: int = 42) -> list[tuple]:
    """Rows of (boundary_id, part, ring, xs, ys)."""
    rng = np.random.default_rng(seed)
    rows: list[tuple] = []
    for bid in range(n):
        if bid == 0:
            # anti-meridian crosser, unwrapped lon 178..182
            xs, ys = _ngon(180.0, 10.0, 2.0, 12, rng)
            rows.append((bid, 0, 0, xs, ys))
            continue
        if bid == 1:
            # degenerate sliver (thinner than a res-12 cell ~0.088 deg)
            rows.append(
                (
                    bid,
                    0,
                    0,
                    [20.0, 28.0, 28.0, 20.0, 20.0],
                    [30.0, 30.0, 30.002, 30.002, 30.0],
                )
            )
            continue
        if bid == 2:
            # multi-part boundary
            xs1, ys1 = _ngon(-60.0, -20.0, 3.0, 8, rng)
            xs2, ys2 = _ngon(-50.0, -20.0, 2.0, 6, rng)
            rows.append((bid, 0, 0, xs1, ys1))
            rows.append((bid, 1, 0, xs2, ys2))
            continue
        if 3 <= bid <= 7:
            # one polygon anchored on each mega place token, so the
            # skew hot spots (sources/pages.py) always survive the PIP
            # join and stress the tile aggregation (J9 target)
            from .pages import mega_centers

            cx, cy = mega_centers()[bid - 3]
            xs, ys = _ngon(cx, cy, 4.0, int(rng.integers(8, 20)), rng)
            rows.append((bid, 0, 0, xs, ys))
            continue
        cx = float(rng.uniform(-170, 170))
        cy = float(rng.uniform(-70, 70))
        r = float(rng.uniform(1.0, 6.0))
        nv = int(rng.integers(5, 41))
        xs, ys = _ngon(cx, cy, r, nv, rng)
        rows.append((bid, 0, 0, xs, ys))
        if bid % 10 == 3:  # ~10% get a hole
            hxs, hys = _ngon(cx, cy, r * 0.3, 6, rng, jitter=0.0)
            rows.append((bid, 0, 1, hxs, hys))
    return rows


def packed_boundaries(n: int = 50, seed: int = 42) -> PackedPolygons:
    return PackedPolygons.from_rows(synthetic_boundary_rows(n, seed))

