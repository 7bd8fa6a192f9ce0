"""Single-threaded numpy kNN oracle for the grid-partitioned kNN join
(SURVEY.md §2 J6).

Distance metric: squared Euclidean in (lon, lat) degree space, the
join's own metric. The fixture data is synthetic grid-placed points
(FIXTURES.md §2.1), so a planar metric is exact, deterministic, and —
critically for the bit-for-bit gates — free of transcendental
functions whose last ulp differs across libm builds.
"""

from __future__ import annotations

import numpy as np


def sq_dist(
    ax: np.ndarray, ay: np.ndarray, bx: np.ndarray, by: np.ndarray
) -> np.ndarray:
    dx = ax - bx
    dy = ay - by
    return dx * dx + dy * dy


def knn_bruteforce(
    qx: np.ndarray,
    qy: np.ndarray,
    qid: np.ndarray,
    cx: np.ndarray,
    cy: np.ndarray,
    cid: np.ndarray,
    k: int,
) -> "np.ndarray":
    """Exact kNN oracle: for every query point, the k nearest candidate
    ids by (sq_dist, candidate_id) — the id tiebreak makes the result
    set unique, hence bit-for-bit comparable. Returns a structured
    array (qid, cid, dist_sq, rank). O(nq*nc); oracle-only."""
    out_q, out_c, out_d, out_r = [], [], [], []
    qx = np.asarray(qx, dtype=np.float64)
    qy = np.asarray(qy, dtype=np.float64)
    cx = np.asarray(cx, dtype=np.float64)
    cy = np.asarray(cy, dtype=np.float64)
    for i in range(len(qx)):
        d = sq_dist(qx[i], qy[i], cx, cy)
        order = np.lexsort((cid, d))[:k]
        out_q.extend([qid[i]] * len(order))
        out_c.extend(cid[order])
        out_d.extend(d[order])
        out_r.extend(range(1, len(order) + 1))
    res = np.zeros(
        len(out_q),
        dtype=[("qid", "i8"), ("cid", "i8"), ("dist_sq", "f8"), ("rank", "i8")],
    )
    res["qid"], res["cid"], res["dist_sq"], res["rank"] = out_q, out_c, out_d, out_r
    return res
