"""Output checks: order-insensitive digests, pinned values, and the
DuckDB brute-force kNN reference."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

from inputs import page_points

PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


def load_pinned() -> dict:
    with open(PINNED_PATH) as f:
        return json.load(f)


def rows_digest(rows) -> str:
    """sha256 prefix over the sorted rows; floats by their exact bits."""

    def canon(v):
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    lines = sorted("|".join(canon(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def knn_problems(pdf, n_probes: int, k: int) -> list[str]:
    """Shape checks of a kNN result frame (qid, cid, dist_sq, rank)."""
    problems = []
    if len(pdf) != k * n_probes:
        problems.append(f"{len(pdf)} rows, expected {k * n_probes}")
    ranks = pdf.groupby("qid")["rank"].agg(["min", "max", "nunique", "size"])
    if len(ranks) != n_probes:
        problems.append(f"{len(ranks)} probes answered, expected {n_probes}")
    bad = ranks[(ranks["min"] != 1) | (ranks["max"] != k) | (ranks["nunique"] != k) | (ranks["size"] != k)]
    if len(bad):
        problems.append(f"{len(bad)} probes without ranks 1..{k}")
    return problems


def knn_digest(pdf) -> str:
    return rows_digest(
        zip(pdf["qid"].tolist(), pdf["cid"].tolist(), pdf["dist_sq"].tolist(), pdf["rank"].tolist())
    )


def _url_ranks(urls: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(sort order, rank of each url): ordering by rank orders exactly as
    the url strings do, so integer ids can carry the cid tie-break."""
    order = np.array(sorted(range(len(urls)), key=urls.__getitem__), dtype=np.int64)
    rank_of = np.empty(len(urls), dtype=np.int64)
    rank_of[order] = np.arange(len(urls))
    return order, rank_of


def knn_numpy_digest(page_ids: np.ndarray, k: int, block: int = 500) -> str:
    """Digest of the exact self-kNN of the pages' distinct urls by numpy
    brute force: every (probe, candidate) distance, ranked by
    (dist_sq, cid). Computed once per run as the expected output."""
    urls, lon, lat = page_points(page_ids)
    order, _ = _url_ranks(urls)
    lon, lat = lon[order], lat[order]  # index == url rank from here on
    rows = []
    for lo in range(0, len(lon), block):
        dx = lon[lo : lo + block, None] - lon[None, :]
        dy = lat[lo : lo + block, None] - lat[None, :]
        d = dx * dx + dy * dy
        kth = np.partition(d, k - 1, axis=1)[:, k - 1]
        q, c = np.nonzero(d <= kth[:, None])
        dist = d[q, c]
        pick = np.lexsort((c, dist, q))
        q, c, dist = q[pick], c[pick], dist[pick]
        first = np.r_[0, np.flatnonzero(np.diff(q)) + 1]
        rank = np.arange(len(q)) - np.repeat(first, np.diff(np.r_[first, len(q)])) + 1
        keep = rank <= k
        rows.append((q[keep] + lo, c[keep], dist[keep], rank[keep]))
    by_rank = np.array(urls, dtype=object)[order]
    q, c, dist, rank = (np.concatenate(x) for x in zip(*rows))
    return rows_digest(zip(by_rank[q].tolist(), by_rank[c].tolist(), dist.tolist(), rank.tolist()))


def knn_duckdb_digest(page_ids: np.ndarray, k: int, block: int = 1000) -> str:
    """The same digest brute-forced in DuckDB with the
    ``geo_knn_join_exact`` SQL shape: cross join, then row_number over
    (dist_sq, cid) per probe. Probes go in blocks to bound the pair table;
    urls are replaced by their sort rank, which orders as the strings do."""
    import duckdb
    import pandas as pd

    urls, lon, lat = page_points(page_ids)
    order, rank_of = _url_ranks(urls)
    pts = pd.DataFrame({"id": rank_of, "lon": lon, "lat": lat})
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    con.register("pts", pts)
    parts = []
    for lo in range(0, len(pts), block):
        parts.append(
            con.execute(
                f"""
                SELECT qid, cid, dist_sq, rank FROM (
                    SELECT a.id AS qid, b.id AS cid,
                           (a.lon - b.lon) * (a.lon - b.lon)
                             + (a.lat - b.lat) * (a.lat - b.lat) AS dist_sq,
                           row_number() OVER (
                               PARTITION BY a.id ORDER BY dist_sq, b.id) AS rank
                    FROM (SELECT * FROM pts WHERE id >= {lo} AND id < {lo + block}) a
                    CROSS JOIN pts b
                ) WHERE rank <= {k}
                """
            ).df()
        )
    con.close()
    ref = pd.concat(parts, ignore_index=True)
    by_rank = np.array(urls, dtype=object)[order]
    ref["qid"] = by_rank[ref["qid"].to_numpy()]
    ref["cid"] = by_rank[ref["cid"].to_numpy()]
    return knn_digest(ref)
