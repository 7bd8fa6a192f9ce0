"""Connected components vs a single-threaded union-find oracle; host
PageRank vs a numpy oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.operators import dedup
from osm_data_classification_spark.operators.components import (
    PR_DAMPING,
    PR_EDGE_MAPS,
    PR_HOSTS,
    PR_ITERS,
    PR_SINK_MIN,
    PR_SOURCE_MOD,
    connected_components,
    dedup_clusters,
    host_link_edges,
    pagerank_hosts,
)
from tests import oracle_geo


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (30, 31)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    exp = _union_find(edges)
    # canonical labels: min of each component
    exp_min = {}
    for x, r in exp.items():
        exp_min.setdefault(r, min([k for k, v in exp.items() if v == r]))
    exp_lab = {x: exp_min[r] for x, r in exp.items()}
    assert got == exp_lab


def test_dedup_clusters_contain_planted_groups(spark, sf_dir):
    out = {r["cluster"]: (r["size"], r["canonical"])
           for r in dedup_clusters(spark, sf_dir).collect()}
    # doc d < N_EXACT has BOTH an exact copy (d+EXACT_OFF) and a near
    # copy (d+NEAR_OFF): all should fold into cluster d
    for d in range(5):
        size, canonical = out[d]
        assert canonical == d
        assert size >= 3
    # cluster ids partition all docs exactly once
    total = sum(s for s, _ in out.values())
    assert total == dedup.corpus(spark, sf_dir).count()


def test_components_long_path_converges(spark):
    """A 25-node path graph: min-label propagation moves one hop per
    round, so max_iter=5 cannot converge — it must raise loudly, never
    silently return wrong labels (round-2 ADVICE); with max_iter=30 it
    converges to the exact single component."""
    import pytest

    edges = [(i, i + 1) for i in range(24)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=5)
    got = {r["node"]: r["comp"] for r in connected_components(df, max_iter=30).collect()}
    assert got == {i: 0 for i in range(25)}

def test_max_iter_below_one_raises_valueerror(spark):
    """max_iter <= 0 must fail loudly up front (round-2 ADVICE: the
    for/else branch referenced `changed` unbound on an empty range)."""
    import pytest
    from pyspark.sql import functions as F

    from osm_data_classification_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=0)


def test_dense_cell_clusters_match_union_find(spark, sf_dir):
    """geo_cluster_dense_cells vs a python union-find over the same
    raster: rebuild the dense-cell set from the geocoded pages, close
    the 8-neighbor adjacency (wrap in x, clamp in y), and compare
    cluster labels and the per-cluster rollups."""
    from collections import Counter

    from osm_data_classification_spark.geo import cells
    from osm_data_classification_spark.operators.geo_queries import (
        DENSE_RES,
        DENSE_THR,
        geo_cluster_dense_cells,
    )
    from osm_data_classification_spark.sources.pages import geocoded_pages

    import numpy as np

    rows = geocoded_pages(spark, sf_dir, res=DENSE_RES).select("lon", "lat").collect()
    n = 1 << DENSE_RES
    lon = np.array([r["lon"] for r in rows])
    lat = np.array([r["lat"] for r in rows])
    x, y = cells.xy_np(lon, lat, DENSE_RES)
    counts = Counter(zip(x.tolist(), y.tolist()))
    dense = {xy for xy, c in counts.items() if c >= DENSE_THR}
    pairs = []
    for (cx, cy) in dense:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) == (0, 0):
                    continue
                nx, ny = (cx + dx) % n, cy + dy
                if 0 <= ny < n and (nx, ny) in dense:
                    pairs.append(((cx, cy), (nx, ny)))
    comp = _union_find(pairs)
    exp_lab = {}
    cell_id = {
        xy: int(
            (DENSE_RES << cells.RES_BITS_SHIFT)
            | int(cells._spread_np(np.array([xy[0]], dtype=np.uint64))[0]
                  | (cells._spread_np(np.array([xy[1]], dtype=np.uint64))[0] << np.uint64(1)))
        )
        for xy in dense
    }
    # canonical label = min CELL ID reachable (matches the operator);
    # _union_find already resolves every key to its final root
    groups = {}
    for xy in dense:
        groups.setdefault(comp.get(xy, xy), []).append(xy)
    for members in groups.values():
        lab = min(cell_id[m] for m in members)
        tot = sum(counts[m] for m in members)
        for m in members:
            exp_lab[cell_id[m]] = (lab, len(members), tot)

    got = geo_cluster_dense_cells(spark, sf_dir).collect()
    assert len(got) == len(dense)
    for r in got:
        lab, ncells, npages = exp_lab[r["cell"]]
        assert r["cluster"] == lab
        assert r["cluster_cells"] == ncells
        assert r["cluster_pages"] == npages
        assert r["n_pages"] == counts[
            tuple(int(v[0]) for v in oracle_geo.cell_xy_np(np.array([r["cell"]])))
        ]
    # the fixture must actually exercise multi-cell clusters
    assert any(r["cluster_cells"] > 1 for r in got)


def test_pagerank_exact_parallels_float_variant(spark, sf_dir):
    """pagerank_hosts_exact (8 integer rounds) vs pagerank_hosts
    (20 float rounds): same node set, same top-10 authority ordering,
    and normalized scores within 1e-3 of each other — the integer
    twin is a faithful, driver-gradable rendering of the same
    recurrence, not a different algorithm."""
    import numpy as np

    from osm_data_classification_spark.operators.components import (
        pagerank_hosts,
        pagerank_hosts_exact,
    )

    f = {r["host"]: r["rank"] for r in pagerank_hosts(spark, sf_dir).collect()}
    i = {
        r["host"]: r["rank_x1e12"]
        for r in pagerank_hosts_exact(spark, sf_dir).collect()
    }
    assert set(f) == set(i) and f
    fo = sorted(f, key=lambda h: (-f[h], h))
    io = sorted(i, key=lambda h: (-i[h], h))
    assert fo[:10] == io[:10]
    hosts = sorted(f)
    fv = np.array([f[h] for h in hosts])
    iv = np.array([float(i[h]) for h in hosts])
    assert np.max(np.abs(fv / fv.sum() - iv / iv.sum())) < 1e-3


def test_triangle_count_matches_numpy_bruteforce(spark, sf_dir):
    """Independent gate for webgraph_triangle_count: the Spark and SQL
    sides share the orientation construction, so a systematic bug
    would pass the driver hash — numpy's adjacency-matrix count
    (diag(A^3)/2 per node, trace/6 total) can't share it."""
    import numpy as np

    from osm_data_classification_spark.operators.components import (
        PR_HOSTS,
        host_link_edges,
        webgraph_triangle_count,
    )

    edges = host_link_edges(spark, sf_dir).collect()
    A = np.zeros((PR_HOSTS, PR_HOSTS), dtype=np.int64)
    for e in edges:
        A[e["src"], e["dst"]] = 1
        A[e["dst"], e["src"]] = 1
    A3 = A @ A @ A
    per_node = {h: int(A3[h, h]) // 2 for h in range(PR_HOSTS) if A3[h, h]}
    got = {
        r["host"]: r["n_triangles"]
        for r in webgraph_triangle_count(spark, sf_dir).collect()
    }
    assert got == per_node
    assert sum(got.values()) == int(np.trace(A3)) // 6 * 3


def _docs_pdf(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
    )


def test_pagerank_matches_numpy_oracle(spark, sf_dir):
    edges = {
        (r["src"], r["dst"]) for r in host_link_edges(spark, sf_dir).collect()
    }
    # oracle rebuilds the same affine graph independently
    doc_ids = _docs_pdf(spark, sf_dir).doc_id.values
    exp_edges = set()
    for d in doc_ids:
        s = d % PR_HOSTS
        for a, b in PR_EDGE_MAPS:
            t = (a * s + b) % PR_HOSTS
            if s != t and s < PR_SINK_MIN and t % PR_SOURCE_MOD != 0:
                exp_edges.add((s, t))
    assert edges == exp_edges

    nodes = sorted({x for e in edges for x in e})
    idx = {h: i for i, h in enumerate(nodes)}
    n = len(nodes)
    out_deg = np.zeros(n)
    for s, _ in edges:
        out_deg[idx[s]] += 1
    ranks = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[idx[t]] += ranks[idx[s]] / out_deg[idx[s]]
        ranks = (1.0 - PR_DAMPING) / n + PR_DAMPING * contrib
    got = {r["host"]: r["rank"] for r in pagerank_hosts(spark, sf_dir).collect()}
    assert set(got) == set(nodes)
    for h in nodes:
        assert got[h] == pytest.approx(ranks[idx[h]], rel=1e-9, abs=1e-12)
    # textbook variant: dangling hosts leak rank, so total < 1 iff any
    # host is dangling; ranks are all >= teleport term
    teleport = (1.0 - PR_DAMPING) / n
    assert all(v >= teleport - 1e-15 for v in got.values())
    if (out_deg == 0).any():
        assert sum(got.values()) < 1.0


def test_pagerank_graph_has_dangling_and_unlinked(spark, sf_dir):
    """The synthesized graph must exercise both boundary shapes: at
    least one host with no out-edges and one with no in-links."""
    rows = host_link_edges(spark, sf_dir).collect()
    srcs = {r["src"] for r in rows}
    dsts = {r["dst"] for r in rows}
    assert dsts - srcs, "no dangling host (no out-edges)"
    assert srcs - dsts, "no unlinked host (no in-links)"
