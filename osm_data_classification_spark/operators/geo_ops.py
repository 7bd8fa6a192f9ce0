"""Distributed geo operators: PIP join, grid kNN join, tile aggregation.

These are the operators the reference lacks and the north-star adds
(BASELINE.json:6,14) — each built the Spark-native way (SURVEY.md §2
J5/J6/J9, A7/A8): a *relational* coarse phase (broadcast equi-join on
cell ids, pure JVM) plus a vectorized-numpy exact refine behind an
Arrow-batched pandas UDF. No per-row Python anywhere.

Scale notes (the 1000-executor story):

- The polygon set broadcasts (packed flat numpy arrays, rebuilt once
  per Python worker). The points side — the 10^12-row table — never
  shuffles for the PIP join at all: candidate generation is a
  broadcast-hash join, the refine is a stateless map. The flagship's
  exchanges are the page source's pre-fan-out repartition (|documents|
  rows) and the three tile-agg groupBys, which also carry the
  per-tile boundary count.
- The kNN join shuffles both sides once, keyed by cell (probe cells
  widen over the k-ring stencil ``geo.cells.kring_explode``); border
  correctness comes from an in-plan certification bound. The ring-1
  pass is a static plan; only the RESIDUE (the uncertified remainder,
  typically ~0) takes a driver-side widening loop — O(log n) passes
  of the same ring-pass kernel, each a blocking count over the
  persisted, shrinking residue, each pass re-scanning only the
  annulus of new cells and merging the previous pass's per-probe
  top-k.
- Mega-cell skew: distinct-count aggregation is two-phase keyed on
  (cell, contributor) first — the hot cell's rows spread over the
  whole cluster in phase 1 — and AQE skew-join splitting is on in the
  session factory for the join paths.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..geo.cells import (
    cell_encode_col,
    cell_parent_col,
    cell_size_deg,
    kring_explode,
    xy_cols,
)
from ..geo.pip import PackedPolygons

# ---------------------------------------------------------------------------
# J5: point-in-polygon join
# ---------------------------------------------------------------------------

# max (cell, boundary_id) cover pairs to broadcast (~16 bytes/pair ->
# ~64 MB, inside the default autoBroadcastJoinThreshold ballpark);
# larger covers take a shuffle equi-join on cell instead
_COVER_BROADCAST_MAX = 4_000_000


def pip_join(
    points: DataFrame,
    packed: PackedPolygons,
    res: int = 7,
    refine: bool = True,
    cover_broadcast_max: int | None = None,
) -> DataFrame:
    """points ⨝ polygons with `point inside polygon` semantics;
    ``points`` carries ``lon``/``lat`` columns.

    Phase 1 (coarse, JVM): encode each point's cell at ``res`` and
    equi-join against the (cell, boundary_id) bbox-cover table — the
    STRtree-candidate analog (BASELINE.json:6). The cover side is
    BROADCAST while it fits (points never shuffle — the plan that wins
    up to ~10^4 boundaries); past ``_COVER_BROADCAST_MAX`` pairs it
    becomes a shuffle equi-join on cell, because a multi-hundred-MB
    broadcast to every executor is the same OOM class as the kNN
    fallback round 1 shipped. The cover row count is known driver-side
    for free, so the switch costs nothing.
    Phase 2 (exact): Arrow-batched pandas UDF ray-cast against the
    broadcast packed rings. ``refine=False`` exposes phase 1 alone
    (used by tests to check the cover is a superset).
    ``cover_broadcast_max`` overrides the broadcast gate (default: the
    module's ``_COVER_BROADCAST_MAX``, resolved at call time) — pass 0
    to force the shuffle-cover regime (the >10^4-boundary plan) so it
    can be exercised under the driver oracle, not only in plan tests.
    """
    if cover_broadcast_max is None:
        cover_broadcast_max = _COVER_BROADCAST_MAX
    spark = points.sparkSession
    cover_cells, cover_bids = packed.cell_cover(res)
    cover = spark.createDataFrame(
        pd.DataFrame({"__cell": cover_cells, "boundary_id": cover_bids})
    )
    if len(cover_cells) <= cover_broadcast_max:
        cover = F.broadcast(cover)
    else:
        # Past the gate, a broadcast is exactly the OOM class the gate
        # exists to prevent — but the session's 64MB auto-broadcast
        # threshold would still happily broadcast a multi-million-pair
        # cover. Pin the cell-keyed shuffle-hash join: the per-
        # partition build side is cover_pairs/shuffle_partitions rows
        # (tiny), and the points side pays its one exchange. This also
        # makes the shuffle regime REAL wherever it is selected (the
        # driver-graded geo_pip_join_shuffle entry runs this exact
        # physical plan, threshold or not).
        cover = cover.hint("shuffle_hash")
    cand = points.withColumn(
        "__cell", cell_encode_col(F.col("lon"), F.col("lat"), res)
    ).join(cover, "__cell")
    if not refine:
        return cand.drop("__cell")

    bc = spark.sparkContext.broadcast(packed)

    @pandas_udf("boolean")
    def _inside(bid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        pk = bc.value
        idx = pk.index_of(bid.to_numpy())
        return pd.Series(pk.contains(idx, lon.to_numpy(), lat.to_numpy()))

    return cand.filter(
        _inside(F.col("boundary_id"), F.col("lon"), F.col("lat"))
    ).drop("__cell")


# ---------------------------------------------------------------------------
# J6: grid-partitioned kNN join with border certification
# ---------------------------------------------------------------------------


def _grid_key(x: Column, y: Column) -> Column:
    """Flat (x,y) join key for kNN's internal equi-join. Deliberately NOT
    the Morton cell id: the hierarchical id's bit-spread expression tree
    is large (it exists for parent/rollup arithmetic, which a join key
    never needs), and inlining it 9× per k-ring probe made Janino
    whole-stage-codegen compile time dominate small stages. res≤15 ⇒
    x,y < 2^15, so ``x<<20 | y`` is collision-free and three codegen ops."""
    return F.shiftleft(x, 20).bitwiseOR(y)


# residue terminal: max |residue|·|candidates| distance evaluations a
# single partitioned-cartesian pass may take on (≈2s of vectorized
# compute across 32 cores; at cluster scale this keeps the cartesian
# reserved for residues that are vanishingly small relative to the
# candidate count — everything else takes ring passes)
_CARTESIAN_BUDGET = 64_000_000

# max probe count for which the certified-id set may be broadcast-
# hinted in the anti-joins (~8 bytes/id -> ~16 MB); beyond it the
# hint is dropped and AQE decides from runtime stats
_CERT_BROADCAST_MAX = 2_000_000


def _cert_bound_sq(lon_col: str, lat_col: str, res: int, ring: int) -> Column:
    """Squared lower bound on the distance from a probe to any candidate
    OUTSIDE its (2*ring+1)² cell block. kth-NN dist below this bound
    certifies the block contained the true k nearest.

    Directions where the block hits a pole row (nothing beyond) or
    wraps the whole world contribute no constraint (infinite bound).
    """
    n = 1 << res
    w, h = cell_size_deg(res)
    x, y = xy_cols(F.col(lon_col), F.col(lat_col), res)
    lon0 = F.lit(-180.0) + x.cast("double") * F.lit(w)  # own-cell left edge
    lat0 = F.lit(-90.0) + y.cast("double") * F.lit(h)
    inf = F.lit(float("inf"))
    if 2 * ring + 1 >= n:
        dx_edge = inf
    else:
        dx_edge = F.least(
            F.col(lon_col) - (lon0 - F.lit(float(ring * w))),
            (lon0 + F.lit(float((ring + 1) * w))) - F.col(lon_col),
        )
    dy_lo = F.when(y - ring <= 0, inf).otherwise(
        F.col(lat_col) - (lat0 - F.lit(float(ring * h)))
    )
    dy_hi = F.when(y + ring >= n - 1, inf).otherwise(
        (lat0 + F.lit(float((ring + 1) * h))) - F.col(lat_col)
    )
    d = F.least(dx_edge, dy_lo, dy_hi)
    return d * d


def knn_join(
    probes: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    res: int = 7,
    id_col: str = "qid",
    cand_id_col: str = "cid",
    n_candidates: "int | None" = None,
    n_probes: "int | None" = None,
) -> DataFrame:
    """Exact k-nearest-neighbor join (planar squared-degree metric).

    ``n_candidates``: pass the candidate count if the caller already
    knows it (most do — they counted for :func:`knn_auto_res`); saves
    the residue path one count job. ``n_probes``: pass the probe count
    to size-gate the certified-id anti-join broadcast — hinted only
    when the id set is provably small (see ``_CERT_BROADCAST_MAX``),
    since it approaches |probes| once most probes certify.

    probes:     (id_col, lon, lat);  candidates: (cand_id_col, lon, lat).
    Returns (id_col, cand_id_col, dist_sq, rank), rank 1..k, ties broken
    on candidate id — a unique, bit-for-bit-comparable result set.

    Staged plan:
      1. ring-1 pass — probe cells exploded to the 3×3 block,
         equi-joined to candidates on cell, per-probe top-k window; a
         probe is CERTIFIED iff it found ≥k candidates and its kth
         distance is within the block-boundary bound. Certification is
         a second window over the SAME partition key (id_col), so
         Catalyst reuses the top-k exchange. Certified probes never
         re-join.
      residue. density-guided widening: one global candidate count
         picks the ring expected to certify (~4k candidates per
         block); doubling covers skew; each widening is the same
         certifying pass over the annulus of new cells. The terminal
         pass is either a partitioned cartesian (sparse grids) or the
         full-cover cell join (dense grids) — in no case is the
         candidate set broadcast, and every pass's cost scales with
         the residue, never the candidate count.

    Pick ``res`` so that a ring block holds ≳k candidates (see
    :func:`knn_auto_res`).

    Caching: each certifying pass persists its top-k ``stage`` frame
    and the uncertified ``remaining`` frame; the result reads them, so
    they stay cached after the caller's action. The caller releases
    them with ``spark.catalog.clearCache()`` once the result is
    consumed, as bench.py and perfbench do (perfbench's
    ``geo_ops.knn_join.cached_rdds_left`` counts them).
    """
    qlon, qlat = "lon", "lat"
    n = 1 << res
    cx, cy = xy_cols(F.col("__clon"), F.col("__clat"), res)
    cand = candidates.select(
        F.col(cand_id_col),
        F.col("lon").alias("__clon"),
        F.col("lat").alias("__clat"),
    ).withColumn("__cell", _grid_key(cx, cy))

    def pair_rows(joined: DataFrame) -> DataFrame:
        dx = F.col(qlon) - F.col("__clon")
        dy = F.col(qlat) - F.col("__clat")
        d = (dx * dx + dy * dy).alias("dist_sq")
        return joined.select(id_col, qlon, qlat, cand_id_col, d)

    def topk_rows(rows: DataFrame) -> DataFrame:
        w = Window.partitionBy(id_col).orderBy("dist_sq", cand_id_col)
        return rows.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )

    def topk(joined: DataFrame) -> DataFrame:
        return topk_rows(pair_rows(joined))

    out_cols = [id_col, cand_id_col, "dist_sq", "rank"]
    topk_cols = [id_col, qlon, qlat, cand_id_col, "dist_sq"]
    wp = Window.partitionBy(id_col)
    parts: list[DataFrame] = []
    # previous pass's per-probe top-k (persisted) + its ring: a later,
    # wider pass re-scans only the ANNULUS of new cells and merges this
    # seed — top-k over (inner top-k ∪ annulus) equals top-k over the
    # full block, because any dropped inner candidate is dominated by k
    # seeded ones (round-2 VERDICT #5 / NOTES_r2 round-3 candidate)
    prev_topk: DataFrame | None = None
    prev_ring = 0

    def ringed(remaining: DataFrame, r: int, inner: int | None = None) -> DataFrame:
        """``remaining`` with one row per ring-``r`` cell of each probe
        (the annulus beyond ``inner``), keyed ``__cell``."""
        qx, qy = xy_cols(F.col(qlon), F.col(qlat), res)
        out, nx, ny, _, _ = kring_explode(remaining, qx, qy, res, r, inner)
        return out.select(*remaining.columns, _grid_key(nx, ny).alias("__cell"))

    def block_topk(remaining: DataFrame, r: int) -> DataFrame:
        """Per-probe top-k over the ring-``r`` block: annulus + seed
        merge when the previous block was un-capped (the inner block
        contributes the k persisted seed rows per still-uncertified
        probe), else the full block."""
        if prev_topk is not None and 2 * prev_ring + 1 <= n:
            annulus = ringed(remaining, r, inner=prev_ring)
            seed = prev_topk.join(remaining.select(id_col), id_col, "leftsemi")
            return topk_rows(
                pair_rows(annulus.join(cand, "__cell")).unionByName(seed)
            )
        return topk(ringed(remaining, r).join(cand, "__cell"))

    def ring_pass(remaining: DataFrame, r: int) -> DataFrame:
        """Certifying pass at ring ``r``: appends the certified probes'
        top-k to ``parts`` and returns the persisted uncertified rest.
        The k·|remaining|-row top-k is persisted (three branches read
        it, and it seeds the next pass), as is the shrinking remainder
        — the tables you would checkpoint on a real cluster."""
        nonlocal prev_topk, prev_ring
        stage = block_topk(remaining, r).withColumn(
            "__cert_sq", _cert_bound_sq(qlon, qlat, res, r)
        ).persist()
        prev_topk, prev_ring = stage.select(*topk_cols), r
        stage = stage.withColumn("__n", F.count(F.lit(1)).over(wp)).withColumn(
            "__kth", F.max("dist_sq").over(wp)
        )
        # STRICT <: a candidate just outside the block at exactly the
        # boundary distance could win the (dist_sq, cid) tie-break, so
        # an exact tie must fall through to the wider ring
        ok = (F.col("__n") >= k) & (F.col("__kth") < F.col("__cert_sq"))
        parts.append(stage.filter(ok).select(*out_cols))
        cert_ids = stage.filter(ok).select(id_col).distinct()
        # size-gated hint: cert_ids approaches |probes| once most
        # certify — a forced broadcast at 10^9 probes would be multi-
        # GB, but leaving a tiny id set to a sort-merge anti-join
        # costs two avoidable shuffles per pass (measured ~2x on the
        # local bench). Hint only under the known-small gate.
        if n_probes is not None and n_probes <= _CERT_BROADCAST_MAX:
            cert_ids = F.broadcast(cert_ids)
        return remaining.join(cert_ids, id_col, "left_anti").persist()

    remaining = ring_pass(probes.select(id_col, qlon, qlat), 1)

    # --- residue: density-guided ring widening to certification ----------
    # Round-1's terminal fallback broadcast the FULL candidate set
    # (broadcast OOM at 10^9 candidates regardless of residue size).
    # Replaced: if any probes remain uncertified after ring 1, measure
    # the global candidate density ONCE and jump straight to the ring
    # whose block is expected to hold ~4k candidates (instead of
    # doubling up from ring 1 — a pass per doubling is real wall
    # time), then double on skew misses. Each pass is a cell
    # equi-join whose cost scales with the residue, never the
    # candidate count, and certification is exact. Terminal
    # exactness (also covers k > |candidates| and extreme skew):
    #   * sparse grid (|cand| < n²/2): residue × candidates as a
    #     PARTITIONED cartesian — |residue|·|cand| streamed work
    #     spread across tasks, nothing broadcast, no OOM ceiling;
    #   * dense grid: full-cover k-ring — the cell equi-join IS the
    #     exact scan, partitioned on cell on both sides.
    # Runtime counts run over the persisted, shrinking residue.
    n_rem = remaining.count()
    if n_rem:
        n_cand = n_candidates if n_candidates is not None else cand.count()
        # block side that yields ~4k expected candidates under uniform
        # density; skew beyond it is caught by doubling
        side = math.isqrt((4 * k * n * n) // max(1, n_cand)) + 1
        r = max(2, (side - 1) // 2 + 1)
        while True:
            # work-budget terminal: when |residue|·|cand| is small, a
            # single PARTITIONED cartesian pass (never a broadcast of
            # the candidate set) is cheaper than further ring passes —
            # one stage instead of O(log n) tail passes. At 10^9
            # candidates the budget forces ring passes for any
            # non-trivial residue, so nothing quadratic can happen at
            # scale.
            r = min(r, n)
            full_cover = (2 * r + 1 >= n) and (r >= n - 1)
            if n_rem * n_cand <= _CARTESIAN_BUDGET or (
                full_cover and n_cand < (n * n) // 2
            ):
                # coalesce(1): cartesian task count is left-parts ×
                # right-parts; the budget caps the residue at ≤1M rows
                # (≈24 MB), so one left partition keeps the stage at
                # |cand partitions| tasks instead of 32× that
                scan = remaining.coalesce(1).crossJoin(cand.drop("__cell"))
                parts.append(topk(scan).select(*out_cols))
                break
            if full_cover:
                parts.append(block_topk(remaining, r).select(*out_cols))
                break
            remaining = ring_pass(remaining, r)
            n_rem = remaining.count()
            if n_rem == 0:
                break
            r = 2 * r

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def knn_auto_res(n_candidates: int, k: int) -> int:
    """Coarsest-that-still-partitions grid resolution for a kNN join:
    the res where one ring-1 block is expected to hold ~4k candidates
    under a uniform spread — enough to certify most probes while
    keeping per-cell work bounded. Density skew beyond that is handled
    by the certification/fallback machinery, not the res choice."""
    for res in range(12, 0, -1):
        cells = (1 << res) ** 2
        if n_candidates * 9 / cells >= 4 * k:
            return res
    return 1


# ---------------------------------------------------------------------------
# A7/A8: raster<->vector tile aggregation + resolution ladder
# ---------------------------------------------------------------------------

LANGS = ("en", "es", "de", "fr", "zh")


def tile_aggregate(
    pages: DataFrame,
    res: int,
    cell_col: str | None = None,
    contributor_col: str = "contributor",
    boundary_col: str | None = None,
) -> DataFrame:
    """Per-tile contributor/edit-count feature vectors (BASELINE.json:6).

    All measures are integers (bit-for-bit stable under any
    partitioning): edit count, distinct contributors, distinct urls,
    per-lang edit counts (the node/way/relation-count analog `[U:
    ChangeSetMetadataExtract]`), and a 7-bin day-of-week activity
    histogram (the temporal-activity-histogram analog).

    Distinct counts use the skew-robust two-phase shape: the first
    shuffle is keyed on (cell, contributor, url) so a mega-cell's rows
    spread across the cluster before the per-cell count (J9 salting by
    the distinct key itself).

    ``boundary_col`` (e.g. :func:`pip_join`'s ``boundary_id``) appends
    ``n_boundaries``, the distinct boundaries per tile, in the same
    three phases: one ``explode`` (a Generate, not an Expand) makes
    each row a kind-0 row (the tile key) and a kind-1 row keyed
    (cell, boundary) with null measures, so the input is read once.
    """
    cell = F.col(cell_col) if cell_col else cell_encode_col(F.col("lon"), F.col("lat"), res)
    dow = F.dayofweek("warc_ts")
    kind, mine, uid = [], (lambda c: c), F.col(contributor_col)
    if boundary_col:
        pages = pages.withColumn("__k", F.explode(F.array(F.lit(0), F.lit(1))))
        own = F.col("__k") == 0
        kind, mine = ["__k"], (lambda c: F.when(own, c))
        uid = F.when(own, uid).otherwise(F.col(boundary_col))
    base = pages.select(
        cell.alias("cell"),
        *kind,
        uid.alias("__uid"),
        mine(F.col("url")).alias("__url"),
        mine(F.col("lang")).alias("__lang"),
        mine(dow).alias("__dow"),
    )
    lang_sums = [
        F.sum(F.when(F.col("__lang") == lg, 1).otherwise(0)).alias(f"__n_{lg}")
        for lg in LANGS
    ]
    dow_sums = [
        F.sum(F.when(F.col("__dow") == d, 1).otherwise(0)).alias(f"__d{d}")
        for d in range(1, 8)
    ]
    # Three distinct-free phases instead of groupBy(cell).countDistinct:
    # two countDistinct aggregates would make Catalyst Expand the input
    # 3x and funnel each mega-cell into one reduce group — the exact
    # skew the north-star warns about. Here every phase is an ordinary
    # partial-aggregatable sum/count and the shuffle keys walk
    # (cell,url) → (cell,uid) → cell, so a mega-cell's rows spread
    # over the whole cluster in phases 1-2 and phase 3 only sees
    # #contributors rows per cell. (A url has one contributor — its
    # site — so distinct urls per cell = Σ per-uid distinct urls.)
    # Kind-1 rows sum to 0 in every lang/dow measure; `mine` keeps
    # them out of the three counts, and Σ kind = #(cell, boundary) groups.
    p1 = base.groupBy("cell", *kind, "__uid", "__url").agg(
        F.count(F.lit(1)).alias("__n"), *lang_sums, *dow_sums
    )
    p2 = p1.groupBy("cell", *kind, "__uid").agg(
        F.count(F.lit(1)).alias("__n_urls"),
        F.sum("__n").alias("__n"),
        *[F.sum(f"__n_{lg}").alias(f"__n_{lg}") for lg in LANGS],
        *[F.sum(f"__d{d}").alias(f"__d{d}") for d in range(1, 8)],
    )
    return p2.groupBy("cell").agg(
        F.sum(mine(F.col("__n"))).alias("n_edits"),
        F.count(mine(F.lit(1))).alias("n_contributors"),
        F.sum(mine(F.col("__n_urls"))).alias("n_urls"),
        *[F.sum(f"__n_{lg}").alias(f"n_{lg}") for lg in LANGS],
        F.array(*[F.sum(f"__d{d}") for d in range(1, 8)]).alias("activity_hist"),
        *([F.sum("__k").alias("n_boundaries")] if boundary_col else []),
    )


DISTINCT_TILE_COLS = ("n_contributors", "n_urls")


def tile_rollup(tiles: DataFrame, child_res: int, parent_res: int) -> DataFrame:
    """Additive rollup child tiles -> parent tiles via pure cell-id
    arithmetic (no re-scan of the fact table). Distinct-count columns
    (n_contributors, n_urls) are NOT additive and are dropped —
    recompute them from pages via :func:`tile_aggregate` at the parent
    res when exact values are needed (or carry an HLL sketch at scale).
    With ``parent_res == child_res`` it merges partial tiles of the
    same cells, e.g. the per-batch partials of the streaming rollup."""
    parent = cell_parent_col(F.col("cell"), child_res, parent_res).alias("cell")
    add_cols = [
        c
        for c in tiles.columns
        if c.startswith("n_") and c not in DISTINCT_TILE_COLS
    ]
    return tiles.groupBy(parent).agg(
        *[F.sum(c).alias(c) for c in add_cols],
        F.array(
            *[
                F.sum(F.element_at(F.col("activity_hist"), i + 1))
                for i in range(7)
            ]
        ).alias("activity_hist"),
    )


def tile_ladder(tiles_hi: DataFrame, res_hi: int, res_lo: int) -> DataFrame:
    """Full resolution ladder res_hi -> res_lo (A8): each level rolls up
    from the one above (partial-agg friendly), unioned with a `res`
    discriminator column."""
    cur = tiles_hi.drop(*[c for c in DISTINCT_TILE_COLS if c in tiles_hi.columns])
    out = cur.withColumn("res", F.lit(res_hi))
    for r in range(res_hi - 1, res_lo - 1, -1):
        cur = tile_rollup(cur, r + 1, r)
        out = out.unionByName(cur.withColumn("res", F.lit(r)))
    return out
