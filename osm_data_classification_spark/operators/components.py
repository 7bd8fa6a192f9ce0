"""Duplicate-cluster formation: distributed connected components over
near-dup pairs.

Pairwise dedup (dedup.py) yields EDGES; a training-data pipeline needs
CLUSTERS — each document assigned the minimum doc_id of its duplicate
group, then one canonical survivor per group. Connected components run
as iterative label propagation (each node takes the min label in its
neighborhood until fixpoint) — a DataFrame loop whose per-iteration
work is one join + one groupBy, converging in O(diameter) rounds;
duplicate-cluster diameters are tiny in practice, and the classic
large-star/small-star optimization slots in here if they are not.

Driver check is rows-only (iterative); the exact gate is
tests/test_components.py vs a single-threaded union-find oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .dedup import CORPUS_SQL, _minhash_sql, corpus, dedup_minhash_lsh
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """(node, component) with component = min node id reachable.
    Undirected; isolated nodes of the edge set keep their own id.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (a component with diameter > max_iter) —
    silently returning unconverged labels would hand the caller a
    WRONG clustering (round-2 ADVICE). Label propagation converges in
    O(diameter); raise max_iter or swap in large-star/small-star for
    pathological graphs."""
    if max_iter < 1:
        # Guard up front: with an empty loop range the for/else branch
        # below would reference `changed` unbound (ADVICE r2).
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .persist()
    )
    for _ in range(max_iter):
        # each node pulls the smallest label among itself and neighbors
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("a", "node")
        )
        # localCheckpoint, not persist: persist caches the DATA but the
        # LOGICAL plan still grows by one join+agg per round, and
        # Catalyst re-analyzes the whole lineage every iteration —
        # quadratic-and-worse planning time by round ~20 (measured:
        # a 24-round path graph ran minutes/round). Checkpointing
        # truncates the plan to the materialized result each round —
        # the standard Spark iterative-algorithm shape.
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"iterations (last round changed {changed} labels); "
            "raise max_iter for graphs with diameter > max_iter"
        )
    sym.unpersist()
    return labels


# FULL oracle despite the iterative Spark fixpoint: connected
# components of the (tiny-diameter) near-dup graph are expressible as
# a recursive-CTE transitive closure — each node's component is the
# min label it can reach over the symmetrized LSH pair set, which is
# exactly what label propagation converges to.
def _clusters_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT da, db FROM ({_minhash_sql()})
    ),
    sym AS (
        SELECT da AS a, db AS b FROM pairs
        UNION
        SELECT db, da FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach AS (
        SELECT node, node AS lab FROM nodes
        UNION
        SELECT s.a AS node, r.lab FROM sym s JOIN reach r ON r.node = s.b
    ),
    comp AS (SELECT node, min(lab) AS comp FROM reach GROUP BY node),
    alldocs AS (SELECT doc_id FROM ({CORPUS_SQL})),
    labeled AS (
        SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster
        FROM alldocs d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT cluster, COUNT(*) AS size, MIN(doc_id) AS canonical
    FROM labeled GROUP BY cluster
    """


@register("dedup_clusters", _clusters_sql())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (MinHash+LSH) → duplicate clusters → per-cluster
    canonical (min doc_id) and size. Docs with no duplicate partner
    form singleton clusters. FULL oracle: recursive-CTE transitive
    closure over the same LSH pairs (label propagation's fixpoint is
    min-reachable-id, which the closure computes directly)."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("da", "db")
    comp = connected_components(pairs, "da", "db")
    all_docs = corpus(spark, sf_dir).select("doc_id")
    labeled = (
        all_docs.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("cluster")
        )
    )
    return labeled.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("size"),
        F.min("doc_id").alias("canonical"),
    )


# ---------------------------------------------------------------------------
# host-graph PageRank
# ---------------------------------------------------------------------------

# The host link graph is synthesized deterministically from doc_id:
# each doc's host is doc_id % PR_HOSTS, and it links to three affine
# images of that host, so the oracle can rebuild the graph.
# The affine maps are bijections mod the prime 97, so two explicit
# gates plant the PageRank boundary shapes: hosts >= PR_SINK_MIN emit
# no edges (sinks/dangling — rank leaks), and edges INTO hosts
# divisible by PR_SOURCE_MOD are dropped (pure sources — teleport-only
# rank). Self-loops are dropped too.
PR_HOSTS = 97
PR_EDGE_MAPS = ((7, 3), (3, 11), (5, 1))  # dst = (a*src + b) % PR_HOSTS
PR_SINK_MIN = 90     # hosts >= this have no out-edges
PR_SOURCE_MOD = 13   # hosts % this == 0 have no in-links
PR_DAMPING = 0.85
PR_ITERS = 20


def host_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.pmod(F.col("doc_id"), F.lit(PR_HOSTS))
    parts = [
        docs.select(
            h.alias("src"),
            F.pmod(F.lit(a) * h + F.lit(b), F.lit(PR_HOSTS)).alias("dst"),
        )
        for a, b in PR_EDGE_MAPS
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    return edges.where(
        (F.col("src") != F.col("dst"))
        & (F.col("src") < PR_SINK_MIN)
        & (F.col("dst") % PR_SOURCE_MOD != 0)
    ).distinct()


@register("pagerank_hosts")  # rows-only: iterative float fixpoint
def pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthesized host link graph — the classic
    iterative graph workload (host authority scores feed crawl
    prioritization and quality weighting in a web pipeline).

    Per iteration: contributions = edges ⋈ out-degree ⋈ ranks (two
    equi-joins on host id), one groupBy(dst) sum, then a left join
    back onto the node set so hosts with no in-links keep the
    teleport term. `localCheckpoint` per round truncates the logical
    plan (the dedup_clusters lesson: persist alone lets the plan grow
    unboundedly). Fixed PR_ITERS rounds — no per-iteration driver
    sync at all (vs components' convergence count); the only driver
    scalar is the one-off node count for the teleport constant.

    Simple variant by design: dangling hosts' rank leaks (no
    redistribution term), matching the textbook Spark formulation;
    the numpy oracle in tests/test_components.py mirrors the same
    recurrence exactly, so parity still pins the values. Driver check
    is rows-only (float fixpoint is not cross-engine exact).

    At scale: node and edge tables hash-partition on host id; each
    round is two shuffles (contribution join, re-aggregation) over
    edge-count rows — the standard distributed PageRank shape, no
    driver-side loops over data."""
    edges = host_link_edges(spark, sf_dir).persist()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # one scalar job (teleport constant), not a loop
    if n == 0:
        edges.unpersist()
        nodes.unpersist()
        return spark.createDataFrame([], "host bigint, rank double")
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - PR_DAMPING) / n
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(out_deg, "src")
            .join(ranks, edges["src"] == ranks["host"])
            .select(
                F.col("dst").alias("host"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("in_rank"))
        )
        ranks = (
            nodes.join(contribs, "host", "left")
            .select(
                "host",
                (
                    F.lit(teleport)
                    + F.lit(PR_DAMPING)
                    * F.coalesce("in_rank", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    nodes.unpersist()
    return ranks


# ---------------------------------------------------------------------------
# integer-exact PageRank (the driver-gradable twin of pagerank_hosts)
# ---------------------------------------------------------------------------

PRX_ITERS = 8
PRX_SCALE = 10**12  # ranks carried as floor-scaled BIGINTs


def _prx_edges_sql() -> str:
    maps = " UNION ALL ".join(
        f"SELECT (doc_id % {PR_HOSTS}) AS src,"
        f" (({a} * (doc_id % {PR_HOSTS}) + {b}) % {PR_HOSTS}) AS dst"
        " FROM documents"
        for a, b in PR_EDGE_MAPS
    )
    return f"""
    edges AS (
        SELECT DISTINCT src, dst FROM ({maps})
        WHERE src <> dst AND src < {PR_SINK_MIN}
          AND dst % {PR_SOURCE_MOD} <> 0
    ),
    nodes AS (
        SELECT src AS host FROM edges UNION SELECT dst FROM edges
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)
    """


def _prx_sql() -> str:
    # fixed-round iteration UNROLLED to chained CTEs (the compaction
    # trick) — no recursive aggregation needed in either engine
    rounds = []
    for k in range(PRX_ITERS):
        rounds.append(f"""
    c{k} AS (
        SELECT e.dst AS host, SUM(p.r // g.d) AS in_rank
        FROM edges e JOIN deg g ON g.src = e.src
        JOIN pr{k} p ON p.host = e.src
        GROUP BY e.dst
    ),
    pr{k + 1} AS (
        SELECT n.host,
               (15 * ({PRX_SCALE} // (SELECT COUNT(*) FROM nodes))) // 100
                 + (85 * COALESCE(CAST(c.in_rank AS BIGINT), 0)) // 100 AS r
        FROM nodes n LEFT JOIN c{k} c ON c.host = n.host
    )""")
    return f"""
    WITH {_prx_edges_sql()},
    pr0 AS (
        SELECT host, {PRX_SCALE} // (SELECT COUNT(*) FROM nodes) AS r
        FROM nodes
    ),{",".join(rounds)}
    SELECT host, CAST(r AS BIGINT) AS rank_x1e12 FROM pr{PRX_ITERS}
    """


@register("pagerank_hosts_exact", _prx_sql())
def pagerank_hosts_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative-algorithm driver gate pagerank_hosts cannot have:
    the SAME recurrence carried in floor-scaled BIGINTs (rank × 1e12;
    per-edge contribution = rank div out-degree; next = teleport +
    (85·Σ) div 100 — every operation integer floor division, so 8
    rounds are bit-reproducible in ANY engine). Float PageRank stays
    rows-only by nature; this twin proves the distributed iteration
    itself against an oracle that unrolls the identical 8 rounds as
    chained SQL CTEs (no recursive aggregation needed — the
    compaction unroll trick). The float entry remains the production
    surface; parity between the two orderings is pinned in
    tests/test_components.py.

    Per round: one join + one groupBy over edges, localCheckpoint
    truncating the plan — the standard distributed PageRank shape at
    any scale."""
    edges = host_link_edges(spark, sf_dir).persist()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        edges.unpersist()
        nodes.unpersist()
        return spark.createDataFrame([], "host bigint, rank_x1e12 bigint")
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    init = PRX_SCALE // n
    tele = (15 * init) // 100
    ranks = nodes.withColumn("r", F.lit(init).cast("long"))
    for _ in range(PRX_ITERS):
        contribs = (
            edges.join(out_deg, "src")
            .join(ranks, edges["src"] == ranks["host"])
            .select(
                F.col("dst").alias("host"),
                F.expr("r div deg").alias("c"),
            )
            .groupBy("host")
            .agg(F.sum("c").alias("in_rank"))
        )
        ranks = (
            nodes.join(contribs, "host", "left")
            .select(
                "host",
                (
                    F.lit(tele)
                    + F.expr("85 * coalesce(in_rank, 0L) div 100")
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    nodes.unpersist()
    return ranks.select("host", F.col("r").alias("rank_x1e12"))


# ---------------------------------------------------------------------------
# integer-exact HITS (hubs & authorities) over the host link graph
# ---------------------------------------------------------------------------

HITS_ITERS = 6
HITS_SCALE = 10**9  # scores carried as max-normalized BIGINTs


def _hits_sql() -> str:
    # the pagerank_hosts_exact unroll trick, applied to the two-phase
    # HITS recurrence: auth from hubs, renormalize, hubs from auth,
    # renormalize — all integer floor arithmetic
    s = HITS_SCALE
    rounds = []
    for k in range(HITS_ITERS):
        rounds.append(f"""
    ar{k} AS MATERIALIZED (
        SELECT e.dst AS host, SUM(h.h) AS v
        FROM edges e JOIN h{k} h ON h.host = e.src
        GROUP BY e.dst
    ),
    a{k} AS MATERIALIZED (
        SELECT n.host,
               COALESCE(r.v, 0) * {s} // (SELECT MAX(v) FROM ar{k}) AS a
        FROM nodes n LEFT JOIN ar{k} r ON r.host = n.host
    ),
    hr{k} AS MATERIALIZED (
        SELECT e.src AS host, SUM(a.a) AS v
        FROM edges e JOIN a{k} a ON a.host = e.dst
        GROUP BY e.src
    ),
    h{k + 1} AS MATERIALIZED (
        SELECT n.host,
               COALESCE(r.v, 0) * {s} // (SELECT MAX(v) FROM hr{k}) AS h
        FROM nodes n LEFT JOIN hr{k} r ON r.host = n.host
    )""")
    return f"""
    WITH {_prx_edges_sql()},
    h0 AS (SELECT host, CAST({s} AS BIGINT) AS h FROM nodes),{",".join(rounds)}
    SELECT a.host,
           CAST(a.a AS BIGINT) AS auth_x1e9,
           CAST(h.h AS BIGINT) AS hub_x1e9
    FROM a{HITS_ITERS - 1} a JOIN h{HITS_ITERS} h ON h.host = a.host
    """


@register("webgraph_hits_exact", _hits_sql())
def webgraph_hits_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the host link graph — the second
    classic iterative web-graph algorithm next to PageRank (hub scores
    surface link farms / directories; authority scores feed the same
    crawl-prioritization weighting). Kleinberg's recurrence, made
    driver-gradable the pagerank_hosts_exact way: scores are BIGINTs
    max-normalized to HITS_SCALE each half-round with floor division
    only (auth ← Σ hub over in-edges, rescale so max = SCALE; hub ← Σ
    auth over out-edges, rescale) — bit-reproducible in any engine, so
    6 rounds unroll to chained SQL CTEs in the DuckDB oracle. The
    per-half-round max is a 1-row aggregate joined back by broadcast
    cross join — never a driver collect.

    Per round: two (join + groupBy) passes over the edge table plus
    two 1-row max joins; localCheckpoint truncates the growing plan.
    At scale the edge table hash-partitions on host id and each
    half-round is one shuffle over edge-count rows — same shape as
    distributed PageRank, with the max-normalization replacing the
    out-degree division (no float L2 norm anywhere)."""
    edges = host_link_edges(spark, sf_dir).persist()
    nodes = (
        edges.select(F.col("src").alias("host"))
        .unionByName(edges.select(F.col("dst").alias("host")))
        .distinct()
        .persist()
    )
    if edges.limit(1).count() == 0:
        edges.unpersist()
        nodes.unpersist()
        return spark.createDataFrame(
            [], "host bigint, auth_x1e9 bigint, hub_x1e9 bigint"
        )

    def rescale(raw: DataFrame, col: str) -> DataFrame:
        m = raw.agg(F.max("v").alias("__m"))
        return (
            nodes.join(raw, "host", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "host",
                F.expr(f"coalesce(v, 0L) * {HITS_SCALE} div __m").alias(col),
            )
        )

    hubs = nodes.withColumn("h", F.lit(HITS_SCALE).cast("long"))
    auth = None
    for _ in range(HITS_ITERS):
        a_raw = (
            edges.join(hubs, edges["src"] == hubs["host"])
            .groupBy("dst")
            .agg(F.sum("h").alias("v"))
            .withColumnRenamed("dst", "host")
        )
        auth = rescale(a_raw, "a").localCheckpoint(eager=True)
        h_raw = (
            edges.join(auth, edges["dst"] == auth["host"])
            .groupBy("src")
            .agg(F.sum("a").alias("v"))
            .withColumnRenamed("src", "host")
        )
        hubs = rescale(h_raw, "h").localCheckpoint(eager=True)
    edges.unpersist()
    nodes.unpersist()
    return auth.join(hubs, "host").select(
        "host",
        F.col("a").alias("auth_x1e9"),
        F.col("h").alias("hub_x1e9"),
    )


# ---------------------------------------------------------------------------
# triangle counting over the (undirected) host link graph
# ---------------------------------------------------------------------------


def _tri_sql() -> str:
    return f"""
    WITH {_prx_edges_sql()},
    und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
        FROM edges
    ),
    degu AS MATERIALIZED (
        SELECT h AS node, COUNT(*) AS d FROM (
            SELECT u AS h FROM und UNION ALL SELECT v FROM und
        ) GROUP BY h
    ),
    orient AS MATERIALIZED (
        -- a -> b iff rank(a) < rank(b), rank = (degree, node id):
        -- every undirected edge gets exactly one direction, and out-
        -- degrees are bounded by O(sqrt(m))
        SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS a,
               CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS b,
               CASE WHEN (da.d, e.u) < (db.d, e.v) THEN db.d ELSE da.d END AS bd
        FROM und e
        JOIN degu da ON da.node = e.u
        JOIN degu db ON db.node = e.v
    ),
    tri AS MATERIALIZED (
        SELECT o1.a AS x, o1.b AS y, o2.b AS z
        FROM orient o1
        JOIN orient o2 ON o2.a = o1.a AND (o1.bd, o1.b) < (o2.bd, o2.b)
        JOIN orient o3 ON o3.a = o1.b AND o3.b = o2.b
    )
    SELECT host, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS host FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    ) GROUP BY host
    """


@register("webgraph_triangle_count", _tri_sql())
def webgraph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host triangle counts over the undirected host link graph —
    the clustering-coefficient numerator a link-spam / community
    detector reads (a host whose neighbors interlink is a community
    hub; a high-degree host with zero triangles is a classic link
    farm signature).

    Degree-ordered orientation, the MPC-scalable algorithm: each
    undirected edge is directed from lower to higher (degree, id)
    rank, which (a) counts every triangle exactly once as the wedge
    b←a→c (rank(b)<rank(c)) closed by the oriented edge b→c, and (b)
    bounds every out-degree by O(√m), so the wedge self-join — the
    only superlinear step — generates at most Σ outdeg² ≤ m^1.5
    candidates regardless of skew (a celebrity host with 10^6
    in-links contributes NO wedges from its own fan-in, because those
    edges orient INTO it ... the property that makes this survive
    power-law web graphs where the naive neighbor-join explodes).

    All steps are equi-joins on host id plus one distinct — the graph
    never leaves the cluster, no adjacency list is collected. FULL
    oracle: DuckDB repeats orientation, wedge join, and closure."""
    edges = host_link_edges(spark, sf_dir)
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    degu = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = degu.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = degu.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = und.join(da, "u").join(db, "v")
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    orient = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("bd"),
    ).persist()
    o1 = orient.select(
        F.col("a"), F.col("b").alias("y"), F.col("bd").alias("yd")
    )
    o2 = orient.select(
        F.col("a"), F.col("b").alias("z"), F.col("bd").alias("zd")
    )
    wedges = o1.join(o2, "a").where(
        F.struct("yd", "y") < F.struct("zd", "z")
    )
    closer = orient.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = wedges.join(closer, ["y", "z"]).select(
        F.col("a").alias("x"), "y", "z"
    )
    out = (
        tri.select(F.col("x").alias("host"))
        .unionAll(tri.select(F.col("y").alias("host")))
        .unionAll(tri.select(F.col("z").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return out
