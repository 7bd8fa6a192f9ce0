"""Catalog entries for the classification chain (SURVEY.md §2 A10/A11).

PCA and KMeans are iterative/eigendecomposition algorithms — not
SQL-expressible — so these are rows-only entries for the driver; the
real correctness gates are tests/test_ml.py (numpy-oracle parity on
sufficient statistics, reconstruction error, fixed-seed label parity)
per SURVEY.md §5.2 L1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..ml import kmeans_assign_df, kmeans_fit, pca_fit, pca_project_df
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}

EMB_DIM = 64  # length of every vector in the embeddings table


@register("pca_project")  # rows-only (eigendecomposition)
def pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: PCA over the embeddings table — distributed sufficient
    statistics, driver eigh, broadcast projection to 2 components."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, vec_col="embedding", q=2)
    out = pca_project_df(emb, model, vec_col="embedding")
    return out.select(
        "vec_id",
        F.round(F.element_at("pc", 1), 6).alias("pc1"),
        F.round(F.element_at("pc", 2), 6).alias("pc2"),
    )


@register("kmeans_assign")  # rows-only (iterative)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: KMeans (k=5, deterministic first-k init) over embeddings;
    returns per-vector cluster labels."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, k=5, vec_col="embedding", id_col="vec_id")
    return kmeans_assign_df(emb, model["centers"], vec_col="embedding").select(
        "vec_id", "cluster"
    )


@register("kmeans_elbow")  # rows-only (iterative)
def kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's k-selection input: inertia per k (the reference picks k at
    the elbow `[U: upstream analysis KMeans]`)."""
    from ..ml.kmeans import elbow_inertia

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = elbow_inertia(
        emb, ks=[2, 3, 4, 5], vec_col="embedding", id_col="vec_id", max_iter=8
    )
    rows = [(k, float(round(v, 6))) for k, v in sorted(pairs.items())]
    return spark.createDataFrame(rows, "k int, inertia double")


# ---------------------------------------------------------------------------
# fixed-parameter twins: the assignment / projection OPERATORS under
# full value-hash oracles (the learned variants above stay rows-only —
# eigh/Lloyd's are iterative — but their per-row math is identical to
# these, so the driver hash-verifies the operator shape itself)
# ---------------------------------------------------------------------------

_K_FIXED = 5


def _plane_w_sql(m: str, d: str) -> str:
    """Integer hyperplane weight in [-1000, 1000]: derived from the
    portable hash of 'm:d' — both engines compute the identical plane."""
    return (
        f"(CAST('0x' || substr(md5(CAST({m} AS VARCHAR) || ':' || "
        f"CAST({d} AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000"
    )


def _planes(spark: SparkSession) -> DataFrame:
    """(m, d, w) hyperplane table for planes m = 0..3 — built with Column
    expressions so the weights match the SQL formula bit-for-bit."""
    m = F.expr("explode(sequence(0, 3))").alias("m")
    base = spark.range(1, EMB_DIM + 1).select(F.col("id").alias("d"), m)
    w = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("m").cast("string"), F.lit(":"), F.col("d").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2001
        - 1000
    )
    return base.select("m", "d", w.alias("w"))


def _kmeans_fixed_sql() -> str:
    diff = (
        "(CAST(e.embedding[g.i] AS DOUBLE) - CAST(c.embedding[g.i] AS DOUBLE))"
    )
    return f"""
    WITH cdist AS (
        SELECT e.vec_id, c.vec_id AS cluster,
               sum(CAST(round({diff} * {diff}, 12) AS DECIMAL(38,15))) AS d2
        FROM embeddings e
        CROSS JOIN embeddings c,
             generate_series(1, {EMB_DIM}) AS g(i)
        WHERE c.vec_id < {_K_FIXED}
        GROUP BY e.vec_id, c.vec_id
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rn
        FROM cdist
    ) WHERE rn = 1
    """


@register("kmeans_assign_fixed", _kmeans_fixed_sql())
def kmeans_assign_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11's assignment step with FIXED centers (the embeddings of
    vec_id 0..k-1 — exactly the deterministic first-k init): argmin
    exact-decimal L2 over broadcast centers, ties to the lower center
    id. Full oracle: DuckDB recomputes every distance and the argmin."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _K_FIXED).select(
        F.col("vec_id").alias("cluster"), F.col("embedding").alias("ce")
    )
    prods = F.zip_with(
        "embedding",
        "ce",
        lambda p, q: F.round(
            (p.cast("double") - q.cast("double"))
            * (p.cast("double") - q.cast("double")),
            12,
        ),
    )
    d2 = F.aggregate(
        prods,
        F.lit(0).cast("decimal(38,15)"),
        lambda acc, v: (acc + v.cast("decimal(38,15)")).cast("decimal(38,15)"),
    )
    pairs = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cluster", d2.alias("d2")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cluster"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cluster").cast("long").alias("cluster"))
    )


def _pca_fixed_sql() -> str:
    return f"""
    WITH planes AS (
        SELECT m, d, {_plane_w_sql('m', 'd')} AS w
        FROM generate_series(0, 1) AS pm(m),
             generate_series(1, {EMB_DIM}) AS pd(d)
    ),
    proj AS (
        SELECT e.vec_id, p.m,
               CAST(floor(sum(CAST(round(CAST(e.embedding[p.d] AS DOUBLE)
                                         * p.w, 12) AS DECIMAL(38,15)))
                          * 1000) AS BIGINT) AS pc
        FROM embeddings e, planes p
        GROUP BY e.vec_id, p.m
    )
    SELECT vec_id,
           CAST(sum(CASE WHEN m = 0 THEN pc ELSE 0 END) AS BIGINT) AS pc1_x1000,
           CAST(sum(CASE WHEN m = 1 THEN pc ELSE 0 END) AS BIGINT) AS pc2_x1000
    FROM proj GROUP BY vec_id
    """


@register("pca_project_fixed", _pca_fixed_sql())
def pca_project_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10's projection step with FIXED integer components (planes 0 and
    1 of ``_planes``, derived from a portable hash): exact-decimal
    dot per component, floor-scaled x1000. Full oracle: DuckDB builds
    the identical planes and recomputes both projections."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("d", F.col("pos") + 1)
    planes2 = _planes(spark).filter(F.col("m") < 2)
    proj = (
        dims.join(F.broadcast(planes2), "d")
        .groupBy("vec_id", "m")
        .agg(
            F.floor(
                F.sum(
                    F.round(
                        F.col("x").cast("double") * F.col("w").cast("double"), 12
                    ).cast("decimal(38,15)")
                )
                * 1000
            )
            .cast("long")
            .alias("pc")
        )
    )
    return proj.groupBy("vec_id").agg(
        F.sum(F.when(F.col("m") == 0, F.col("pc")).otherwise(0))
        .cast("long")
        .alias("pc1_x1000"),
        F.sum(F.when(F.col("m") == 1, F.col("pc")).otherwise(0))
        .cast("long")
        .alias("pc2_x1000"),
    )
