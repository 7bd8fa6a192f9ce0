"""Similarity search over the embedding column (`array<float>`).

The training-data-pipeline ANN surface: brute-force cosine top-k as
the exact baseline, a random-hyperplane LSH-bucketed variant, and an
IVF (inverted-file, coarse-quantizer) variant as the scale paths.
Everything is relational — signatures and bucket assignment are
integer arithmetic over portable hashes, dot products use the
order-insensitive decimal fold (operators/portable.py), so all three
carry full DuckDB oracles.

Scale notes: brute-force is O(Q·N) and exists for verification; LSH
turns the search into an equi-join on bucket id (shuffle bounded by
bucket fan-out); IVF prunes to nprobe=1 cluster via a broadcast
centroid table — the same plan shapes these run at 10^9 vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from .portable import DEC_SUM_PROD, dec_dot_col
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


N_QUERIES = 10  # probe set: vec_id < 10
TOP_K = 5
EMB_DIM = 64

# per-vector squared norms are computed ONCE (|vectors| rows) and
# joined to pairs — recomputing them per pair would triple the
# decimal-fold work on the O(Q·N) pair table
_NORMS_SQL = f"""
    norms AS (
        SELECT vec_id, {DEC_SUM_PROD('embedding[i]', 'embedding[i]')} AS nsq
        FROM embeddings, generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY vec_id
    )
"""

_PAIR_DOTS_SQL = f"""
    dots AS (
        SELECT qid, cid,
               {DEC_SUM_PROD('eq[i]', 'ec[i]')} AS dot
        FROM pairs, generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY qid, cid
    ),
    scored AS (
        SELECT d.qid, d.cid,
               CAST(floor(1000000.0 * d.dot
                          / (sqrt(nq.nsq) * sqrt(nc.nsq))) AS BIGINT)
                   AS cos_x1e6
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.qid
        JOIN norms nc ON nc.vec_id = d.cid
    )
"""


def _norms(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", dec_dot_col(F.col("embedding"), F.col("embedding")).alias("nsq")
    )


def _pair_dots(pairs: DataFrame, norms: DataFrame) -> DataFrame:
    """(qid, cid, cos_x1e6) from (qid, eq, cid, ec) pairs + the
    per-vector norm table — Spark twin of the SQL CTEs above."""
    dots = pairs.select(
        "qid",
        "cid",
        dec_dot_col(F.col("eq"), F.col("ec")).alias("dot"),
    )
    nq = norms.select(F.col("vec_id").alias("qid"), F.col("nsq").alias("__nq"))
    nc = norms.select(F.col("vec_id").alias("cid"), F.col("nsq").alias("__nc"))
    # no broadcast hints: nc is the FULL per-vector norm table (10^9
    # rows at scale) — AQE broadcasts it only while it is small
    dots = dots.join(nq, "qid").join(nc, "cid")
    cos = F.floor(
        F.lit(1000000.0) * F.col("dot") / (F.sqrt("__nq") * F.sqrt("__nc"))
    )
    # try_cast: a zero vector makes 0/0 = NaN, and ANSI CAST(NaN AS
    # BIGINT) would kill the job — degrade to NULL score instead (the
    # driver corpus is unit-normalized, so this never fires there)
    return dots.select("qid", "cid", cos.try_cast("long").alias("cos_x1e6"))


def _rank_topk(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.desc("cos_x1e6"), F.asc("cid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


_RANK_SQL = f"""
    SELECT qid, cid, cos_x1e6,
           row_number() OVER (PARTITION BY qid ORDER BY cos_x1e6 DESC, cid ASC)
               AS rank
    FROM scored
    QUALIFY rank <= {TOP_K}
"""


# ---------------------------------------------------------------------------
# brute-force cosine top-k (exact baseline)
# ---------------------------------------------------------------------------


@register(
    "ann_cosine_topk",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS qid, q.embedding AS eq,
               c.vec_id AS cid, c.embedding AS ec
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < {N_QUERIES}
    ),
    {_NORMS_SQL},
    {_PAIR_DOTS_SQL}
    {_RANK_SQL}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: Q probe vectors against the full
    candidate set (broadcast the probes — the big side streams), exact
    decimal dot products, per-probe window rank. The verification
    baseline for both approximate variants."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("eq")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ec"))
    pairs = c.crossJoin(F.broadcast(q))
    return _rank_topk(_pair_dots(pairs, _norms(emb)))


# ---------------------------------------------------------------------------
# random-hyperplane LSH bucketing
# ---------------------------------------------------------------------------

N_PLANES = 4  # 16 buckets over 500 vectors ≈ 31 candidates per probe


def _plane_w_sql(m: str, d: str) -> str:
    """Integer hyperplane weight in [-1000, 1000]: derived from the
    portable hash of 'm:d' — both engines compute the identical plane."""
    return (
        f"(CAST('0x' || substr(md5(CAST({m} AS VARCHAR) || ':' || "
        f"CAST({d} AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000"
    )


def _planes(spark: SparkSession) -> DataFrame:
    """(m, d, w) hyperplane table — built with Column expressions so the
    weights match the SQL formula bit-for-bit."""
    m = F.expr(f"explode(sequence(0, {N_PLANES - 1}))").alias("m")
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


_SIG_SQL = f"""
    planes AS (
        SELECT m, d, {_plane_w_sql('m', 'd')} AS w
        FROM generate_series(0, {N_PLANES - 1}) AS pm(m),
             generate_series(1, {EMB_DIM}) AS pd(d)
    ),
    proj AS (
        SELECT e.vec_id, p.m,
               {DEC_SUM_PROD('e.embedding[p.d]', 'p.w')} AS dot
        FROM embeddings e, planes p
        GROUP BY e.vec_id, p.m
    ),
    sig AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN dot > 0 THEN 1 << m ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM proj GROUP BY vec_id
    )
"""


def _signatures(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(vec_id, bucket) — explode embedding dims, join the broadcast
    plane table, per-(vec, plane) decimal dot, sign bits → bucket id."""
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("d", F.col("pos") + 1)
    proj = (
        dims.join(F.broadcast(_planes(spark)), "d")
        .groupBy("vec_id", "m")
        .agg(
            F.sum(
                F.round(F.col("x").cast("double") * F.col("w").cast("double"), 12).cast(
                    "decimal(38,15)"
                )
            )
            .cast("double")
            .alias("dot")
        )
    )
    return proj.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("shiftleft(1, CAST(m AS INT))")).otherwise(0)
        )
        .cast("long")
        .alias("bucket")
    )


@register(
    "ann_lsh_bucketed",
    f"""
    WITH {_SIG_SQL},
    pairs AS (
        SELECT q.vec_id AS qid, qe.embedding AS eq,
               c.vec_id AS cid, ce.embedding AS ec
        FROM sig q
        JOIN sig c ON q.bucket = c.bucket
        JOIN embeddings qe ON qe.vec_id = q.vec_id
        JOIN embeddings ce ON ce.vec_id = c.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    {_NORMS_SQL},
    {_PAIR_DOTS_SQL}
    {_RANK_SQL}
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane signatures (integer planes
    from the portable hash), candidates = same-bucket equi-join, exact
    cosine rerank within the bucket. The 10^9-vector plan: signature is
    one narrow shuffle, search is an equi-join instead of a cross join."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = _signatures(spark, emb)
    qs = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "bucket"
    )
    cs = sig.select(F.col("vec_id").alias("cid"), "bucket")
    cand = qs.join(cs, "bucket").select("qid", "cid")
    ev = emb.select("vec_id", "embedding")
    pairs = (
        cand.join(ev.withColumnRenamed("vec_id", "qid").withColumnRenamed("embedding", "eq"), "qid")
        .join(ev.withColumnRenamed("vec_id", "cid").withColumnRenamed("embedding", "ec"), "cid")
    )
    return _rank_topk(_pair_dots(pairs, _norms(emb)))


# ---------------------------------------------------------------------------
# IVF (coarse-quantizer) search, nprobe=1
# ---------------------------------------------------------------------------


@register(
    "ann_ivf_topk",
    f"""
    WITH cent AS (
        SELECT label, i,
               {DEC_SUM_PROD('embedding[i]', '1.0')} / count(*) AS c
        FROM embeddings, generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY label, i
    ),
    qdist AS (
        SELECT e.vec_id AS qid, c.label,
               sum(CAST(round((CAST(e.embedding[c.i] AS DOUBLE) - c.c)
                              * (CAST(e.embedding[c.i] AS DOUBLE) - c.c), 12)
                        AS DECIMAL(38,15))) AS d2
        FROM embeddings e, cent c
        WHERE e.vec_id < {N_QUERIES}
        GROUP BY e.vec_id, c.label
    ),
    assign AS (
        SELECT qid, label,
               row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, label ASC) AS rn
        FROM qdist QUALIFY rn = 1
    ),
    pairs AS (
        SELECT a.qid, qe.embedding AS eq, ce.vec_id AS cid, ce.embedding AS ec
        FROM assign a
        JOIN embeddings qe ON qe.vec_id = a.qid
        JOIN embeddings ce ON ce.label = a.label
    ),
    {_NORMS_SQL},
    {_PAIR_DOTS_SQL}
    {_RANK_SQL}
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=1: coarse centroids are the per-label means
    (at scale: KMeans centroids), each probe searches only its nearest
    centroid's inverted list. Centroid table is broadcast; the probe→
    list lookup is an equi-join on label."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).withColumn("i", F.col("pos") + 1)
    cent = dims.groupBy("label", "i").agg(
        (
            F.sum(F.round(F.col("x").cast("double"), 12).cast("decimal(38,15)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("c")
    )
    qdims = dims.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "i", "x"
    )
    diff = F.col("x").cast("double") - F.col("c")
    qdist = (
        qdims.join(F.broadcast(cent), "i")
        .groupBy("qid", "label")
        .agg(
            F.sum(F.round(diff * diff, 12).cast("decimal(38,15)")).alias("d2")
        )
    )
    wa = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("label"))
    assign = (
        qdist.withColumn("rn", F.row_number().over(wa)).filter(F.col("rn") == 1).select("qid", "label")
    )
    ev = emb.select("vec_id", "label", "embedding")
    pairs = (
        assign.join(
            ev.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("eq")),
            "qid",
        )
        .join(
            ev.select(
                F.col("vec_id").alias("cid"),
                F.col("label"),
                F.col("embedding").alias("ec"),
            ),
            "label",
        )
        .select("qid", "eq", "cid", "ec")
    )
    return _rank_topk(_pair_dots(pairs, _norms(emb)))


# ---------------------------------------------------------------------------
# int8 vector quantization
# ---------------------------------------------------------------------------

# Symmetric int8 quantization (the 4x footprint cut an ANN index takes
# before sharding 10^12 vectors): scale = max|v_i| per vector, code_i
# = floor(v_i * 127 / scale). floor (not round) keeps the kernel
# engine-exact: both engines promote the float32 element to double and
# evaluate the identical (v * 127.0) / s expression, and IEEE doubles
# agree bit-for-bit, so the codes — and their md5 — match with no
# tie-breaking rule to reconcile. Zero vectors quantize to all-zero
# codes (scale_ppm = 0) instead of dividing by zero.
_QUANT_DUCK = """
WITH q AS (
    SELECT vec_id, label,
           len(embedding) AS dim,
           CAST(list_max(list_transform(embedding, x -> abs(x)))
                AS DOUBLE) AS s,
           embedding
    FROM embeddings
),
c AS (
    SELECT vec_id, label, dim, s,
           CASE WHEN s = 0
                THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                ELSE list_transform(
                    embedding,
                    x -> CAST(floor((CAST(x AS DOUBLE) * 127.0) / s)
                              AS BIGINT))
           END AS codes
    FROM q
)
SELECT vec_id, CAST(label AS BIGINT) AS label,
       CAST(dim AS BIGINT) AS dim,
       CAST(floor(s * 1000000) AS BIGINT) AS scale_ppm,
       CAST(list_sum(codes) AS BIGINT) AS sum_code,
       CAST(list_min(codes) AS BIGINT) AS min_code,
       CAST(list_max(codes) AS BIGINT) AS max_code,
       md5(array_to_string(
           list_transform(codes, c2 -> CAST(c2 AS VARCHAR)), '|'))
           AS codes_md5
FROM c
"""


@register("embed_quantize_int8", _QUANT_DUCK)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    — the compression step between dense float32 vectors and a
    sharded ANN index (codes live in 1/4 the shuffle and memory of
    ann_lsh_bucketed / ann_ivf_topk's rerank side). Codes are
    floor((v * 127) / max|v|), engine-exact in double arithmetic; the
    per-vector digest, code sum, and extrema land in the driver hash
    (the array itself stays off the driver boundary — round-1 list
    column lesson).

    Map-only plan: abs/max/floor are array HOFs inside whole-stage
    codegen — no shuffle, no Python; at 10^12 vectors this is a pure
    scan-side recode. FULL oracle: DuckDB re-quantizes with the same
    IEEE expression shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    s = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    codes = F.when(
        s == 0, F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(
            v,
            lambda x: F.floor((x.cast("double") * F.lit(127.0)) / s),
        )
    )
    c = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.size(v).cast("long").alias("dim"),
        F.floor(s * 1_000_000).cast("long").alias("scale_ppm"),
        codes.alias("codes"),
    )
    return c.select(
        "vec_id",
        "label",
        "dim",
        "scale_ppm",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_code"),
        F.array_min("codes").alias("min_code"),
        F.array_max("codes").alias("max_code"),
        F.md5(
            F.array_join(F.transform("codes", lambda x: x.cast("string")), "|")
        ).alias("codes_md5"),
    )


# ---------------------------------------------------------------------------
# int8-quantized top-k (integer scoring over compressed codes)
# ---------------------------------------------------------------------------

# The scale path pairing embed_quantize_int8 with retrieval: score in
# the compressed domain (integer dot product of int8 codes — ~1/4 the
# shuffle bytes and a SIMD-able integer kernel) and only ship float
# vectors for whatever survives. Codes are <= 127 and dim is 64, so
# the dot is < 2^21 — exact in BIGINT on both engines; with the floor
# quantizer shared with embed_quantize_int8, the ranking is fully
# deterministic (ties broken by cid).

_CODES_SQL = """
    SELECT vec_id,
           CAST(list_max(list_transform(embedding, x -> abs(x)))
                AS DOUBLE) AS s,
           embedding
    FROM embeddings
"""


def _codes_list_sql(alias: str) -> str:
    return (
        f"CASE WHEN {alias}.s = 0 THEN "
        f"list_transform({alias}.embedding, x -> CAST(0 AS BIGINT)) "
        f"ELSE list_transform({alias}.embedding, "
        f"x -> CAST(floor((CAST(x AS DOUBLE) * 127.0) / {alias}.s) "
        f"AS BIGINT)) END"
    )


@register(
    "ann_int8_topk",
    f"""
    WITH raw AS ({_CODES_SQL}),
    coded AS (
        SELECT vec_id, {_codes_list_sql('raw')} AS codes FROM raw
    ),
    scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
               CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                    i -> q.codes[i] * c.codes[i])) AS BIGINT) AS int8_dot
        FROM coded q CROSS JOIN coded c
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT qid, cid, int8_dot,
           row_number() OVER (PARTITION BY qid
                              ORDER BY int8_dot DESC, cid ASC) AS rank
    FROM scored
    QUALIFY rank <= {TOP_K}
    """,
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k retrieval scored entirely in the int8-quantized domain:
    probes and candidates are recoded with embed_quantize_int8's floor
    quantizer, scored by integer dot product (exact BIGINT both
    engines), ranked per probe with a deterministic tie-break. The
    compressed-domain twin of ann_cosine_topk — at 10^12 vectors the
    candidate side streams 1/4 the bytes and the scoring kernel is
    integer SIMD instead of float; the float vectors are only fetched
    for the k survivors (not modeled here — the ranking is the gate).

    Plan: probes broadcast (N_QUERIES rows), candidates stream, one
    window per probe — same scale shape as the float baseline. FULL
    oracle: DuckDB re-quantizes and re-scores with identical integer
    arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    s = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    codes = F.when(
        s == 0, F.transform(v, lambda x: F.lit(0).cast("long"))
    ).otherwise(
        F.transform(v, lambda x: F.floor((x.cast("double") * F.lit(127.0)) / s))
    )
    coded = emb.select("vec_id", codes.alias("codes"))
    q = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("codes").alias("qc")
    )
    c = coded.select(F.col("vec_id").alias("cid"), F.col("codes").alias("cc"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "cid",
        F.aggregate(
            F.zip_with("qc", "cc", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("int8_dot"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("int8_dot"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "cid", "int8_dot", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# embedding drift monitor (per-group centroid audit)
# ---------------------------------------------------------------------------

_DRIFT_DIMS = 4
_DRIFT_SCALE = 1_000_000


def _drift_sql() -> str:
    comps = ",\n           ".join(
        f"CAST(SUM(CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE)"
        f" * {_DRIFT_SCALE}.0) AS BIGINT)) AS BIGINT) AS c{d}_sum"
        for d in range(_DRIFT_DIMS)
    )
    return f"""
    SELECT label,
           COUNT(*) AS n_vecs,
           {comps}
    FROM embeddings
    GROUP BY label
    """


@register("embed_drift_centroid", _drift_sql())
def embed_drift_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-drift monitor: per-label centroid numerators over the
    first 4 dimensions, each component floored to x1e6 integer units
    BEFORE summing (floor, not round — the int8-quantize lesson: no
    half-tie rule to reconcile cross-engine; float32→double is exact,
    the double multiply is IEEE-identical, and the BIGINT sum is
    order-free). Comparing snapshots of this table across ingests is
    how a training pipeline detects embedding-space drift without
    shipping vectors anywhere.

    One groupBy on the label key, map-side combined; output rows =
    label cardinality. FULL oracle: DuckDB repeats the floor-and-sum."""
    emb = load_table(spark, sf_dir, "embeddings")
    aggs = [F.count(F.lit(1)).alias("n_vecs")] + [
        F.sum(
            F.floor(
                F.col("embedding").getItem(d).cast("double") * _DRIFT_SCALE
            ).cast("long")
        ).alias(f"c{d}_sum")
        for d in range(_DRIFT_DIMS)
    ]
    return emb.groupBy("label").agg(*aggs)


# ---------------------------------------------------------------------------
# product quantization (PQ) top-k — the compressed-codebook ANN rung
# ---------------------------------------------------------------------------

_PQ_M = 8                      # subspaces (64 dims -> 8 x 8)
_PQ_SUB = EMB_DIM // _PQ_M     # dims per subspace
_PQ_K = 16                     # centroids per subspace
_PQ_ANCHOR0 = 10               # codebook = subvectors of vec_id 10..25


def _pq_sql() -> str:
    d, m, k, a0 = _PQ_SUB, _PQ_M, _PQ_K, _PQ_ANCHOR0
    diff = "(CAST(d.v[i] AS DOUBLE) - CAST(c.v[i] AS DOUBLE))"
    return f"""
    WITH sub AS MATERIALIZED (
        SELECT vec_id, s, embedding[s*{d}+1 : s*{d}+{d}] AS v
        FROM embeddings, generate_series(0, {m - 1}) AS g(s)
    ),
    cb AS MATERIALIZED (
        SELECT s, vec_id - {a0} AS j, v FROM sub
        WHERE vec_id BETWEEN {a0} AND {a0 + k - 1}
    ),
    dist AS MATERIALIZED (
        SELECT d.vec_id, d.s, c.j,
               CAST(SUM(CAST(round({diff} * {diff}, 12)
                    AS DECIMAL(38,15))) AS DECIMAL(38,15)) AS dsq
        FROM sub d JOIN cb c ON c.s = d.s,
             generate_series(1, {d}) AS g(i)
        GROUP BY d.vec_id, d.s, c.j
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, s, j AS code FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dsq ASC, j ASC) AS rn
            FROM dist)
        WHERE rn = 1
    ),
    lut AS MATERIALIZED (
        SELECT vec_id AS qid, s, j, dsq FROM dist WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT l.qid, c.vec_id AS cid, CAST(SUM(l.dsq) AS DOUBLE) AS adc_dist
        FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
        GROUP BY l.qid, c.vec_id
    )
    SELECT qid, cid, adc_dist,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY adc_dist ASC, cid ASC) AS BIGINT) AS rank
    FROM adc
    QUALIFY rank <= {TOP_K}
    """


def _dec_l2sq(x, y):
    """Order-insensitive squared L2 distance of two float slices: each
    squared difference rounds to 12 decimals and sums as DECIMAL —
    bit-identical in Spark and DuckDB regardless of fold order (the
    dec_dot_col construction, applied to (a-b)^2 terms)."""
    diffs = F.zip_with(
        x, y,
        lambda a, b: F.round(
            (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
            12,
        ),
    )
    return F.aggregate(
        diffs,
        F.lit(0).cast("decimal(38,15)"),
        lambda acc, v: (acc + v.cast("decimal(38,15)")).cast("decimal(38,15)"),
    )


@register("ann_pq_topk", _pq_sql())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-k — the last rung of the ANN ladder
    (exact → LSH → IVF → int8 → PQ): vectors are split into M=8
    subspaces of 8 dims; each subvector is assigned to its nearest of
    K=16 codebook centroids (code = 4 bits × 8 subspaces = 8 bytes per
    64-float vector, a 32× compression); a probe's distance to a
    candidate is the ADC approximation Σ_s lut[s, code_s] where the
    LUT holds the probe's exact distance to every centroid.

    The codebook is DATA-DEFINED and deterministic — the subvectors of
    vec_id 10..25 — so both engines derive the identical codebook from
    the table with no trained-kmeans nondeterminism; all distances use
    the rounded-decimal fold (order-insensitive, engine-exact), and
    ties break on centroid/candidate id, making the whole PQ pipeline
    a FULL value oracle.

    Scale shape: assignment is |vecs|×M rows joined to the broadcast
    128-row codebook (one shuffle-free scan + a windowed argmin over
    16 rows per key); the scan side of retrieval streams 8-BYTE codes,
    not float vectors, joined to the broadcast probe LUT (Q×M×K rows)
    — at 10^9 vectors that is the classic memory-resident-PQ layout:
    compute O(|vecs|·M) adds, bytes 32× down, float vectors touched
    only if a rerank stage follows (ann_cosine_topk is that stage)."""
    emb = load_table(spark, sf_dir, "embeddings")
    subs = emb.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.slice("embedding", s * _PQ_SUB + 1, _PQ_SUB).alias("v"),
                )
                for s in range(_PQ_M)
            ])
        ).alias("x"),
    ).select("vec_id", F.col("x.s").alias("s"), F.col("x.v").alias("v"))
    cb = subs.filter(
        (F.col("vec_id") >= _PQ_ANCHOR0)
        & (F.col("vec_id") < _PQ_ANCHOR0 + _PQ_K)
    ).select(
        "s",
        (F.col("vec_id") - _PQ_ANCHOR0).alias("j"),
        F.col("v").alias("cv"),
    )
    dist = subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "j", _dec_l2sq(F.col("v"), F.col("cv")).alias("dsq")
    )
    w_arg = Window.partitionBy("vec_id", "s").orderBy(
        F.asc("dsq"), F.asc("j")
    )
    codes = (
        dist.withColumn("rn", F.row_number().over(w_arg))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("j").alias("code"))
    )
    lut = dist.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "s", "j", "dsq"
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["j"]),
        )
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("dsq").cast("double").alias("adc_dist"))
    )
    w_rank = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("cid"))
    return (
        adc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select("qid", "cid", "adc_dist", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# matryoshka (prefix-truncated) retrieval agreement audit
# ---------------------------------------------------------------------------

_MRL_DIM = 16  # prefix dims scored against the full EMB_DIM ranking


def _mrl_sql() -> str:
    return f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id AS qid, embedding AS eq FROM embeddings
        WHERE vec_id < {N_QUERIES}
    ),
    fulld AS MATERIALIZED (
        SELECT q.qid, c.vec_id AS cid,
               {DEC_SUM_PROD('q.eq[i]', 'c.embedding[i]')} AS dot
        FROM q CROSS JOIN embeddings c,
             generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY q.qid, c.vec_id
    ),
    truncd AS MATERIALIZED (
        SELECT q.qid, c.vec_id AS cid,
               {DEC_SUM_PROD('q.eq[i]', 'c.embedding[i]')} AS dot
        FROM q CROSS JOIN embeddings c,
             generate_series(1, {_MRL_DIM}) AS g(i)
        GROUP BY q.qid, c.vec_id
    ),
    fullk AS MATERIALIZED (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dot DESC, cid ASC) AS rnk
        FROM fulld QUALIFY rnk <= {TOP_K}
    ),
    trunck AS MATERIALIZED (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dot DESC, cid ASC) AS rnk
        FROM truncd QUALIFY rnk <= {TOP_K}
    )
    SELECT f.qid,
           CAST(SUM(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           bool_or(f.rnk = 1 AND t.rnk = 1) AS top1_match
    FROM fullk f LEFT JOIN trunck t ON t.qid = f.qid AND t.cid = f.cid
    GROUP BY f.qid
    """


@register("embed_matryoshka_topk", _mrl_sql())
def embed_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval audit — the measurement behind
    the "can we serve the 16-dim prefix instead of the full vector?"
    decision every MRL-style embedding deployment makes: rank all
    candidates by full-dim dot product AND by the 16-dim-prefix dot
    product, then report per probe how many of the full top-k survive
    truncation (recall@k of the prefix index) and whether the top-1
    agrees. Both rankings use the order-insensitive decimal fold and
    (dot DESC, cid ASC) tie-breaks, so the agreement counts are
    engine-exact — a FULL value oracle over a float-retrieval
    property, which is normally the hard thing to pin.

    Scale shape: two broadcast-probe scans (the ann_cosine_topk plan,
    one at 1/4 the bytes) + a per-probe top-k window each + one tiny
    join of two k-row-per-probe tables. The audit is how a real
    pipeline picks the serving dimension BEFORE building the
    compressed index (the PQ/int8 rungs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("eq")
    )

    def topk(dim: int) -> DataFrame:
        pairs = emb.crossJoin(F.broadcast(q))
        dot = dec_dot_col(
            F.slice("eq", 1, dim), F.slice("embedding", 1, dim)
        )
        scored = pairs.select(
            "qid", F.col("vec_id").alias("cid"), dot.alias("dot")
        )
        w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("cid"))
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("qid", "cid", "rnk")
        )

    fullk = topk(EMB_DIM)
    trunck = topk(_MRL_DIM).withColumnRenamed("rnk", "trnk")
    joined = fullk.join(trunck, ["qid", "cid"], "left")
    return joined.groupBy("qid").agg(
        F.sum(
            F.when(F.col("trnk").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_overlap"),
        F.max(
            (F.col("rnk") == 1) & (F.coalesce("trnk", F.lit(0)) == 1)
        ).alias("top1_match"),
    )


# ---------------------------------------------------------------------------
# trained-codebook product quantization (integer-exact Lloyd)
# ---------------------------------------------------------------------------

_PQT_K = 16       # centroids per subspace
_PQT_ITERS = 2    # Lloyd update rounds (unrolled in the oracle)
_PQT_SCALE = 1_000_000  # float -> integer domain: floor(x * 1e6)


def _pqt_sql() -> str:
    """DuckDB twin of the integer-exact Lloyd training + ADC retrieval.

    Every iteration is three MATERIALIZED CTEs (distances, argmin
    assignment, floor-division centroid update) — MATERIALIZED because
    each round references its predecessor more than once and inlining
    re-plans the scan exponentially (the webgraph_hits_exact lesson,
    components.py)."""
    m, sub, k, t = _PQ_M, _PQ_SUB, _PQT_K, _PQT_ITERS
    parts = [
        f"""
    WITH sub AS MATERIALIZED (
        SELECT vec_id,
               CAST((g.i - 1) // {sub} AS BIGINT) AS s,
               CAST((g.i - 1) % {sub} AS BIGINT) AS d,
               CAST(floor(CAST(embedding[g.i] AS DOUBLE) * {_PQT_SCALE})
                    AS BIGINT) AS x
        FROM embeddings, generate_series(1, {m * sub}) AS g(i)
    ),
    c0 AS MATERIALIZED (
        SELECT s, vec_id AS j, d, x AS c FROM sub WHERE vec_id < {k}
    )"""
    ]
    prev = "c0"
    for it in range(1, t + 1):
        parts.append(f"""
    dist{it} AS MATERIALIZED (
        SELECT v.vec_id, v.s, c.j,
               SUM((v.x - c.c) * (v.x - c.c)) AS dsq
        FROM sub v JOIN {prev} c ON c.s = v.s AND c.d = v.d
        GROUP BY v.vec_id, v.s, c.j
    ),
    asg{it} AS MATERIALIZED (
        SELECT vec_id, s, j FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dsq ASC, j ASC) AS rn
            FROM dist{it}
        ) WHERE rn = 1
    ),
    upd{it} AS MATERIALIZED (
        SELECT a.s, a.j, v.d,
               CAST(floor(CAST(SUM(v.x) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS cnew
        FROM asg{it} a JOIN sub v ON v.vec_id = a.vec_id AND v.s = a.s
        GROUP BY a.s, a.j, v.d
    ),
    c{it} AS MATERIALIZED (
        SELECT p.s, p.j, p.d, COALESCE(u.cnew, p.c) AS c
        FROM {prev} p LEFT JOIN upd{it} u
          ON u.s = p.s AND u.j = p.j AND u.d = p.d
    )""")
        prev = f"c{it}"
    parts.append(f"""
    cdist AS MATERIALIZED (
        SELECT v.vec_id, v.s, c.j,
               SUM((v.x - c.c) * (v.x - c.c)) AS dsq
        FROM sub v JOIN {prev} c ON c.s = v.s AND c.d = v.d
        GROUP BY v.vec_id, v.s, c.j
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, s, j AS code FROM (
            SELECT vec_id, s, j,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY dsq ASC, j ASC) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    lut AS MATERIALIZED (
        SELECT vec_id AS qid, s, j, dsq FROM cdist
        WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
        SELECT l.qid, cd.vec_id AS cid,
               CAST(SUM(l.dsq) AS BIGINT) AS adc_dist
        FROM codes cd JOIN lut l ON l.s = cd.s AND l.j = cd.code
        GROUP BY l.qid, cd.vec_id
    )
    SELECT qid, cid, adc_dist,
           CAST(row_number() OVER (PARTITION BY qid
                ORDER BY adc_dist ASC, cid ASC) AS BIGINT) AS rank
    FROM adc
    QUALIFY rank <= {TOP_K}""")
    return ",".join(parts)


def _pqt_subs(emb: DataFrame) -> DataFrame:
    """(vec_id, s, d, x): integer-scaled subvector dims. float->double
    cast is exact and *1e6/floor are identical IEEE ops in both
    engines, so the integer domain is bit-identical cross-engine."""
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        (F.col("pos") / _PQ_SUB).cast("long").alias("s"),
        (F.col("pos") % _PQ_SUB).cast("long").alias("d"),
        F.floor(F.col("xf").cast("double") * _PQT_SCALE)
        .cast("long")
        .alias("x"),
    )


def _pqt_dist(subs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, s, j, dsq): exact integer squared L2 of every
    subvector to every centroid of its subspace. The centroid table is
    M*K*SUB = 1024 rows — broadcast by construction."""
    diff = F.col("x") - F.col("c")
    return (
        subs.join(F.broadcast(cent), ["s", "d"])
        .groupBy("vec_id", "s", "j")
        .agg(F.sum(diff * diff).alias("dsq"))
    )


def _pqt_argmin(dist: DataFrame) -> DataFrame:
    w = Window.partitionBy("vec_id", "s").orderBy(F.asc("dsq"), F.asc("j"))
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "j")
    )


def pq_train_codebook(subs: DataFrame, iters: int = _PQT_ITERS) -> DataFrame:
    """Integer-exact Lloyd per subspace: init = subvectors of vec_id
    0..K-1; assignment = exact integer argmin (ties to lower j);
    update = element-wise floor(sum/count) (exact — |sum| < 2^53 so
    the double division of an integer pair floors identically in any
    engine); empty clusters keep their previous centroid. Returns the
    trained (s, j, d, c) table."""
    cent = subs.filter(F.col("vec_id") < _PQT_K).select(
        "s", F.col("vec_id").alias("j"), "d", F.col("x").alias("c")
    )
    for _ in range(iters):
        asg = _pqt_argmin(_pqt_dist(subs, cent))
        upd = (
            asg.join(subs, ["vec_id", "s"])
            .groupBy("s", "j", "d")
            .agg(
                F.floor(F.sum("x").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("cnew")
            )
        )
        cent = (
            cent.join(F.broadcast(upd), ["s", "j", "d"], "left")
            .select(
                "s", "j", "d", F.coalesce("cnew", "c").alias("c")
            )
        )
    return cent


@register("ann_pq_trained", _pqt_sql())
def ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook PQ top-k (r4 VERDICT #6): ann_pq_topk's
    data-defined codebook sidesteps k-means nondeterminism, but a real
    pipeline TRAINS the codebook — here per-subspace Lloyd runs
    entirely in an integer domain (floor(x*1e6), exact squared-L2,
    floor-division centroid updates, ties to the lower centroid id),
    so training itself is bit-identical cross-engine and the WHOLE
    train → encode → ADC-retrieve pipeline is a FULL value oracle
    (DuckDB unrolls the two Lloyd rounds as MATERIALIZED CTEs).

    Scale shape per iteration: assignment joins the dim stream to the
    BROADCAST 1024-row centroid table (one shuffle-free scan + a
    groupBy whose key count is |vecs|*M); the update is one groupBy
    producing M*K*SUB rows. At 10^12 vectors the real pipeline trains
    on a hash-sampled slice (sample_hash_split) and encodes the full
    corpus with the final broadcast codebook — the encode/ADC stages
    here are exactly ann_pq_topk's memory-resident layout (8-byte
    codes streaming against a broadcast probe LUT). Numpy parity:
    tests/test_ml.py::test_pq_trained_codebook_matches_numpy."""
    emb = load_table(spark, sf_dir, "embeddings")
    subs = _pqt_subs(emb)
    cent = pq_train_codebook(subs)
    cdist = _pqt_dist(subs, cent)
    codes = _pqt_argmin(cdist).withColumnRenamed("j", "code")
    lut = cdist.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "s", F.col("j").alias("code"), "dsq"
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("dsq").cast("long").alias("adc_dist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("cid"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "qid", "cid", "adc_dist", F.col("rank").cast("long").alias("rank")
        )
    )
