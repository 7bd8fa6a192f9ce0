"""Deduplication operators for the training-data pipeline.

Web-corpus dedup is the canonical pre-training data job; the engine
ships the full ladder — exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine — each as a Catalyst-native plan over the
driver's `documents`/`embeddings` tables with a full DuckDB oracle
(shared integer/portable-hash arithmetic, operators/portable.py).

Because the synthetic corpus has no natural duplicates, every query
first PLANTS deterministic duplicates (same construction in the Spark
plan and the oracle SQL): docs 0–49 get a near-dup copy at
doc_id+10000 with the first token dropped; docs 0–24 get an exact
copy at doc_id+20000. A dedup operator that returns the planted pairs
(and only deterministic extras) is value-hash-verified end to end.

Scale notes: the LSH path is the 10^12-row design — signature agg is
one shuffle keyed by doc, band join is an equi-join on (band, key)
whose fan-out is bounded by band width, and the exact-Jaccard verify
only touches candidate pairs. The n-gram self-join is the quadratic
baseline kept for parity testing at small SF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .portable import PHASH, PMIX, perm_params, phash_col, pmix_col
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# planted-duplicate corpus (shared Spark/SQL construction)
# ---------------------------------------------------------------------------

N_NEAR, NEAR_OFF = 50, 10_000
N_EXACT, EXACT_OFF = 25, 20_000

CORPUS_SQL = f"""
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {NEAR_OFF}, regexp_replace(text, '^\\S+\\s+', '')
        FROM documents WHERE doc_id < {N_NEAR}
        UNION ALL
        SELECT doc_id + {EXACT_OFF}, text FROM documents WHERE doc_id < {N_EXACT}
"""


def spread(df: DataFrame) -> DataFrame:
    """Spread a few-split base table across the cluster BEFORE a
    row-multiplying explode (shingles fan ~150x) — one tiny shuffle of
    the pre-fan-out rows buys full map-side parallelism downstream
    (cf. sources/pages.py)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, "doc_id")


def corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") < N_NEAR).select(
        (F.col("doc_id") + NEAR_OFF).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    exact = docs.filter(F.col("doc_id") < N_EXACT).select(
        (F.col("doc_id") + EXACT_OFF).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    WITH corpus AS ({CORPUS_SQL})
    SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM corpus GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-groupBy on the content fingerprint; the
    kept id is the min — a single shuffle keyed by fingerprint, the
    exact shape that scales (no pairwise anything)."""
    c = corpus(spark, sf_dir)
    return (
        c.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# word-n-gram shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------

NGRAM = 3


def shingles_vectorized(c: DataFrame) -> DataFrame:
    """mapInPandas twin of :func:`shingles` — the 10^8+-doc scale path:
    tokenization and shingle assembly in numpy/pandas per Arrow batch
    instead of interpreted higher-order-function lambdas (~30µs/shingle
    interpreted vs ~1µs vectorized). Output-identical to shingles()
    (tests/test_dedup.py pins equality)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids, out = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.strip().split()
                n = len(toks)
                for i in range(n - NGRAM + 1):
                    ids.append(doc_id)
                    out.append(" ".join(toks[i : i + NGRAM]))
            yield pd.DataFrame({"doc_id": ids, "shingle": out})

    return c.select("doc_id", "text").mapInPandas(run, "doc_id long, shingle string")


SHINGLES_SQL = f"""
        SELECT doc_id, unnest(
            list_transform(
                generate_series(1, greatest(0, length(string_split_regex(trim(text), '\\s+')) - {NGRAM - 1})),
                i -> concat_ws(' ',
                     string_split_regex(trim(text), '\\s+')[i],
                     string_split_regex(trim(text), '\\s+')[i+1],
                     string_split_regex(trim(text), '\\s+')[i+2])
            )) AS shingle
        FROM corpus
"""


def shingles(c: DataFrame) -> DataFrame:
    """(doc_id, shingle) — word 3-grams; docs shorter than NGRAM tokens
    produce no rows (mirrors the SQL's empty generate_series).

    The token array is materialized as its own projection first: the
    higher-order transform lambda references the array 3× per element,
    and inlining `split(text)` there would re-run the regex
    tokenization for every shingle term (~450 regex passes per doc —
    measured 6× slowdown)."""
    toks_df = c.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("__toks")
    )
    t = F.col("__toks")
    sh = F.when(
        F.size(t) >= NGRAM,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - NGRAM),
            lambda i: F.concat_ws(
                " ", F.get(t, i), F.get(t, i + 1), F.get(t, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks_df.select("doc_id", F.explode(sh).alias("shingle"))


DISTINCT_SHINGLES_SQL = f"""
    shingled AS ({SHINGLES_SQL}),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

JACCARD_PAIRS_SQL = """
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    jac AS (
        SELECT da, db,
               (n_inter * 1000) // (sa.n + sb.n - n_inter) AS jaccard_x1000
        FROM inter
        JOIN sizes sa ON sa.doc_id = da
        JOIN sizes sb ON sb.doc_id = db
    )
"""


def _jaccard_pairs(sh: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Exact Jaccard over distinct-shingle sets. ``pairs`` (da, db)
    restricts the computation to candidate pairs (the LSH verify path):
    the candidate set is joined in BEFORE the shingle-shingle join, so
    the verify cost is O(|candidates| · shingles-per-doc), not the
    quadratic all-pairs join. None = all pairs sharing ≥1 shingle (the
    quadratic baseline that LSH exists to avoid).

    Precondition: ``sh`` is already distinct per (doc_id, shingle) —
    callers pass the persisted distinct shingle table."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "shingle")
    b = sh.select(F.col("doc_id").alias("db"), "shingle")
    if pairs is not None:
        inter = (
            pairs.join(a, "da")
            .join(b, ["db", "shingle"])
            .groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("da") < F.col("db"))
            .groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
        .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
        .select(
            "da",
            "db",
            F.expr("(n_inter * 1000) div (na + nb - n_inter)").alias("jaccard_x1000"),
        )
    )


JACCARD_THRESH = 500


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH corpus AS ({CORPUS_SQL}),
    {DISTINCT_SHINGLES_SQL},
    {JACCARD_PAIRS_SQL}
    SELECT da, db, jaccard_x1000 FROM jac WHERE jaccard_x1000 >= {JACCARD_THRESH}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard dedup — the quadratic baseline: self-join
    on shingle, integer-scaled Jaccard, threshold. Kept for parity
    testing; the scale path is dedup_minhash_lsh."""
    sh = shingles(spread(corpus(spark, sf_dir))).distinct().persist()
    return _jaccard_pairs(sh).filter(F.col("jaccard_x1000") >= JACCARD_THRESH)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_PERM, N_BANDS = 16, 4
ROWS_PER_BAND = N_PERM // N_BANDS
PERMS = perm_params(N_PERM)


def _minhash_sql() -> str:
    mins = ",\n               ".join(
        f"min({PMIX(PHASH('shingle'), a, b)}) AS mh{i}"
        for i, (a, b) in enumerate(PERMS)
    )
    band_rows = []
    for bnd in range(N_BANDS):
        cols = ", ".join(f"mh{bnd * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND))
        band_rows.append(
            f"SELECT doc_id, {bnd} AS band, concat_ws('_', {cols}) AS bkey FROM sig"
        )
    bands = "\n        UNION ALL\n        ".join(band_rows)
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    {DISTINCT_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               {mins}
        FROM sh GROUP BY doc_id
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    {JACCARD_PAIRS_SQL}
    SELECT j.da, j.db, j.jaccard_x1000
    FROM jac j JOIN cand c ON j.da = c.da AND j.db = c.db
    WHERE j.jaccard_x1000 >= {JACCARD_THRESH}
    """


@register("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection — the 10^12-row design:
    shingle→minhash signature (one shuffle keyed by doc), band→bucket
    equi-join for candidates, exact-Jaccard verify on candidates only.
    16 permutations, 4 bands × 4 rows (~s-curve threshold ≈ 0.5)."""
    # the distinct shingle set feeds four branches (signatures, both
    # sides of the Jaccard verify, the size table); persist it once —
    # at production scale this is the checkpointed shingle table.
    # shingler choice is MEASURED, not assumed: with the token array
    # projected out first, the JVM higher-order-function shingler beats
    # the Arrow mapInPandas twin at sf0.1 (0.62s vs 0.84s warm — the
    # Arrow round-trip ships the full text to Python and the shingles
    # back, which codegen never pays). shingles_vectorized stays the
    # pinned-identical alternative for clusters whose Python workers
    # scale independently of the JVM cores.
    sh = shingles(spread(corpus(spark, sf_dir))).distinct().persist()
    # materialize the md5-based hash ONCE per shingle: inlining phash
    # into the 16 permutation aggregates would evaluate 16 md5s per row
    hashed = sh.select("doc_id", phash_col(F.col("shingle")).alias("__h"))
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(pmix_col(F.col("__h"), a, b)).alias(f"mh{i}")
            for i, (a, b) in enumerate(PERMS)
        ]
    )
    # band bucket key: xxhash64 of the band's minhash values packs the
    # 4-long band signature into ONE 8-byte key (the string concat it
    # replaces was ~80 bytes — a 10x narrower LSH shuffle at 10^8+
    # docs). A 2^-64 hash collision can only ADD a candidate pair, and
    # every candidate is exact-Jaccard verified, so results are
    # identical by construction.
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bnd).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"mh{bnd * ROWS_PER_BAND + j}")
                        for j in range(ROWS_PER_BAND)
                    ]
                ).alias("bkey"),
            )
            for bnd in range(N_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band", "b.bkey"
    )
    a = bands.select(F.col("doc_id").alias("da"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("db"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"]).filter(F.col("da") < F.col("db")).select("da", "db").distinct()
    )
    return _jaccard_pairs(sh, pairs=cand).filter(
        F.col("jaccard_x1000") >= JACCARD_THRESH
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


_TOK_UNNEST_SQL = "unnest(string_split_regex(trim(text), '\\s+'))"


def _simhash_sql() -> str:
    tok_hash = PHASH(_TOK_UNNEST_SQL)
    votes = ",\n               ".join(
        f"sum(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    tok AS (
        SELECT doc_id, {tok_hash} AS h
        FROM corpus
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id, {bits} AS simhash FROM votes
    """


@register("dedup_simhash", _simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (32-bit, TF-weighted bit votes over token
    hashes). One groupBy; near-dup pairing is hamming distance on the
    signature (tests/test_dedup.py) — at scale, banded on signature
    bytes exactly like MinHash bands."""
    c = spread(corpus(spark, sf_dir))
    tok = c.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    ).select("doc_id", phash_col(F.col("tok")).alias("h"))
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

COS_THRESH_X1000 = 990
EMB_DIM = 64
EMB_OFF = 10_000
N_EMB_DUP = 20

EMB_CORPUS_SQL = f"""
        SELECT vec_id, label, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {EMB_OFF}, label, embedding FROM embeddings
        WHERE vec_id < {N_EMB_DUP}
"""


@register(
    "dedup_embedding_cosine",
    f"""
    WITH corpus AS ({EMB_CORPUS_SQL}),
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               a.embedding AS ea, b.embedding AS eb
        FROM corpus a JOIN corpus b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ),
    dots AS (
        SELECT va, vb,
               CAST(sum(CAST(round(CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE), 12) AS DECIMAL(38,15))) AS DOUBLE) AS dot,
               CAST(sum(CAST(round(CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE), 12) AS DECIMAL(38,15))) AS DOUBLE) AS na,
               CAST(sum(CAST(round(CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE), 12) AS DECIMAL(38,15))) AS DOUBLE) AS nb
        FROM pairs, generate_series(1, {EMB_DIM}) AS g(i)
        GROUP BY va, vb
    )
    SELECT va, vb,
           CAST(floor(1000.0 * dot / (sqrt(na) * sqrt(nb))) AS BIGINT) AS cos_x1000
    FROM dots
    WHERE floor(1000.0 * dot / (sqrt(na) * sqrt(nb))) >= {COS_THRESH_X1000}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: label-blocked pair generation (the
    coarse partitioner — at scale an LSH/IVF bucket id), exact cosine
    refine with order-insensitive decimal dot products, integer-floored
    threshold. 20 planted copies must all surface at cos_x1000=1000."""
    emb = load_table(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") < N_EMB_DUP).select(
        (F.col("vec_id") + EMB_OFF).alias("vec_id"), "label", "embedding"
    )
    c = emb.select("vec_id", "label", "embedding").unionByName(dup)
    a = c.select(F.col("vec_id").alias("va"), "label", F.col("embedding").alias("ea"))
    b = c.select(F.col("vec_id").alias("vb"), "label", F.col("embedding").alias("eb"))
    pairs = a.join(b, "label").filter(F.col("va") < F.col("vb"))

    def dsum_prod(x: Column, y: Column) -> Column:
        prods = F.zip_with(x, y, lambda p, q: F.round(p.cast("double") * q.cast("double"), 12))
        return F.aggregate(
            prods,
            F.lit(0).cast("decimal(38,15)"),
            lambda acc, v: (acc + v.cast("decimal(38,15)")).cast("decimal(38,15)"),
        ).cast("double")

    dots = pairs.select(
        "va",
        "vb",
        dsum_prod(F.col("ea"), F.col("eb")).alias("dot"),
        dsum_prod(F.col("ea"), F.col("ea")).alias("na"),
        dsum_prod(F.col("eb"), F.col("eb")).alias("nb"),
    )
    cos = F.floor(F.lit(1000.0) * F.col("dot") / (F.sqrt("na") * F.sqrt("nb")))
    return dots.select(
        "va", "vb", cos.cast("long").alias("cos_x1000")
    ).filter(F.col("cos_x1000") >= COS_THRESH_X1000)


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs the existing corpus snapshot
# ---------------------------------------------------------------------------

_SNAP_SPLIT = 350  # doc_id < 350 = the "existing" corpus


@register(
    "dedup_cross_snapshot",
    f"""
    WITH corpus AS ({CORPUS_SQL}),
    old AS (SELECT md5(text) AS h FROM corpus WHERE doc_id < {_SNAP_SPLIT}),
    new AS (
        SELECT doc_id, md5(text) AS h FROM corpus WHERE doc_id >= {_SNAP_SPLIT}
    )
    SELECT n.doc_id, n.h AS fingerprint,
           (o.h IS NOT NULL) AS dup_of_existing
    FROM new n LEFT JOIN (SELECT DISTINCT h FROM old) o USING (h)
    """,
)
def dedup_cross_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup — the shape every
    growing training corpus runs on ingest: fingerprint ONLY the new
    batch and probe the existing corpus's fingerprint set; existing
    data is touched as a (stored, bucketed) hash column, never
    re-read as text. Here the corpus splits at doc_id 350; the new
    side annotates each doc with whether its md5 already exists in
    the old side (left join against the distinct old-fingerprint
    set — at scale a bloom-filter prefilter drops the obvious
    non-dups before the join, the plan-gated runtime-filter path).

    FULL oracle: DuckDB repeats the split, hash, and probe."""
    docs = corpus(spark, sf_dir)
    old = (
        docs.filter(F.col("doc_id") < _SNAP_SPLIT)
        .select(F.md5("text").alias("h"))
        .distinct()
        .withColumn("present", F.lit(True))
    )
    new = docs.filter(F.col("doc_id") >= _SNAP_SPLIT).select(
        "doc_id", F.md5("text").alias("h")
    )
    return new.join(old, "h", "left").select(
        "doc_id",
        F.col("h").alias("fingerprint"),
        F.coalesce("present", F.lit(False)).alias("dup_of_existing"),
    )


# ---------------------------------------------------------------------------
# bloom-filter prefilter for cross-snapshot dedup
# ---------------------------------------------------------------------------

_BLOOM_M = 2048   # bits — sized so the sf-scale corpus measurably false-positives
_BLOOM_K = 3      # hash functions


def _bloom_sql() -> str:
    bit = PHASH("p.h || '#' || CAST(s.s AS VARCHAR)")
    obit = PHASH("o.h || '#' || CAST(s.s AS VARCHAR)")
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    old AS MATERIALIZED (
        SELECT DISTINCT md5(text) AS h FROM corpus WHERE doc_id < {_SNAP_SPLIT}
    ),
    new AS (
        SELECT doc_id, md5(text) AS h FROM corpus WHERE doc_id >= {_SNAP_SPLIT}
    ),
    seeds AS (SELECT unnest(range(0, {_BLOOM_K})) AS s),
    bloom AS MATERIALIZED (
        SELECT DISTINCT ({obit} % {_BLOOM_M}) AS bit
        FROM old o CROSS JOIN seeds s
    ),
    probe AS (
        SELECT p.doc_id, p.h, ({bit} % {_BLOOM_M}) AS bit
        FROM new p CROSS JOIN seeds s
    ),
    cand AS (
        SELECT p.doc_id, p.h,
               (COUNT(b.bit) = {_BLOOM_K}) AS bloom_candidate
        FROM probe p LEFT JOIN bloom b ON b.bit = p.bit
        GROUP BY p.doc_id, p.h
    )
    SELECT c.doc_id,
           (o.h IS NOT NULL) AS dup_of_existing,
           c.bloom_candidate
    FROM cand c LEFT JOIN old o ON o.h = c.h
    """


@register("dedup_bloom_prefilter", _bloom_sql())
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bloom-filter prefilter dedup_cross_snapshot's docstring
    promises: before probing the (huge, stored) old-snapshot
    fingerprint set with an equi-join, test each new fingerprint
    against a bloom filter of the old set — no false negatives by
    construction, so only bloom candidates need the exact join, and
    the common all-new crawl skips the big shuffle entirely.

    The bloom here is REAL but expressed relationally so it is
    bit-reproducible in both engines: bit i of fingerprint h is
    ``phash(h || '#' || i) % m`` (m=2048, k=3 portable md5-derived
    hash functions), the filter is the DISTINCT bit table of the old
    side (≤ m rows — broadcastable by construction), and membership
    is "all k probe bits present" (count of matched bits = k). The
    output carries per-doc ground truth next to the bloom verdict:
    ``dup_of_existing ⇒ bloom_candidate`` always (no false
    negatives), while candidates that are NOT dups are the measured
    false positives of this (m, k, |old|) configuration.

    At 100 TB the same plan holds with the relational bitmap swapped
    for ``df.stat.bloomFilter`` bytes broadcast to executors: the
    probe side stays map-only, the old side is touched once to build
    the filter, and the exact join runs over candidates only.
    FULL oracle: DuckDB rebuilds the identical bit table and probe."""
    docs = corpus(spark, sf_dir)
    seeds = F.array(*[F.lit(i) for i in range(_BLOOM_K)])
    old = (
        docs.filter(F.col("doc_id") < _SNAP_SPLIT)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    bit = lambda: F.pmod(  # noqa: E731 — tiny shared expression
        phash_col(F.concat_ws("#", F.col("h"), F.col("s"))), F.lit(_BLOOM_M)
    )
    bloom = (
        old.select("h", F.explode(seeds).alias("s"))
        .select(bit().alias("bit"))
        .distinct()
        .withColumn("present", F.lit(1))
    )
    new = docs.filter(F.col("doc_id") >= _SNAP_SPLIT).select(
        "doc_id", F.md5("text").alias("h")
    )
    cand = (
        new.select("doc_id", "h", F.explode(seeds).alias("s"))
        .select("doc_id", "h", bit().alias("bit"))
        .join(F.broadcast(bloom), "bit", "left")
        .groupBy("doc_id", "h")
        .agg((F.count("present") == _BLOOM_K).alias("bloom_candidate"))
    )
    exact = old.withColumn("dup", F.lit(True))
    return cand.join(exact, "h", "left").select(
        "doc_id",
        F.coalesce("dup", F.lit(False)).alias("dup_of_existing"),
        "bloom_candidate",
    )


# ---------------------------------------------------------------------------
# asymmetric containment dedup (quote/inclusion detection)
# ---------------------------------------------------------------------------

RARE_DF = 8          # shingles in more docs than this generate no candidates
CONT_THRESH = 900    # containment_x1000 floor: A is >=90% inside B

_QUOTE_N, _QUOTE_OFF = 20, 30_000

# corpus + planted INCLUSIONS: docs 0-19 get a "quote" doc at
# doc_id+30000 holding only their first 20 tokens — containment
# (quote -> original) ~ 1000 while symmetric Jaccard is far below any
# dedup threshold, the case this operator exists for
_CONT_CORPUS_SQL = f"""
    corpus0 AS ({CORPUS_SQL}),
    corpus AS (
        SELECT doc_id, text FROM corpus0
        UNION ALL
        SELECT doc_id + {_QUOTE_OFF},
               array_to_string(
                   (string_split_regex(trim(text), '\\s+'))[1:{_QUOTE_N}], ' ')
        FROM documents WHERE doc_id < {_QUOTE_N}
    )
"""


@register(
    "dedup_containment",
    f"""
    WITH {_CONT_CORPUS_SQL},
    shingled AS ({SHINGLES_SQL}),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shingled),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    dfreq AS (SELECT shingle, count(*) AS dfc FROM sh GROUP BY shingle),
    rare AS (
        SELECT s.doc_id, s.shingle FROM sh s
        JOIN dfreq USING (shingle) WHERE dfreq.dfc <= {RARE_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM rare a JOIN rare b
          ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    ),
    inter AS (
        SELECT c.da, c.db, count(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.da
        JOIN sh b ON b.doc_id = c.db AND b.shingle = a.shingle
        GROUP BY c.da, c.db
    )
    SELECT i.da, i.db, (i.n_inter * 1000) // sa.n AS containment_x1000
    FROM inter i JOIN sizes sa ON sa.doc_id = i.da
    WHERE (i.n_inter * 1000) // sa.n >= {CONT_THRESH}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment dedup — the inclusion case the symmetric
    ladder misses: a short doc quoted inside a long one has
    containment(quote→host) ≈ 1 but Jaccard ≈ |quote|/|host|, far
    under any near-dup threshold (the planted first-20-token quote
    docs are exactly that). Emits ORDERED pairs (da, db,
    containment_x1000 = 1000·|A∩B| // |A|) with containment ≥ 90%.

    Candidate generation is RARE-SHINGLE BLOCKING, not LSH: minhash
    approximates Jaccard, not containment, so banding would miss the
    asymmetric pairs by design. Two docs become a candidate iff they
    share a shingle appearing in ≤ RARE_DF docs corpus-wide. Scale
    shape: the document-frequency table is one groupBy(shingle); the
    candidate join's fan-out is bounded per shingle by RARE_DF² — and
    boilerplate (high-DF shingles) is excluded from candidate
    generation by construction, which is precisely the behavior a
    100-TB inclusion pass needs (common navigation chrome must not
    produce candidate pairs). Verification touches candidates only:
    the intersection join streams each candidate's distinct shingle
    sets, never all-pairs. |A∩B| and |A| are exact integers, so the
    floor-scaled containment is engine-exact and the whole pipeline
    is a FULL value oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = docs.filter(F.col("doc_id") < _QUOTE_N).select(
        (F.col("doc_id") + _QUOTE_OFF).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.trim("text"), r"\s+"), 1, _QUOTE_N)
        ).alias("text"),
    )
    c = corpus(spark, sf_dir).unionByName(quotes)
    # Not persisted: the operator returns a lazy plan, so a persist here
    # could never be released. Branches whose plans match reuse one
    # exchange; the others re-derive the shingles.
    sh = shingles(spread(c)).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfc"))
    rare = sh.join(
        dfreq.filter(F.col("dfc") <= RARE_DF).select("shingle"), "shingle"
    )
    cand = (
        rare.select(F.col("doc_id").alias("da"), "shingle")
        .join(rare.select(F.col("doc_id").alias("db"), "shingle"), "shingle")
        .filter(F.col("da") != F.col("db"))
        .select("da", "db")
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("da"), "shingle"), "da")
        .join(sh.select(F.col("doc_id").alias("db"), "shingle"), ["db", "shingle"])
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "da"), "da")
        .select(
            "da",
            "db",
            F.expr("(n_inter * 1000) div n").alias("containment_x1000"),
        )
        .filter(F.col("containment_x1000") >= CONT_THRESH)
    )


# ---------------------------------------------------------------------------
# exact-substring span dedup (duplicated token-span detection)
# ---------------------------------------------------------------------------

SPAN_TOKENS = 10  # duplicated-span unit: 10 consecutive tokens


@register(
    "dedup_exact_substring_spans",
    f"""
    WITH corpus AS ({CORPUS_SQL}),
    grams AS (
        SELECT doc_id, unnest(
            list_transform(
                generate_series(1, greatest(0,
                    length(string_split_regex(trim(text), '\\s+'))
                        - {SPAN_TOKENS - 1})),
                i -> md5(array_to_string(
                         (string_split_regex(trim(text), '\\s+'))
                             [i:i+{SPAN_TOKENS - 1}],
                         ' '))
            )) AS fp
        FROM corpus
    ),
    dupfp AS (SELECT fp FROM grams GROUP BY fp HAVING count(*) > 1),
    per_doc AS (
        SELECT g.doc_id,
               count(*) AS n_spans,
               sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_dup_spans
        FROM grams g LEFT JOIN dupfp d ON d.fp = g.fp
        GROUP BY g.doc_id
    )
    SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
           CAST((n_dup_spans * 1000) // n_spans AS BIGINT) AS dup_frac_x1000
    FROM per_doc WHERE n_dup_spans > 0
    """,
)
def dedup_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING span dedup — the "deduplicating training data"
    signal (duplicated verbatim token runs, not whole-document
    similarity): every {SPAN}-token window is fingerprinted; a span is
    DUPLICATED if its fingerprint occurs more than once corpus-wide
    (across docs or repeated within one); each doc reports its span
    count, duplicated-span count, and integer-scaled duplicated
    fraction. Planted exact copies score 1000‰, near copies just
    under, organic boilerplate shows up as partial fractions — the
    per-doc signal a curation pass thresholds to strip or down-weight
    verbatim-repeated content that document-level dedup cannot see.

    Scale shape: the gram stream is one map-side pass (size ≈ token
    count; the token array is materialized once per doc before the
    window transform — the shingle-table lesson); the duplicate table
    is ONE groupBy(fingerprint) with map-side partials; the annotate
    join is fingerprint-equi (broadcast at toy scale via AQE,
    sort-merge at 10^12 tokens); the per-doc rollup is one more
    partial-combined groupBy. Nothing pairwise, nothing quadratic —
    this is the suffix-array-free formulation that actually runs at
    corpus scale. FULL value oracle: DuckDB re-derives the same
    fingerprints and fractions."""
    c = spread(corpus(spark, sf_dir))
    toks_df = c.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("__toks")
    )
    t = F.col("__toks")
    fps = F.when(
        F.size(t) >= SPAN_TOKENS,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (SPAN_TOKENS - 1)),
            lambda i: F.md5(F.concat_ws(" ", F.slice(t, i, SPAN_TOKENS))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks_df.select("doc_id", F.explode(fps).alias("fp"))
    dupfp = (
        grams.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("fp", F.lit(1).alias("__dup"))
    )
    per_doc = (
        grams.join(dupfp, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce("__dup", F.lit(0))).cast("long").alias("n_dup_spans"),
        )
    )
    return per_doc.filter(F.col("n_dup_spans") > 0).select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.expr("(n_dup_spans * 1000) div n_spans").alias("dup_frac_x1000"),
    )
