"""Text-analysis operators for the training-data pipeline.

The north-star payload is Common-Crawl-style web text (BASELINE.json:15);
these are the per-document analyses a large-scale training-data
pipeline runs before dedup/filtering: token statistics, quality
scoring, language identification, and document fingerprinting. The
reference repo has no text stage (it processes OSM history `[U]`), so
these are graft-payload additions, built Catalyst-native: tokenization
is `split`/`explode`, every ratio is integer-scaled (engine-exact, see
operators/portable.py), and the only hash is the portable md5-based
one — no Python in any of these plans.

All of these run over the driver's `documents` table and carry full
DuckDB oracles (token counting, quality, lang-ID, fingerprints, and
the feature-hashing embedding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .portable import PHASH, phash_col
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


def tokens_col(text):
    """Whitespace tokenization — the shared definition for every text
    operator (and the BPE-ish regex variant below)."""
    return F.split(F.trim(text), r"\s+")


TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"

# word-piece-ish segmentation: runs of letters, runs of digits, or a
# single non-space symbol — a deterministic stand-in for BPE pre-tokenization
BPE_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

STOPWORDS = ("the", "a", "of", "and")  # tiny fixed list, shared with SQL


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


@register(
    "text_token_count",
    f"""
    SELECT doc_id,
           length({TOKENS_SQL}) AS n_tokens,
           length(list_distinct({TOKENS_SQL})) AS n_distinct,
           length(regexp_extract_all(text, '{BPE_RE}')) AS n_subtokens,
           (length(replace(text, ' ', '')) * 1000) // length({TOKENS_SQL})
               AS avg_token_len_x1000
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish
    subtokens (regex segmentation), and integer-scaled mean token
    length. Single projection — no shuffle, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("n_subtokens"),
        F.expr(
            "(length(replace(text, ' ', '')) * 1000) div size(split(trim(text), '\\\\s+'))"
        ).alias("avg_token_len_x1000"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOP_IN = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_quality_score",
    f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    agg AS (
        SELECT doc_id,
               count(*) AS n_tokens,
               count(DISTINCT tok) AS n_distinct,
               sum(CASE WHEN tok IN ({_STOP_IN}) THEN 1 ELSE 0 END) AS n_stop
        FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           a.n_tokens,
           -- CAST: n_stop is SUM(int) = HUGEINT -> float64 in pandas;
           -- everything it touches must come back to BIGINT (r1 fail)
           CAST((a.n_stop * 1000) // a.n_tokens AS BIGINT) AS stop_ratio_x1000,
           CAST((a.n_distinct * 1000) // a.n_tokens AS BIGINT) AS ttr_x1000,
           CASE WHEN d.n_chars BETWEEN 100 AND 10000 THEN 1 ELSE 0 END AS len_ok,
           CAST(((a.n_distinct * 1000) // a.n_tokens
             + (1000 - (a.n_stop * 1000) // a.n_tokens)
             + CASE WHEN d.n_chars BETWEEN 100 AND 10000 THEN 1000 ELSE 0 END)
             // 3 AS BIGINT) AS quality_x1000
    FROM documents d JOIN agg a USING (doc_id)
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, type-token ratio, length gate,
    combined into one integer-scaled score — the length/punct/stopword
    heuristics of web-corpus filtering, all engine-exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    agg = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct"),
        F.sum(F.when(F.col("tok").isin(*STOPWORDS), 1).otherwise(0)).alias("n_stop"),
    )
    stop_ratio = F.expr("(n_stop * 1000) div n_tokens")
    ttr = F.expr("(n_distinct * 1000) div n_tokens")
    len_ok = F.when(F.col("n_chars").between(100, 10000), 1).otherwise(0)
    return (
        docs.join(agg, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            stop_ratio.alias("stop_ratio_x1000"),
            ttr.alias("ttr_x1000"),
            len_ok.alias("len_ok"),
            (
                (ttr + (F.lit(1000) - stop_ratio) + len_ok * 1000)
                .cast("long")
            ).alias("__qsum"),
        )
        .withColumn("quality_x1000", F.expr("__qsum div 3"))
        .drop("__qsum")
    )


# ---------------------------------------------------------------------------
# language identification (marker-token scoring)
# ---------------------------------------------------------------------------

# classic stopword-profile scoring; deterministic function of the text
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "que"),
    "fr": ("le", "les", "des", "et"),
}


def _lang_sql() -> str:
    score_cols = []
    for lg, markers in LANG_MARKERS.items():
        inlist = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"CAST(sum(CASE WHEN tok IN ({inlist}) THEN 1 ELSE 0 END) AS BIGINT) AS s_{lg}"
        )
    scores = ",\n               ".join(score_cols)
    # argmax with fixed tie-break order en > de > es > fr
    pred = (
        "CASE GREATEST(s_en, s_de, s_es, s_fr) WHEN 0 THEN 'und' "
        "WHEN s_en THEN 'en' WHEN s_de THEN 'de' WHEN s_es THEN 'es' "
        "ELSE 'fr' END"
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    sc AS (
        SELECT doc_id,
               {scores}
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id, s_en, s_de, s_es, s_fr,
           {pred} AS pred_lang
    FROM sc
    """


@register("text_lang_id", _lang_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-token (stopword-profile) scoring with a
    fixed argmax tie-break — the n-gram-heuristic shape of fastText-style
    lang-ID, expressed as one groupBy with conditional sums."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    aggs = [
        F.sum(F.when(F.col("tok").isin(*markers), 1).otherwise(0)).alias(f"s_{lg}")
        for lg, markers in LANG_MARKERS.items()
    ]
    sc = tok.groupBy("doc_id").agg(*aggs)
    best = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_MARKERS])
    pred = F.when(best == 0, "und")
    for lg in LANG_MARKERS:  # first max wins: en > de > es > fr
        pred = pred.when(F.col(f"s_{lg}") == best, lg)
    return sc.select(
        "doc_id", "s_en", "s_de", "s_es", "s_fr", pred.alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------


_CANON_SQL = "lower(regexp_replace(text, '\\s+', ' ', 'g'))"


@register(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5({_CANON_SQL}) AS fp_md5,
           {PHASH(_CANON_SQL)} AS fp60
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint: lowercase + whitespace
    collapse, then md5 (exact-dedup key) and the 60-bit portable
    integer hash (join-key form). Pure projection."""
    docs = load_table(spark, sf_dir, "documents")
    canon = F.lower(F.regexp_replace("text", r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(canon).alias("fp_md5"),
        phash_col(canon).alias("fp60"),
    )


# ---------------------------------------------------------------------------
# feature-hashing embeddings (text → vector, fully relational)
# ---------------------------------------------------------------------------

HASH_DIM = 16


def _embed_sql() -> str:
    tok_hash = PHASH("tok")
    bucket_sums = ",\n               ".join(
        f"sum(CASE WHEN ({tok_hash}) % {HASH_DIM} = {d} THEN 1 ELSE 0 END) AS b{d}"
        for d in range(HASH_DIM)
    )
    sq = " + ".join(f"b{d} * b{d}" for d in range(HASH_DIM))
    dims = ", ".join(
        f"CAST(floor(b{d} * 100000 / sqrt({sq})) AS BIGINT)"
        for d in range(HASH_DIM)
    )
    # output is FLATTENED to (doc_id, dim, val): the driver's pandas
    # canonicalizer crashes sorting a list-typed column (r1 ERROR) —
    # zipped unnest over the literal array + generate_series positions
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest({TOKENS_SQL}) AS tok FROM documents
    ),
    buckets AS (
        SELECT doc_id,
               {bucket_sums}
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id,
           unnest(generate_series(0, {HASH_DIM - 1})) AS dim,
           unnest([{dims}]) AS val
    FROM buckets
    """


@register("text_hash_embedding", _embed_sql())
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing vectorizer: tokens hashed into HASH_DIM buckets,
    counts l2-normalized — text → embedding entirely in the engine, so
    tokenize → embed is one relational pipeline. Values floor-scaled
    ×1e5 for engine-exact comparison (sqrt/division are
    correctly-rounded IEEE in both engines).
    Output is one row per (doc_id, dim) — array columns crash the
    driver's pandas canonicalization (round-1 ERROR)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    h = phash_col(F.col("tok"))
    buckets = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.pmod(h, F.lit(HASH_DIM)) == d, 1).otherwise(0)).alias(
                f"b{d}"
            )
            for d in range(HASH_DIM)
        ]
    )
    norm = F.sqrt(
        sum(F.col(f"b{d}") * F.col(f"b{d}") for d in range(HASH_DIM)).cast("double")
    )
    dims = [
        F.floor(F.col(f"b{d}") * 100000 / norm).cast("long") for d in range(HASH_DIM)
    ]
    return buckets.select(
        "doc_id", F.posexplode(F.array(*dims)).alias("dim", "val")
    ).select("doc_id", F.col("dim").cast("long").alias("dim"), "val")


# split thresholds: bucket = portable_hash(doc_id) mod 1000
SPLIT_BUCKETS = 1000
TRAIN_LT, VAL_LT = 900, 950  # 90/5/5


def _split_sql() -> str:
    b = f"({PHASH('doc_id')} % {SPLIT_BUCKETS})"
    return f"""
    SELECT doc_id,
           {b} AS bucket,
           CASE WHEN {b} < {TRAIN_LT} THEN 'train'
                WHEN {b} < {VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


@register("sample_hash_split", _split_sql())
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by portable hash of
    the document id — the reproducible-split primitive every training
    pipeline needs: stable across runs, engines, partitionings, and
    re-ingests (no rand(), no row ordering anywhere), and any engine
    holding the table can re-derive membership. One narrow projection;
    no shuffle at all. FULL oracle: DuckDB recomputes the identical
    md5-derived bucket per row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    b = F.pmod(phash_col(F.col("doc_id")), F.lit(SPLIT_BUCKETS))
    return docs.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < TRAIN_LT, F.lit("train"))
        .when(b < VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# deterministic global shuffle (training-data export ordering)
# ---------------------------------------------------------------------------

SHUFFLE_SHARDS = 8
_SHUF_A, _SHUF_B = 712_347_113, 381_002_419  # pmix permutation constants


def _global_shuffle_sql() -> str:
    from .portable import PMIX

    key = PMIX(PHASH("doc_id"), _SHUF_A, _SHUF_B)
    return f"""
    WITH keyed AS (
        SELECT doc_id, {key} AS shuffle_key,
               ({key}) % {SHUFFLE_SHARDS} AS shard
        FROM documents
    )
    SELECT doc_id, shard, shuffle_key,
           ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY shuffle_key, doc_id
           ) - 1 AS pos
    FROM keyed
    """


@register("sample_global_shuffle", _global_shuffle_sql())
def sample_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export: each document
    gets a permuted portable hash (pmix of phash — no rand(), so the
    order is stable across runs, engines, and partitionings), a shard
    = key mod 8, and a dense within-shard position ordered by (key,
    doc_id). Reading shards round-robin replays one fixed
    pseudo-random permutation of the corpus — the "global shuffle"
    every LLM data pipeline performs before tokenizing, without ever
    materializing a total order.

    100-TB shape: ONE hash-partition shuffle on shard (cluster-wide
    data movement equals input size, unavoidable for a shuffle) and a
    per-shard sort that Spark spills per partition — no global sort,
    no driver involvement; shards are independent so the export
    parallelizes across executors. FULL oracle: DuckDB reproduces the
    identical permutation and row_numbers."""
    from pyspark.sql import Window

    from .portable import pmix_col

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    key = pmix_col(phash_col(F.col("doc_id")), _SHUF_A, _SHUF_B)
    keyed = docs.select(
        "doc_id",
        key.alias("shuffle_key"),
        F.pmod(key, F.lit(SHUFFLE_SHARDS)).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id",
        "shard",
        "shuffle_key",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# robust length outliers (median + MAD, integer-exact at x2 scale)
# ---------------------------------------------------------------------------


@register(
    "text_length_outliers",
    """
    WITH med AS (
        SELECT lang,
               CAST(2 * quantile_cont(n_chars, 0.5) AS BIGINT) AS med2
        FROM documents GROUP BY lang
    ),
    dev AS (
        SELECT d.lang, d.doc_id, d.n_chars, m.med2,
               abs(2 * d.n_chars - m.med2) AS dev2
        FROM documents d JOIN med m USING (lang)
    ),
    mad AS (
        SELECT lang, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        FROM dev GROUP BY lang
    )
    SELECT v.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           v.med2, a.mad4,
           CAST(SUM(CASE WHEN 2 * v.dev2 > 3 * a.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev v JOIN mad a USING (lang)
    GROUP BY v.lang, v.med2, a.mad4
    """,
)
def text_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier audit: median + MAD instead
    of mean + stddev (one 10^9-char page cannot drag the threshold).
    Medians interpolate to halves at even counts, so every statistic
    is carried at x2 integer scale (med2 = 2·median, mad4 = 4·MAD,
    dev2 = 2·|dev|) — the comparison 2·dev2 > 3·mad4 is exact BIGINT
    arithmetic, no float threshold anywhere. EXACT percentile is
    deliberate (the approx ladder is agg_quantile_bound's job): two
    grouped sorts over language partitions.

    FULL oracle: DuckDB quantile_cont vs Spark percentile — both
    linear-interpolate, and x2 scaling makes the interpolated values
    integers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    med = docs.groupBy("lang").agg(
        (2 * F.expr("percentile(n_chars, 0.5)")).cast("long").alias("med2")
    )
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang",
        "doc_id",
        "med2",
        F.abs(2 * F.col("n_chars") - F.col("med2")).alias("dev2"),
    )
    mad = dev.groupBy("lang").agg(
        (2 * F.expr("percentile(dev2, 0.5)")).cast("long").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang", "med2", "mad4")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select("lang", "n_docs", "med2", "mad4", "n_outliers")
    )
