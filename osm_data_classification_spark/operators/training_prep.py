"""Training-data preparation operators: token chunking and sequence
packing — the last mile between a curated corpus and a training run
(SURVEY.md §2 LLM-pipeline ops are first-class catalog entries).

- **Token chunking** — split each document's token stream into
  fixed-size overlapping windows (context-window shingling): chunk i
  covers tokens [i*STRIDE, i*STRIDE + CHUNK). The standard prep step
  before embedding or pretraining when documents exceed the model's
  context length.
- **Sequence packing** — the concat-and-split packing used by
  pretraining dataloaders: documents are concatenated in a canonical
  order (doc_id) into one logical token stream and cut into CTX-token
  packs; each document reports the pack its first token lands in and
  its offset within the stream. The global token offset is a prefix
  sum — computed here with the two-level DISTRIBUTED prefix-sum
  pattern, not a single-partition window.

Both are integer-exact (counts, offsets, md5 of joined tokens), so
the driver gets full value hashes.

Scale notes (100 TB / 1000 executors):

- `text_chunk_tokens` is map-only until the terminal posexplode —
  transform over a sequence builds the chunk array inside codegen,
  no shuffle anywhere; output rows ~= tokens/STRIDE.
- `sample_pack_sequences` must NOT be written as
  `SUM(n) OVER (ORDER BY doc_id)` — a global-order window collapses
  the corpus onto ONE task. The two-level shape: an exclusive cumsum
  within each doc_id-range bucket (bounded window partitions), bucket
  totals (one tiny agg), an exclusive cumsum over the bucket totals,
  and a broadcast join adding the bucket offset back. At 10^12 docs
  the bucket-totals level is itself bucketable — the pattern nests to
  O(log) levels; two levels suffice through ~10^9 buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .portable import PHASH, phash_col
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# token chunking
# ---------------------------------------------------------------------------

CHUNK = 32   # tokens per chunk
STRIDE = 24  # chunk start spacing (CHUNK - STRIDE = 8-token overlap)

_CHUNK_DUCK = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
    FROM documents
),
ids AS (
    SELECT doc_id, l,
           unnest(range(0, (len(l) + {STRIDE - 1}) // {STRIDE})) AS chunk_id
    FROM toks
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(l[chunk_id * {STRIDE} + 1 : chunk_id * {STRIDE} + {CHUNK}])
            AS BIGINT) AS chunk_len,
       md5(array_to_string(
           l[chunk_id * {STRIDE} + 1 : chunk_id * {STRIDE} + {CHUNK}], ' '))
           AS chunk_md5
FROM ids
"""


@register("text_chunk_tokens", _CHUNK_DUCK)
def text_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride overlapping token chunking: chunk i of a document
    covers tokens [i*STRIDE, i*STRIDE+CHUNK) — a 32-token window every
    24 tokens (8-token overlap), the context-window shingling run
    before embedding long documents. The trailing chunk is naturally
    short, exercising the partial-window path at every sf.

    Map-only until the terminal posexplode: the chunk array is built
    by `transform` over a `sequence` inside whole-stage codegen — no
    shuffle at any scale; the md5 digests each chunk so the value
    hash pins exact chunk CONTENT, not just counts. FULL oracle:
    DuckDB rebuilds the chunks with 1-based inclusive list slices."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("l")
    )
    # size(l) >= 1 always (split('') == ['']) so n_chunks >= 1 and
    # every start i*STRIDE < size(l) by construction of the ceil.
    nch = F.expr(f"(size(l) + {STRIDE - 1}) div {STRIDE}")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.slice("l", i * STRIDE + 1, CHUNK),
    )
    return toks.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size("c").cast("long").alias("chunk_len"),
        F.md5(F.array_join("c", " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

CTX = 256          # tokens per training pack
PACK_BUCKET = 64   # doc_ids per prefix-sum bucket (small here so the
                   # two-level path is genuinely exercised at sf0.001)

_PACK_DUCK = f"""
WITH counted AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens
    FROM documents
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens
            AS BIGINT) AS start_tok,
       CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // {CTX}
            AS BIGINT) AS pack_id,
       CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) % {CTX}
            AS BIGINT) AS pack_offset
FROM counted
"""


@register("sample_pack_sequences", _PACK_DUCK)
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: documents are concatenated
    in doc_id order into one logical token stream cut into CTX-token
    packs; each doc reports its global token offset, the pack its
    first token lands in, and its offset inside that pack.

    The offset is an EXCLUSIVE prefix sum over the corpus — the
    one-line `SUM() OVER (ORDER BY doc_id)` formulation (which the
    DuckDB oracle uses, single-node engines don't care) would funnel
    10^12 rows through ONE window task on Spark. This implementation
    is the distributed two-level prefix sum instead: (1) exclusive
    cumsum within each doc_id-range bucket — the window partitions on
    bucket, so tasks stay bounded; (2) bucket totals via one tiny
    aggregation; (3) exclusive cumsum over the bucket-totals table
    (bucket-count rows, vocabulary-small; nest another level at
    10^12 docs); (4) broadcast join adds each bucket's offset back.
    No stage ever sees more than a bucket in one window frame.
    Integer-exact throughout — full value oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counted = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
        (F.col("doc_id") / PACK_BUCKET).cast("long").alias("bucket"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = counted.withColumn(
        "local_start", F.sum("n_tokens").over(w_in) - F.col("n_tokens")
    )
    totals = counted.groupBy("bucket").agg(
        F.sum("n_tokens").alias("btot")
    )
    w_b = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "boffset", F.sum("btot").over(w_b) - F.col("btot")
    ).select("bucket", "boffset")
    start = F.col("boffset") + F.col("local_start")
    return (
        within.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "n_tokens",
            start.alias("start_tok"),
            F.expr(f"(boffset + local_start) div {CTX}").alias("pack_id"),
            F.pmod(start, F.lit(CTX)).cast("long").alias("pack_offset"),
        )
    )


# ---------------------------------------------------------------------------
# temperature-based language mixing weights
# ---------------------------------------------------------------------------

MIX_PPM = 1_000_000

# alpha = 0.5 temperature sampling (the multilingual-pretraining mix
# rule: w_l ∝ n_l^alpha flattens head languages, upsamples the tail).
# sqrt is the one non-integer step; floor(sqrt(bigint)) is engine-exact
# because IEEE sqrt is correctly rounded and n_l << 2^52, so both
# engines land on the same integer — every downstream ratio is then
# pure integer arithmetic.
_MIX_DUCK = f"""
WITH counts AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                AS BIGINT) AS n_tokens
    FROM documents GROUP BY lang
),
s AS (
    SELECT *, CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS sqrt_docs
    FROM counts
)
SELECT lang, n_docs, n_tokens, sqrt_docs,
       CAST(({MIX_PPM} * sqrt_docs) // (SELECT sum(sqrt_docs) FROM s)
            AS BIGINT) AS w_ppm,
       CAST(({MIX_PPM} * n_docs) // (SELECT sum(n_docs) FROM s)
            AS BIGINT) AS prop_ppm,
       ({MIX_PPM} * sqrt_docs) // (SELECT sum(sqrt_docs) FROM s)
           > ({MIX_PPM} * n_docs) // (SELECT sum(n_docs) FROM s)
           AS upsampled
FROM s
"""


@register("sample_mix_weights", _MIX_DUCK)
def sample_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing weights (alpha = 0.5): per
    language, the corpus share a pretraining dataloader should draw —
    w_l ∝ sqrt(n_l), ppm-scaled — next to the proportional share, and
    whether the language is upsampled by the temperature (tail
    languages are, head languages aren't). Feeds sample_stratified's
    per-language keep rates from measured corpus stats instead of
    constants.

    Scale shape: one groupBy(lang) with map-side partial aggregation
    (the exchange carries one row per language), then a broadcast of
    the language-sized totals back — the second aggregate is over a
    dim that is ~10^2 rows at ANY corpus size. Integer-exact end to
    end (floor(sqrt) both engines, integer div), so FULL oracle."""
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
        .cast("long")
        .alias("n_tokens"),
    )
    s = counts.withColumn(
        "sqrt_docs", F.floor(F.sqrt(F.col("n_docs").cast("double")))
    )
    totals = s.agg(
        F.sum("sqrt_docs").alias("tot_sqrt"), F.sum("n_docs").alias("tot_docs")
    )
    return (
        s.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "sqrt_docs",
            F.expr(f"({MIX_PPM} * sqrt_docs) div tot_sqrt").alias("w_ppm"),
            F.expr(f"({MIX_PPM} * n_docs) div tot_docs").alias("prop_ppm"),
            (
                F.expr(f"({MIX_PPM} * sqrt_docs) div tot_sqrt")
                > F.expr(f"({MIX_PPM} * n_docs) div tot_docs")
            ).alias("upsampled"),
        )
    )


# ---------------------------------------------------------------------------
# apply the temperature mix as deterministic downsampling
# ---------------------------------------------------------------------------

# keep_ppm = min(1e6, floor(1e6 * sqrt_l * tot_docs / (tot_sqrt * n_l)))
# — the downsample factor that moves the corpus from its proportional
# shares to the alpha=0.5 temperature shares (upsampled tail languages
# cap at 1e6: a filter can only drop). The single-expression numerator
# fits BIGINT through ~10^9 docs/lang at test scales; at 10^12 docs
# promote it to DECIMAL(38,0) or split the division (noted, not
# needed here).
_MIX_APPLY_DUCK = f"""
WITH counts AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
    GROUP BY lang
),
s AS (
    SELECT lang, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS sqrt_docs
    FROM counts
),
rates AS (
    SELECT lang, n_docs,
           least({MIX_PPM},
                 ({MIX_PPM} * sqrt_docs * (SELECT sum(n_docs) FROM s))
                     // ((SELECT sum(sqrt_docs) FROM s) * n_docs))
               AS keep_ppm
    FROM s
),
kept AS (
    SELECT d.lang, d.doc_id, r.keep_ppm, r.n_docs
    FROM documents d JOIN rates r USING (lang)
    WHERE {PHASH('d.doc_id')} % {MIX_PPM} < r.keep_ppm
)
SELECT lang,
       CAST(any_value(n_docs) AS BIGINT) AS n_in,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(any_value(keep_ppm) AS BIGINT) AS keep_ppm,
       CAST(sum(doc_id) AS BIGINT) AS sum_kept_doc_id
FROM kept GROUP BY lang
"""


@register("curate_mix_apply", _MIX_APPLY_DUCK)
def curate_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sample_mix_weights applied end-to-end: per-language keep rates
    derived from the measured corpus (downsample head languages toward
    the alpha=0.5 temperature mix; tail languages cap at keep-all),
    then the deterministic portable-hash filter — the same sample at
    any parallelism, partitioning, or engine. Returns the per-language
    audit row (input size, survivors, rate, kept-id checksum).

    Scale shape: one groupBy(lang) for the stats (language-sized), the
    rates broadcast back onto the corpus (an explicit broadcast join —
    the dim is ~10^2 rows at ANY corpus size), one map-only filter,
    one final language-sized aggregate. No shuffle touches the corpus
    except the terminal per-lang rollup of survivors. FULL oracle:
    DuckDB re-derives the rates and re-applies the identical hash
    threshold."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    s = counts.withColumn(
        "sqrt_docs", F.floor(F.sqrt(F.col("n_docs").cast("double")))
    )
    totals = s.agg(
        F.sum("sqrt_docs").alias("tot_sqrt"), F.sum("n_docs").alias("tot_docs")
    )
    rates = s.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(MIX_PPM),
            F.expr(f"({MIX_PPM} * sqrt_docs * tot_docs) div (tot_sqrt * n_docs)"),
        ).alias("keep_ppm"),
    )
    kept = docs.join(F.broadcast(rates), "lang").where(
        F.pmod(phash_col(F.col("doc_id")), F.lit(MIX_PPM)) < F.col("keep_ppm")
    )
    return kept.groupBy("lang").agg(
        F.first("n_docs").alias("n_in"),
        F.count(F.lit(1)).alias("n_kept"),
        F.first("keep_ppm").alias("keep_ppm"),
        F.sum("doc_id").cast("long").alias("sum_kept_doc_id"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: distributed pair counting + one merge step
# ---------------------------------------------------------------------------

_BPE_PAIRS_SQL = """
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT substr(w, i, 2) AS pair
        FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
        WHERE length(w) >= 2
    )
    SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair
"""


@register("bpe_pair_counts", _BPE_PAIRS_SQL)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training, distributed:
    frequency of every adjacent character pair across all corpus
    words (occurrence-weighted — each word occurrence counts). The
    argmax of this table is the next merge; iterating
    count→merge→count is exactly how a tokenizer trains over 100 TB
    without ever centralizing the corpus.

    Shape: split/explode are map-side; ONE groupBy on the pair key
    (alphabet², tiny) with map-side combine does all the reduction —
    the shuffle carries at most |alphabet|² rows per task, not the
    corpus. Guard that matters: Spark's sequence(1, n) with n < 1
    generates a DESCENDING sequence rather than an empty one, so
    single-char words must be filtered BEFORE the sequence is built.
    FULL oracle: DuckDB recounts from scratch."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))


_BPE_MERGE_SQL = f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT substr(w, i, 2) AS pair
        FROM words, unnest(generate_series(1, length(w) - 1)) AS t(i)
        WHERE length(w) >= 2
    ),
    counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair),
    top AS (
        SELECT pair FROM counts ORDER BY n DESC, pair LIMIT 1
    )
    SELECT d.doc_id,
           t.pair AS merged_pair,
           md5(replace(d.text, t.pair, '⊕')) AS merged_md5,
           CAST(
               (length(d.text) - length(replace(d.text, t.pair, ''))) / 2
               AS BIGINT
           ) AS n_replaced
    FROM documents d CROSS JOIN top t
"""


@register("bpe_apply_merge", _BPE_MERGE_SQL)
def bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge step applied corpus-wide: take the argmax pair
    from bpe_pair_counts (deterministic tie-break: count desc, then
    pair) and fuse every left-to-right non-overlapping occurrence
    into a single symbol (⊕). Emits per-doc merged-text md5 and the
    replacement count, so the whole rewritten corpus is value-pinned.

    The 1-row argmax crosses back onto the corpus as a broadcast
    nested-loop join (both engines replace left-to-right
    non-overlapping, so 'aaa' with pair 'aa' fuses once — semantics
    agree). Count+argmax is one tiny agg; the rewrite is map-only.
    FULL oracle: DuckDB repeats count, argmax, and rewrite."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counts = bpe_pair_counts(spark, sf_dir)
    top = counts.orderBy(F.desc("n"), F.asc("pair")).limit(1).select("pair")
    joined = docs.crossJoin(F.broadcast(top))
    merged = F.replace(F.col("text"), F.col("pair"), F.lit("⊕"))
    n_replaced = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.col("pair"), F.lit(""))))
        / 2
    ).cast("long")
    return joined.select(
        "doc_id",
        F.col("pair").alias("merged_pair"),
        F.md5(merged).alias("merged_md5"),
        n_replaced.alias("n_replaced"),
    )
