"""Web-corpus quality operators, second batch (round 3): C4-style
line filtering, Unicode NFC normalization, and TF-IDF top terms.

SURVEY.md §2 LLM-pipeline ops are first-class catalog entries:

- **Line filtering** — the C4 recipe: split a page into lines, keep
  only lines that end in terminal punctuation, have a minimum word
  count, and don't match a boilerplate blocklist ("enable
  javascript…"); pages are then re-assembled from surviving lines.
- **Unicode normalization** — web text arrives in mixed normal forms
  (decomposed accents from mac filesystems, composed from editors);
  every serious pipeline canonicalizes to NFC before hashing or
  tokenizing, otherwise byte-level dedup misses visually-identical
  text.
- **TF-IDF top terms** — the classic per-document keyword extraction:
  term frequency re-weighted by global document frequency, top-k per
  doc with a deterministic total-order tie-break.

`documents.text` is space-separated tokens with no newlines or
punctuation (TESTDATA.md), so the messy input (line breaks, missing
punctuation, boilerplate lines, decomposed accents) is synthesized
DETERMINISTICALLY from doc_id, letting the DuckDB oracle rebuild the
byte-identical input and re-apply the identical rules.

Scale notes (100 TB / 1000 executors):

- `text_line_filter` is map-only: one `transform` builds the line
  array, one `filter` applies the rules, no explode, no shuffle —
  whole-stage codegen end to end.
- `text_normalize_unicode` is the ONE operator here that needs
  Python (the JVM has no NFC builtin): a vectorized
  `Series.str.normalize("NFC")` pandas UDF — Arrow-batched, map-only,
  no shuffle; at 10^12 rows it scales linearly with executors.
- `text_tfidf_topterms` shuffles twice by necessity (per-(doc,term)
  tf, then per-term df) — both hash aggregations partial-aggregate
  map-side. The df side is vocabulary-sized (≪ corpus), so AQE
  broadcasts the join back; the final top-k window repartitions by
  doc_id only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .relational import QuerySpec, register
from .text import STOPWORDS as _GOPHER_STOPWORDS

CATALOG: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# C4-style line filtering
# ---------------------------------------------------------------------------

LINE_TOKENS = 6     # tokens per synthesized line
MIN_LINE_WORDS = 5  # C4 keeps lines with >= 5 words
BOILER = "please enable javascript and cookies to continue"
_BP_MOD = 5         # every 5th (doc_id+i) line is boilerplate
_NOPUNCT_MOD = 7    # every 7th lacks terminal punctuation

# Synthesis: the token array is re-lined into LINE_TOKENS-token lines;
# line i of doc d becomes boilerplate when (d+i)%5==0, else it keeps
# its text and gains a terminal '.' unless (d+i)%7==0. The final line
# is naturally short (< MIN_LINE_WORDS) for most docs, exercising the
# word-count rule organically. Keep rule (C4): terminal '.', >= 5
# words, no 'javascript' in the line.

_LINE_DUCK = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
    FROM documents
),
lined AS (
    SELECT doc_id,
           list_transform(
               range(0, (len(l) + {LINE_TOKENS - 1}) // {LINE_TOKENS}),
               i -> CASE WHEN (doc_id + i) % {_BP_MOD} = 0
                         THEN '{BOILER}.'
                         ELSE array_to_string(
                                  l[i * {LINE_TOKENS} + 1 :
                                    i * {LINE_TOKENS} + {LINE_TOKENS}], ' ')
                              || CASE WHEN (doc_id + i) % {_NOPUNCT_MOD} = 0
                                      THEN '' ELSE '.' END
                    END) AS ls
    FROM toks
),
kept AS (
    SELECT doc_id, len(ls) AS n_lines,
           list_filter(ls, ln -> ends_with(ln, '.')
                                 AND len(string_split(ln, ' '))
                                     >= {MIN_LINE_WORDS}
                                 AND NOT contains(ln, 'javascript')) AS ks
    FROM lined
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(len(ks) AS BIGINT) AS n_kept,
       -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
       -- array_join([]) is '' — pin the empty page to md5('')
       md5(coalesce(array_to_string(ks, chr(10)), '')) AS kept_md5
FROM kept
"""


@register("text_line_filter", _LINE_DUCK)
def text_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line filtering: pages are split into lines
    (synthesized deterministically from doc_id — boilerplate lines,
    missing terminal punctuation, and a short trailing line are all
    planted so every rule fires at any sf), lines failing the keep
    rules (terminal '.', >= 5 words, no 'javascript') are dropped,
    and the surviving page is re-assembled in order (md5-digested).

    Map-only plan: one `transform` builds the line array, one
    `filter` applies the rules — no explode, no shuffle, whole-stage
    codegen end to end; at 10^12 pages this is a pure scan-side pass.
    FULL oracle: DuckDB re-synthesizes the identical lines and
    re-applies the identical rules."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("l")
    )
    # size(l) >= 1 always (split('') == ['']), so nlines >= 1 and the
    # sequence below never runs backwards.
    nlines = F.expr(f"(size(l) + {LINE_TOKENS - 1}) div {LINE_TOKENS}")
    d = F.col("doc_id")
    lines = F.transform(
        F.sequence(F.lit(0), nlines - 1),
        lambda i: F.when(
            (d + i) % _BP_MOD == 0, F.lit(BOILER + ".")
        ).otherwise(
            F.concat(
                F.array_join(
                    F.slice("l", i * LINE_TOKENS + 1, LINE_TOKENS), " "
                ),
                F.when((d + i) % _NOPUNCT_MOD == 0, F.lit("")).otherwise(
                    F.lit(".")
                ),
            )
        ),
    )
    kept = F.filter(
        lines,
        lambda ln: ln.endswith(".")
        & (F.size(F.split(ln, " ", -1)) >= MIN_LINE_WORDS)
        & ~ln.contains("javascript"),
    )
    return toks.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, "\n")).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# Unicode NFC normalization
# ---------------------------------------------------------------------------

# Decomposed (NFD-ish) and composed twins — kept as explicit escapes
# so the source file stays ASCII. DuckDB's nfc_normalize and Python's
# unicodedata.normalize('NFC', ...) agree byte-for-byte (verified in
# tests), which is what makes the md5 oracle possible.
DECOMPOSED = "cafe\u0301 u\u0308ber re\u0301sume\u0301"
COMPOSED = "caf\u00e9 \u00fcber r\u00e9sum\u00e9"  # == NFC(DECOMPOSED)

_NFC_DUCK = f"""
WITH dirty AS (
    SELECT doc_id,
           text || CASE WHEN doc_id % 3 = 0 THEN ' {DECOMPOSED}'
                        WHEN doc_id % 3 = 1 THEN ' {COMPOSED}'
                        ELSE '' END AS t
    FROM documents
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS n_cp_dirty,
       CAST(length(nfc_normalize(t)) AS BIGINT) AS n_cp_norm,
       nfc_normalize(t) <> t AS changed,
       md5(nfc_normalize(t)) AS norm_md5
FROM dirty
"""


def _nfc_udf():
    # Built lazily: F.pandas_udf needs an active SparkSession, so a
    # module-level decorator would break catalog import order.
    def _nfc(s: pd.Series) -> pd.Series:
        # Vectorized NFC — pandas' .str.normalize wraps unicodedata
        # per block without a Python-level row loop.
        return s.str.normalize("NFC")

    return F.pandas_udf(_nfc, "string")


@register("text_normalize_unicode", _NFC_DUCK)
def text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization pass run
    before any hashing/dedup so that composed and decomposed accent
    sequences (visually identical, byte-different) collapse. Mixed
    normal forms are injected deterministically from doc_id: every
    3rd doc gains decomposed accents (changed=true under NFC), the
    next gets the composed twin (already NFC), the rest stay ASCII.

    The JVM has no NFC builtin, so this is the designed slow-path
    shape: ONE Arrow-batched vectorized pandas UDF
    (`Series.str.normalize`), map-only, no shuffle — the codepoint
    counts and changed flag are JVM-side. FULL oracle: DuckDB
    injects the same text and normalizes with `nfc_normalize` (agrees
    byte-for-byte with Python's unicodedata; md5 pins it)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 3 == 0, F.lit(" " + DECOMPOSED))
            .when(F.col("doc_id") % 3 == 1, F.lit(" " + COMPOSED))
            .otherwise(F.lit("")),
        ).alias("t"),
    )
    norm = _nfc_udf()(F.col("t"))
    return dirty.select(
        "doc_id",
        F.length("t").cast("long").alias("n_cp_dirty"),
        F.length(norm).cast("long").alias("n_cp_norm"),
        (norm != F.col("t")).alias("changed"),
        F.md5(norm).alias("norm_md5"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

TOPK_TERMS = 3

_TFIDF_DUCK = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
),
df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY term
),
ranked AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           row_number() OVER (PARTITION BY tf.doc_id
                              ORDER BY tf.tf DESC, df.df ASC, tf.term ASC)
               AS rank
    FROM tf JOIN df USING (term)
)
SELECT doc_id, term,
       CAST(tf AS BIGINT) AS tf,
       CAST(df AS BIGINT) AS df,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOPK_TERMS}
"""


@register("text_tfidf_topterms", _TFIDF_DUCK)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: top-3 terms per doc
    ranked by term frequency, with global document frequency as the
    idf-style tie-break (rarer wins) and the term string as the final
    deterministic tie-break — an integer-only total order, so the
    result is engine-exact with no float idf anywhere.

    Scale shape: explode → per-(doc,term) tf (map-side combine
    collapses within-split duplicates BEFORE the exchange, so the
    shuffle carries distinct doc-term rows, not token counts) →
    per-term df over the already-collapsed tf table (vocabulary-sized
    output). The df⋈tf join back is vocabulary-vs-corpus — AQE
    broadcasts the small side at any realistic vocabulary. The final
    top-k is one window partitioned by doc_id. FULL oracle: DuckDB
    re-derives tf/df and ranks with the identical total order."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.desc("tf"), F.asc("df"), F.asc("term"))
    )
    return (
        tf.join(df_, "term")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOPK_TERMS)
        .select("doc_id", "term", "tf", "df", F.col("rank").cast("long").alias("rank"))
    )


# ---------------------------------------------------------------------------
# Corpus-level token rarity score
# ---------------------------------------------------------------------------

RARE_MAX = 3  # a token with corpus-wide count <= this is "rare"

# The synthetic corpus has a 31-token vocabulary with every token
# appearing ≥26 times at any sf, so the rare/hapax branches would be
# dead code against raw `text`. Rare tokens are therefore planted
# deterministically from doc_id: every 7th doc gains a doc-unique token `xh<doc_id>` (a hapax,
# gcnt=1) and every 5th gains `xr<doc_id div 10>` — multiples of 5
# within a div-10 block are exactly {10k, 10k+5}, so each xr token has
# gcnt exactly 2 ≤ RARE_MAX at every sf.

_RARITY_DUCK = f"""
WITH dirty AS (
    SELECT doc_id,
           trim(text)
           || CASE WHEN doc_id % 7 = 0 THEN ' xh' || doc_id ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' xr' || (doc_id // 10)
                   ELSE '' END AS t
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(string_split_regex(t, '\\s+')) AS term FROM dirty
),
gtf AS (
    SELECT term, count(*) AS gcnt FROM toks GROUP BY term
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN gcnt <= {RARE_MAX} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_rare,
       CAST(sum(CASE WHEN gcnt = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hapax,
       CAST(min(gcnt) AS BIGINT) AS min_gcnt,
       CAST((1000000 * sum(CASE WHEN gcnt <= {RARE_MAX} THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS rarity_ppm
FROM toks JOIN gtf USING (term)
GROUP BY doc_id
"""


def rarity_dirty_text(doc_id, text):
    """The planted-rare-token synthesis as Columns (shared by the
    operator and its tests)."""
    return F.concat(
        F.trim(text),
        F.when(doc_id % 7 == 0, F.concat(F.lit(" xh"), doc_id)).otherwise(
            F.lit("")
        ),
        F.when(
            doc_id % 5 == 0,
            F.concat(F.lit(" xr"), (doc_id / 10).cast("long")),
        ).otherwise(F.lit("")),
    )


@register("text_rarity_score", _RARITY_DUCK)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token rarity per document — the integer-exact
    proxy for CCNet's LM-perplexity bucket: documents dominated by
    corpus-rare tokens (gibberish, boilerplate hashes, OCR noise)
    score high and get routed to the low-quality bucket. A float LM
    score can't be cross-engine exact; occurrence counts against the
    corpus-wide unigram table can, so the driver gets a full value
    hash (rarity_ppm uses integer div — both engines truncate).

    Scale shape: explode → corpus-wide unigram counts (map-side
    partial agg collapses within-split duplicates, the exchange
    carries the vocabulary, not the token stream) → join back
    (vocabulary vs corpus: AQE broadcasts the counts side at any
    realistic vocabulary) → one groupBy(doc_id). The unigram table is
    the reusable artifact — at 100 TB it is computed once and
    broadcast to every downstream quality pass."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.split(rarity_dirty_text(F.col("doc_id"), F.col("text")), r"\s+")
        ).alias("term"),
    )
    gtf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("gcnt"))
    rare = F.when(F.col("gcnt") <= RARE_MAX, 1).otherwise(0)
    return (
        toks.join(gtf, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(rare).alias("n_rare"),
            F.sum(F.when(F.col("gcnt") == 1, 1).otherwise(0)).alias(
                "n_hapax"
            ),
            F.min("gcnt").alias("min_gcnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_rare",
            "n_hapax",
            "min_gcnt",
            F.expr("(1000000 * n_rare) div n_tokens").alias("rarity_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-rules composite quality filter
# ---------------------------------------------------------------------------

# Gopher's document-level quality rules (Rae et al. 2021, table A1),
# integer-scaled so the verdict is engine-exact: word-count bounds,
# mean-word-length bounds (x100), symbol-to-word ratio, fraction of
# words with no alphabetic character, and a minimum stopword count.
# documents.text is a clean 31-token vocabulary (TESTDATA.md), so the
# symbol / non-alpha / long-token branches would be dead code against
# raw text — the violations are PLANTED deterministically from doc_id
# (the text_rarity_score lesson: a rule that never fires hides a twin
# bug). First-match-wins per token, mirrored exactly in the oracle:
#   1. doc_id % 37 == 0             -> first char only    (mwl < 3.0)
#   2. doc_id % 31 == 0, token 0    -> repeat('x', 600)   (mwl > 10.0)
#   3. doc_id % 29 == 0, i % 3 == 0 -> str(i)             (non-alpha > 0.2)
#   4. doc_id % 41 == 0, i % 2 == 0 -> token || '#'       (symbol > 0.1)
#   5. (doc_id + i) % 17 == 0       -> token || '#'       (sparse symbol)
#   6. (doc_id + i) % 7  == 0       -> str(i)             (sparse non-alpha)
# (1-4 are whole-doc blowouts on distinct doc classes; 5-6 are the
# sparse per-token noise every doc carries. Without 1/3/4 the
# mwl-lower-bound, non-alpha and symbol rules were DEAD at the test
# scales — measured at sf0.001 and sf0.01.)
_STOP_IN = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_LO_X100 = 300   # mean word length in [3.0, 10.0]
GOPHER_MWL_HI_X100 = 1000
_SHORTDOC_MOD = 37
_LONGTOK_MOD = 31
_NUMDOC_MOD = 29
_SYMDOC_MOD = 41
_SYM_MOD = 17
_NONALPHA_MOD = 7
GOPHER_STOP_MIN = 2

_GOPHER_DUCK = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
    FROM documents
),
planted AS (
    SELECT doc_id,
           list_transform(range(0, len(l)), i -> CASE
               WHEN doc_id % {_SHORTDOC_MOD} = 0 THEN l[i + 1][1:1]
               WHEN doc_id % {_LONGTOK_MOD} = 0 AND i = 0
                   THEN repeat('x', 600)
               WHEN doc_id % {_NUMDOC_MOD} = 0 AND i % 3 = 0
                   THEN CAST(i AS VARCHAR)
               WHEN doc_id % {_SYMDOC_MOD} = 0 AND i % 2 = 0
                   THEN l[i + 1] || '#'
               WHEN (doc_id + i) % {_SYM_MOD} = 0 THEN l[i + 1] || '#'
               WHEN (doc_id + i) % {_NONALPHA_MOD} = 0
                   THEN CAST(i AS VARCHAR)
               ELSE l[i + 1] END) AS ts
    FROM toks
),
m AS (
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(ts, t -> length(t)))
                AS BIGINT) AS sum_len,
           CAST(len(list_filter(ts, t -> contains(t, '#')))
                AS BIGINT) AS n_symbol,
           CAST(len(list_filter(ts, t -> NOT regexp_matches(t, '[a-z]')))
                AS BIGINT) AS n_nonalpha,
           CAST(len(list_filter(ts, t -> t IN ({_STOP_IN})))
                AS BIGINT) AS n_stop
    FROM planted
)
SELECT doc_id, n_words,
       (sum_len * 100) // n_words AS mwl_x100,
       n_symbol, n_nonalpha, n_stop,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND (sum_len * 100) // n_words
            BETWEEN {GOPHER_MWL_LO_X100} AND {GOPHER_MWL_HI_X100}
        AND n_symbol * 10 <= n_words
        AND n_nonalpha * 5 < n_words
        AND n_stop >= {GOPHER_STOP_MIN}) AS keep
FROM m
"""


@register("gopher_quality_filter", _GOPHER_DUCK)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules composite document filter: word-count bounds,
    mean word length in [3,10] (x100 integer), symbol-to-word ratio
    <= 0.1, non-alphabetic word fraction < 0.2, and >= 2 stopwords —
    the doc-level complement to the line-level C4 recipe above. Every
    rule fires at any sf: the word-count and stopword rules trip
    organically (docs span 10-99 tokens), the symbol / non-alpha /
    mean-length violations are planted deterministically from doc_id.

    Map-only plan: one zip_with plants the violations, the metrics
    are array HOF aggregates (aggregate/filter/size) — no explode, no
    shuffle, whole-stage codegen end to end; at 10^12 pages this is a
    pure scan-side pass emitting one verdict row per document. FULL
    oracle: DuckDB re-plants and re-measures with identical integer
    arithmetic (// and div both truncate toward zero on BIGINT)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("l")
    )
    idx = F.sequence(F.lit(0), F.size("l") - 1)
    ts = F.zip_with(
        F.col("l"),
        idx,
        lambda t, i: F.when(d % _SHORTDOC_MOD == 0, t.substr(1, 1))
        .when((d % _LONGTOK_MOD == 0) & (i == 0), F.lit("x" * 600))
        .when((d % _NUMDOC_MOD == 0) & (i % 3 == 0), i.cast("string"))
        .when((d % _SYMDOC_MOD == 0) & (i % 2 == 0), F.concat(t, F.lit("#")))
        .when((d + i) % _SYM_MOD == 0, F.concat(t, F.lit("#")))
        .when((d + i) % _NONALPHA_MOD == 0, i.cast("string"))
        .otherwise(t),
    )
    m = toks.select(
        "doc_id",
        F.size(ts).cast("long").alias("n_words"),
        F.aggregate(
            ts, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("sum_len"),
        F.size(F.filter(ts, lambda t: t.contains("#")))
        .cast("long")
        .alias("n_symbol"),
        F.size(F.filter(ts, lambda t: ~t.rlike("[a-z]")))
        .cast("long")
        .alias("n_nonalpha"),
        F.size(F.filter(ts, lambda t: t.isin(*_GOPHER_STOPWORDS)))
        .cast("long")
        .alias("n_stop"),
    )
    mwl = F.expr("(sum_len * 100) div n_words")
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mwl.between(GOPHER_MWL_LO_X100, GOPHER_MWL_HI_X100)
        & (F.col("n_symbol") * 10 <= F.col("n_words"))
        & (F.col("n_nonalpha") * 5 < F.col("n_words"))
        & (F.col("n_stop") >= GOPHER_STOP_MIN)
    )
    return m.select(
        "doc_id",
        "n_words",
        mwl.alias("mwl_x100"),
        "n_symbol",
        "n_nonalpha",
        "n_stop",
        keep.alias("keep"),
    )
