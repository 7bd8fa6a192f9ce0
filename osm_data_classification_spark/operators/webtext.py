"""Web-corpus curation operators (round 3): URL canonicalization,
Gopher-style repetition metrics, and CCNet-style global paragraph
dedup.

The north-star payload is Common-Crawl web text (BASELINE.json:15);
these are the curation passes a production training-data pipeline runs
between extraction and dedup:

- **URL canonicalization** — crawl frontiers and URL-level dedup both
  key on a canonical URL, not the raw one (scheme/host case, default
  ports, `www.`, tracking params, fragments all vary between crawls of
  the same page).
- **Repetition metrics** — the Gopher/"quality signals" family:
  fraction of duplicated n-grams and the share of the most common
  n-gram, used to drop boilerplate-heavy and degenerate pages.
- **Global paragraph dedup** — CCNet removes paragraphs whose hash is
  shared across the corpus (boilerplate: nav bars, cookie banners),
  keeping only globally-unique content per document.

All three are Catalyst-native (split / transform / explode / groupBy —
no Python in any plan) and carry FULL DuckDB value oracles. Ratios are
integer-scaled (operators/portable.py) so values are engine-exact.

Scale notes (100 TB / 1000 executors):

- `url_canonicalize` is a pure projection — no shuffle, whole-stage
  codegen end to end.
- `text_repetition_metrics` is explode → two-level groupBy keyed by
  (doc_id, bigram) then (doc_id): both aggregations partial-aggregate
  map-side, and because every bigram row of a document lives in the
  same input split, the first combine collapses the fan-out BEFORE the
  exchange — the shuffle carries ~distinct-bigrams-per-doc rows, not
  token counts.
- `dedup_paragraph_global` is the scale-correct CCNet shape: one
  groupBy on the 60-bit chunk hash (the global frequency table), one
  equi-join back (hash-partitioned both sides, no broadcast of
  anything data-sized), one per-doc re-aggregation. Nothing pairwise,
  nothing collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .portable import PHASH, phash_col
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

# One regex, shared verbatim by both engines (the pattern stays inside
# the Java-regex ∩ RE2 common subset: no backrefs, no lookaround).
_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/:?#]+)(:[0-9]+)?([^?#]*)(\?[^#]*)?(#.*)?$"


def canonical_url_cols(url):
    """Decompose + canonicalize a URL with pure JVM expressions.

    Rules (the standard crawl-frontier set): lowercase scheme and
    host, strip a leading ``www.``, drop default ports (http:80 /
    https:443), strip a trailing slash from a non-root path, drop
    every ``utm_*`` tracking parameter (and the ``?`` itself if none
    survive), drop the fragment. Returns (host, canon) columns.
    """
    scheme = F.lower(F.regexp_extract(url, _URL_RE, 1))
    raw_host = F.lower(F.regexp_extract(url, _URL_RE, 2))
    host = F.regexp_replace(raw_host, r"^www\.", "")
    port = F.regexp_extract(url, _URL_RE, 3)  # ':443' or ''
    path = F.regexp_extract(url, _URL_RE, 4)
    query = F.regexp_extract(url, _URL_RE, 5)  # '?a=1&utm_x=2' or ''

    keep_port = F.when(
        ((scheme == "https") & (port == ":443"))
        | ((scheme == "http") & (port == ":80"))
        | (port == ""),
        F.lit(""),
    ).otherwise(port)
    norm_path = F.when(path == "", F.lit("/")).otherwise(
        F.regexp_replace(path, r"(.)/$", r"$1")
    )
    params = F.filter(
        F.split(F.regexp_replace(query, r"^\?", ""), "&"),
        lambda p: (p != "") & ~p.startswith("utm_"),
    )
    norm_query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))

    canon = F.concat(scheme, F.lit("://"), host, keep_port, norm_path, norm_query)
    # junk that isn't a URL (real crawl frontiers always contain some)
    # must canonicalize to NULL, not a degenerate ':///' string — the
    # caller drops or quarantines NULLs explicitly
    is_url = url.rlike(_URL_RE)
    return (
        F.when(is_url, host),
        F.when(is_url, canon),
    )


# The messy variants are synthesized deterministically from doc_id so
# the oracle can rebuild byte-identical input — four rotating fault
# families: case noise, default port, utm params, fragment (doc_id%16
# picks a combination; every fault class is exercised at any sf).
# `base` is the id the CANONICAL url is built from: url_canonicalize
# uses doc_id itself (one page per doc), dedup_url_canonical uses
# doc_id div 4 (four noisy raw variants per canonical page).


def _messy_sql(str_ty: str, base: str = "doc_id") -> str:
    return f"""
concat(
  CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END,
  '://',
  CASE WHEN doc_id % 4 < 2 THEN 'www.' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN 'site' ELSE 'SiTe' END,
  CAST(({base}) % 97 AS {str_ty}),
  '.example',
  CASE WHEN doc_id % 8 < 4 THEN ':443' ELSE '' END,
  '/Docs/', CAST({base} AS {str_ty}),
  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
  '?id=', CAST({base} AS {str_ty}),
  CASE WHEN doc_id % 16 < 8 THEN '&utm_source=feed&utm_campaign=x' ELSE '' END,
  CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END
)
"""


_MESSY_SPARK = _messy_sql("STRING")
_MESSY_DUCK = _messy_sql("VARCHAR")

# DuckDB twin of canonical_url_cols — same regex, same rules. The
# WITH body is shared by url_canonicalize and dedup_url_canonical
# (different messy synthesis, same normalization pipeline).
def _canon_duck_cte(messy: str) -> str:
    return f"""
raw AS (
    SELECT doc_id, {messy} AS url_raw FROM documents
),
parts AS (
    SELECT doc_id, url_raw,
           lower(regexp_extract(url_raw, '{_URL_RE}', 1)) AS scheme,
           regexp_replace(lower(regexp_extract(url_raw, '{_URL_RE}', 2)),
                          '^www\\.', '') AS host,
           regexp_extract(url_raw, '{_URL_RE}', 3) AS port,
           regexp_extract(url_raw, '{_URL_RE}', 4) AS path,
           regexp_extract(url_raw, '{_URL_RE}', 5) AS query
    FROM raw
),
norm AS (
    SELECT doc_id, url_raw,
           -- non-URL junk canonicalizes to NULL (Spark twin: rlike gate)
           CASE WHEN regexp_matches(url_raw, '{_URL_RE}')
                THEN host END AS host,
           CASE WHEN regexp_matches(url_raw, '{_URL_RE}') THEN
           scheme || '://' || host ||
           CASE WHEN (scheme = 'https' AND port = ':443')
                  OR (scheme = 'http' AND port = ':80')
                  OR port = '' THEN '' ELSE port END ||
           CASE WHEN path = '' THEN '/'
                ELSE regexp_replace(path, '(.)/$', '\\1') END ||
           CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                ELSE '' END
           END AS url_canon
    FROM (
        SELECT *,
               list_filter(string_split(regexp_replace(query, '^\\?', ''), '&'),
                           p -> p <> '' AND NOT starts_with(p, 'utm_'))
                   AS kept
        FROM parts
    )
)"""


_CANON_DUCK = f"""
WITH {_canon_duck_cte(_MESSY_DUCK)}
SELECT doc_id, url_raw, host, url_canon FROM norm
"""


@register("url_canonicalize", _CANON_DUCK)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically-synthesized messy
    variants (case noise, `www.`, default ports, `utm_*` params,
    fragments — all derived from doc_id so the oracle rebuilds the
    exact input). Pure projection: at 10^12 rows this is a map-only
    stage inside whole-stage codegen — no shuffle, no Python. FULL
    oracle: DuckDB re-synthesizes the messy URLs and re-applies the
    identical rule set."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    raw = docs.select("doc_id", F.expr(_MESSY_SPARK).alias("url_raw"))
    host, canon = canonical_url_cols(F.col("url_raw"))
    return raw.select(
        "doc_id", "url_raw", host.alias("host"), canon.alias("url_canon")
    )


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-style quality signals)
# ---------------------------------------------------------------------------

_REP_DUCK = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
),
big AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(l)),
                                 i -> l[i] || ' ' || l[i + 1])) AS bigram
    FROM toks WHERE len(l) >= 2
),
cnt AS (
    SELECT doc_id, bigram, count(*) AS c FROM big GROUP BY doc_id, bigram
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
       CAST((SUM(c - 1) * 1000) // SUM(c) AS BIGINT) AS dup_bigram_x1000,
       CAST((MAX(c) * 1000) // SUM(c) AS BIGINT) AS top_bigram_x1000
FROM cnt GROUP BY doc_id
"""


@register("text_repetition_metrics", _REP_DUCK)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-bigram
    fraction (occurrences beyond each bigram's first) and the share of
    the single most common bigram, both integer-scaled. Plan: bigrams
    built by one `transform` over the token array (no self-join),
    explode, then two hash aggregations — both partial-aggregate
    map-side, and the first combine runs before the exchange, so the
    shuffle carries distinct (doc, bigram) rows only. Docs with <2
    tokens are excluded in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    big = (
        docs.select("doc_id", toks.alias("l"))
        .where(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("l") - 2),
                    lambda i: F.concat_ws(
                        " ", F.element_at("l", i + 1), F.element_at("l", i + 2)
                    ),
                )
            ).alias("bigram"),
        )
    )
    cnt = big.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.expr("(sum(c - 1) * 1000) div sum(c)").alias("dup_bigram_x1000"),
        F.expr("(max(c) * 1000) div sum(c)").alias("top_bigram_x1000"),
    )


# ---------------------------------------------------------------------------
# global paragraph dedup (CCNet-style)
# ---------------------------------------------------------------------------

CHUNK = 8  # tokens per pseudo-paragraph (documents.text has no newlines)


def _para_duck() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(0, (len(l) + {CHUNK} - 1) // {CHUNK})) AS cpos,
               l
        FROM toks
    ),
    ctext AS (
        SELECT doc_id, cpos,
               array_to_string(l[cpos * {CHUNK} + 1 : cpos * {CHUNK} + {CHUNK}],
                               ' ') AS chunk_text
        FROM chunks
    ),
    freq AS (
        SELECT {PHASH('chunk_text')} AS h, count(*) AS n
        FROM ctext GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN f.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           -- coalesce: a doc with ZERO kept chunks must digest '' (the
           -- Spark side md5's an empty array_join), not NULL
           md5(coalesce(string_agg(CASE WHEN f.n = 1 THEN c.chunk_text END,
                                   ' ' ORDER BY c.cpos), '')) AS kept_md5
    FROM ctext c JOIN freq f ON {PHASH('c.chunk_text')} = f.h
    GROUP BY c.doc_id
    """


@register("dedup_paragraph_global", _para_duck())
def dedup_paragraph_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style global paragraph dedup: documents are segmented
    into fixed 8-token chunks (the paragraph stand-in — documents.text
    has no newlines), each chunk hashed with the portable 60-bit hash,
    chunks whose hash appears more than once ANYWHERE in the corpus
    are dropped, and the surviving text is re-assembled in original
    order (md5-digested for a compact, order-sensitive output).

    Scale shape: groupBy(chunk-hash) builds the global frequency
    table, an equi-join (hash-partitioned, no broadcast of anything
    data-sized) annotates every chunk, one per-doc aggregation
    re-assembles. This is exactly how boilerplate removal runs at
    corpus scale — no pairwise comparison anywhere. FULL oracle:
    DuckDB re-segments, re-hashes, and re-assembles; `string_agg(...
    ORDER BY cpos)` mirrors the sort_array(struct(cpos, text)) on the
    Spark side, and both engines skip dropped chunks (CASE → NULL /
    filtered array) so the digests match byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nchunks = F.expr(f"(size(l) + {CHUNK - 1}) div {CHUNK}")
    ctext = (
        docs.select("doc_id", toks.alias("l"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), nchunks - 1),
                    lambda c: F.array_join(
                        F.slice("l", c * CHUNK + 1, CHUNK), " "
                    ),
                )
            ).alias("cpos", "chunk_text"),
        )
    )
    freq = ctext.groupBy(phash_col(F.col("chunk_text")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    annotated = ctext.withColumn("h", phash_col(F.col("chunk_text"))).join(
        freq, "h"
    )
    kept_sorted = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("n") == 1, F.struct("cpos", "chunk_text")
                )
            )
        ),
        lambda s: s["chunk_text"],
    )
    return annotated.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(F.array_join(kept_sorted, " ")).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# URL-level dedup on the canonical form
# ---------------------------------------------------------------------------

_DEDUP_URL_DUCK = f"""
WITH {_canon_duck_cte(_messy_sql("VARCHAR", base="doc_id // 4"))}
SELECT url_canon,
       CAST(count(*) AS BIGINT) AS n_raw,
       CAST(count(DISTINCT url_raw) AS BIGINT) AS n_raw_distinct,
       CAST(min(doc_id) AS BIGINT) AS keep_doc
FROM norm GROUP BY url_canon
"""


@register("dedup_url_canonical", _DEDUP_URL_DUCK)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup keyed on the CANONICAL url — the crawl-frontier
    collapse step: four noisy raw variants per page (base id = doc_id
    div 4, noise from doc_id itself) must land in one group after
    normalization, keeping the smallest doc_id as the survivor. This
    is canonicalization feeding dedup end-to-end: a map-only
    normalize, then ONE hash-groupBy on url_canon — the same
    single-shuffle shape as dedup_exact, no pairwise comparison. FULL
    oracle: DuckDB re-synthesizes the same noisy variants and re-rolls
    the groups."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    messy = _messy_sql("STRING", base="doc_id div 4")
    raw = docs.select("doc_id", F.expr(messy).alias("url_raw"))
    _, canon = canonical_url_cols(F.col("url_raw"))
    return (
        raw.select("doc_id", "url_raw", canon.alias("url_canon"))
        .groupBy("url_canon")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("url_raw").alias("n_raw_distinct"),
            F.min("doc_id").alias("keep_doc"),
        )
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Java-regex ∩ RE2 patterns (no backrefs/lookaround). The PII is
# INJECTED deterministically from doc_id so the oracle rebuilds the
# identical dirty text — the scrub itself is payload-agnostic.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{3,4}\b"
_IP_RE = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

_DIRTY_SPARK = """
concat(text, ' contact user', CAST(doc_id AS STRING),
       '@mail.example for info, call 555-',
       CAST(1000 + doc_id % 9000 AS STRING),
       ' or ping 10.', CAST(doc_id % 256 AS STRING),
       '.0.', CAST(doc_id % 100 AS STRING))
"""

_DIRTY_DUCK = _DIRTY_SPARK.replace("AS STRING", "AS VARCHAR")

_PII_DUCK = f"""
WITH dirty AS (
    SELECT doc_id, {_DIRTY_DUCK} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{_IP_RE}')) AS BIGINT) AS n_ip,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_IP_RE}', '<IP>', 'g')) AS scrubbed_md5
FROM dirty
"""


@register("text_pii_scrub", _PII_DUCK)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every web corpus runs
    before training: emails, phone-shaped tokens, and internal IPs
    replaced by typed placeholders, with per-document match counts
    for the scrub-rate dashboard. The dirty text is synthesized from
    doc_id (deterministic, oracle-reproducible); the scrub is three
    chained JVM regexp_replace calls — map-only, no shuffle, no
    Python, 10^12-row safe. FULL oracle: DuckDB injects the same PII
    and scrubs with the same RE2-compatible patterns; md5 of the
    scrubbed text pins byte-equality."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select("doc_id", F.expr(_DIRTY_SPARK).alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return dirty.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_email"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phone"),
        F.size(F.regexp_extract_all("t", F.lit(_IP_RE), 0)).cast("long").alias("n_ip"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------

# per-language keep rates ×1000 (en is downsampled less than the tail
# — the usual language-balancing move); unknown langs use the default
_STRATA_RATES = {"en": 500, "de": 250, "fr": 250}
_DEFAULT_RATE = 100


def _strata_sql() -> str:
    whens = " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _STRATA_RATES.items()
    )
    rate = f"CASE {whens} ELSE {_DEFAULT_RATE} END"
    return f"""
    SELECT doc_id, lang,
           CAST({rate} AS BIGINT) AS rate_x1000
    FROM documents
    WHERE {PHASH('doc_id')} % 1000 < {rate}
    """


@register("sample_stratified", _strata_sql())
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language keep rates — the
    language-balancing pass of corpus assembly. Deterministic: a doc
    is kept iff its portable 60-bit hash mod 1000 falls under its
    stratum's rate, so the SAME sample comes out at any parallelism,
    any partitioning, any engine (the property random() sampling
    can't give). Map-only filter — no shuffle. FULL oracle: DuckDB
    applies the identical hash threshold."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_STRATA_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return (
        docs.withColumn("rate_x1000", rate.cast("long"))
        .where(F.pmod(phash_col(F.col("doc_id")), F.lit(1000)) < F.col("rate_x1000"))
        .select("doc_id", "lang", "rate_x1000")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

# 8-token shingles: every hit is a genuine 8-token text overlap (the
# synthetic generator reuses sentence runs, so organic overlaps exist
# alongside the planted dedup copies — both are real contamination;
# tests pin the flagged set against a brute-force python oracle).
DECON_NGRAM = 8
# benchmark membership: every 41st ORIGINAL document (planted dedup
# copies carry offset ids >= NEAR_OFF and are never benchmark members)
DECON_MOD = 41


def _decon_shingles_duck(src: str) -> str:
    terms = ", ".join(f"l[i+{k}]" for k in range(DECON_NGRAM))
    return f"""
        SELECT doc_id, unnest(
            list_transform(
                generate_series(1, greatest(0, len(l) - {DECON_NGRAM - 1})),
                i -> concat_ws(' ', {terms})
            )) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
              FROM {src})
    """


def _decon_duck() -> str:
    from .dedup import CORPUS_SQL, NEAR_OFF

    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {DECON_MOD} = 0
    ),
    bsh AS (
        SELECT DISTINCT doc_id AS bench_doc, {PHASH('shingle')} AS h
        FROM ({_decon_shingles_duck('bench')})
    ),
    csh AS (
        SELECT DISTINCT doc_id, {PHASH('shingle')} AS h
        FROM ({_decon_shingles_duck('corpus')})
        WHERE NOT (doc_id % {DECON_MOD} = 0 AND doc_id < {NEAR_OFF})
    )
    SELECT c.doc_id,
           CAST(count(DISTINCT c.h) AS BIGINT) AS n_shared_shingles,
           CAST(count(DISTINCT b.bench_doc) AS BIGINT) AS n_bench_docs
    FROM csh c JOIN bsh b ON c.h = b.h
    GROUP BY c.doc_id
    """


def _decon_shingles(df: DataFrame) -> DataFrame:
    toks_df = df.select("doc_id", F.split(F.trim("text"), r"\s+").alias("__toks"))
    t = F.col("__toks")
    sh = F.when(
        F.size(t) >= DECON_NGRAM,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - DECON_NGRAM),
            lambda i: F.concat_ws(
                " ", *[F.get(t, i + k) for k in range(DECON_NGRAM)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks_df.select("doc_id", F.explode(sh).alias("shingle"))


# ---------------------------------------------------------------------------
# the end-to-end curation funnel
# ---------------------------------------------------------------------------

MIN_TOKENS = 20          # length gate
MAX_DUP_BIGRAM = 600     # repetition gate (x1000)


def _funnel_duck() -> str:
    """One WITH-chain re-deriving every stage's survivor count —
    composed from the SAME SQL fragments the per-stage oracles use."""
    canon = _canon_duck_cte(_messy_sql("VARCHAR", base="doc_id // 4"))
    return f"""
    WITH {canon},
    survivors AS (
        SELECT min(doc_id) AS doc_id FROM norm GROUP BY url_canon
    ),
    s1 AS (
        SELECT d.doc_id, d.lang,
               string_split_regex(trim(d.text), '\\s+') AS l, d.text
        FROM documents d JOIN survivors s USING (doc_id)
    ),
    s2 AS (SELECT * FROM s1 WHERE len(l) >= {MIN_TOKENS}),
    rep AS (
        SELECT doc_id, (SUM(c - 1) * 1000) // SUM(c) AS dup_x1000
        FROM (
            SELECT doc_id, bigram, count(*) AS c
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(l)),
                              i -> l[i] || ' ' || l[i + 1])) AS bigram
                FROM s2
            ) GROUP BY doc_id, bigram
        ) GROUP BY doc_id
    ),
    s3 AS (
        SELECT s2.* FROM s2 JOIN rep USING (doc_id)
        WHERE rep.dup_x1000 <= {MAX_DUP_BIGRAM}
    ),
    s4 AS (SELECT * FROM s3 WHERE doc_id % {DECON_MOD} <> 0),
    bsh AS (
        SELECT DISTINCT {PHASH('shingle')} AS h
        FROM ({_decon_shingles_duck('documents')})
        WHERE doc_id % {DECON_MOD} = 0
    ),
    contaminated AS (
        SELECT DISTINCT doc_id
        FROM ({_decon_shingles_duck('s4')}) c
        JOIN bsh ON {PHASH('c.shingle')} = bsh.h
    ),
    s5 AS (
        SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    s6 AS (
        SELECT * FROM s5
        WHERE {PHASH('doc_id')} % 1000 <
              CASE {" ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in _STRATA_RATES.items())}
                   ELSE {_DEFAULT_RATE} END
    )
    SELECT stage, rows FROM (
        SELECT 's0_input' AS stage, CAST(count(*) AS BIGINT) AS rows, 0 AS ord FROM documents
        UNION ALL SELECT 's1_url_dedup', CAST(count(*) AS BIGINT), 1 FROM s1
        UNION ALL SELECT 's2_token_gate', CAST(count(*) AS BIGINT), 2 FROM s2
        UNION ALL SELECT 's3_repetition_gate', CAST(count(*) AS BIGINT), 3 FROM s3
        UNION ALL SELECT 's4_not_benchmark', CAST(count(*) AS BIGINT), 4 FROM s4
        UNION ALL SELECT 's5_decontaminated', CAST(count(*) AS BIGINT), 5 FROM s5
        UNION ALL SELECT 's6_sampled', CAST(count(*) AS BIGINT), 6 FROM s6
    ) ORDER BY ord
    """


def curate_stages(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The curation pipeline, stage by stage — each stage is a
    DataFrame so the funnel entry counts them and jobs/curate.py
    writes the curated corpus. Composition of the per-stage operators
    above (same expressions, same constants)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    messy = _messy_sql("STRING", base="doc_id div 4")
    raw = docs.select("doc_id", F.expr(messy).alias("url_raw"))
    _, canon = canonical_url_cols(F.col("url_raw"))
    survivors = (
        raw.select("doc_id", canon.alias("url_canon"))
        .groupBy("url_canon")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1 = docs.join(survivors, "doc_id").withColumn(
        "l", F.split(F.trim("text"), r"\s+")
    )
    s2 = s1.where(F.size("l") >= MIN_TOKENS)
    big = s2.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("l") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("l", i + 1), F.element_at("l", i + 2)
                ),
            )
        ).alias("bigram"),
    )
    rep = (
        big.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.expr("(sum(c - 1) * 1000) div sum(c)").alias("dup_x1000"))
    )
    s3 = s2.join(
        rep.where(F.col("dup_x1000") <= MAX_DUP_BIGRAM).select("doc_id"),
        "doc_id",
    )
    s4 = s3.where(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) != 0)
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0)
    bsh = (
        _decon_shingles(bench)
        .select(phash_col(F.col("shingle")).alias("h"))
        .distinct()
    )
    contaminated = (
        _decon_shingles(s4.select("doc_id", "text"))
        .select("doc_id", phash_col(F.col("shingle")).alias("h"))
        .join(bsh, "h")
        .select("doc_id")
        .distinct()
    )
    s5 = s4.join(contaminated, "doc_id", "left_anti")
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_STRATA_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    s6 = s5.where(F.pmod(phash_col(F.col("doc_id")), F.lit(1000)) < rate)
    return {
        "s0_input": docs,
        "s1_url_dedup": s1,
        "s2_token_gate": s2,
        "s3_repetition_gate": s3,
        "s4_not_benchmark": s4,
        "s5_decontaminated": s5,
        "s6_sampled": s6,
    }


@register("curate_corpus_funnel", _funnel_duck())
def curate_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation funnel — the pipeline a training-data
    team actually runs, composed from this module's operators in
    production order: canonical-URL dedup → length gate → repetition
    gate → benchmark-member removal → decontamination → stratified
    sample. Output is the funnel report (stage, surviving rows) every
    curation run ships to its dashboard.

    SINGLE-PASS shape: counting each stage DataFrame separately would
    re-run the chain prefix per stage (O(stages²) scans at 100 TB).
    Instead every gate becomes a boolean column on one annotated doc
    table — the gates are doc-intrinsic (the URL-dedup survivor flag
    and the contamination flag come from joins, but their VALUE does
    not depend on the other gates) — and the funnel is ONE aggregation
    over cumulative flag products. Trade-off vs the staged form: the
    repetition/decontamination flags are computed for ALL docs rather
    than only prior-stage survivors (superset work bought once, the
    7 chain re-scans eliminated; the corpus WRITE in jobs/curate.py
    still uses the staged graph, which filters before shingling).
    FULL oracle: the DuckDB WITH-chain derives the same counts the
    OTHER way — stage-by-stage subqueries — so the two formulations
    check each other."""
    stages_order = [
        "s0_input", "s1_url_dedup", "s2_token_gate", "s3_repetition_gate",
        "s4_not_benchmark", "s5_decontaminated", "s6_sampled",
    ]
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    messy = _messy_sql("STRING", base="doc_id div 4")
    raw = docs.select("doc_id", F.expr(messy).alias("url_raw"))
    _, canon = canonical_url_cols(F.col("url_raw"))
    survivors = (
        raw.select("doc_id", canon.alias("url_canon"))
        .groupBy("url_canon")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("f1"))
    )
    toks = docs.withColumn("l", F.split(F.trim("text"), r"\s+"))
    big = toks.where(F.size("l") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("l") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("l", i + 1), F.element_at("l", i + 2)
                ),
            )
        ).alias("bigram"),
    )
    rep = (
        big.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.expr("(sum(c - 1) * 1000) div sum(c)").alias("dup_x1000"))
    )
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0)
    bsh = (
        _decon_shingles(bench)
        .select(phash_col(F.col("shingle")).alias("h"))
        .distinct()
    )
    contaminated = (
        _decon_shingles(docs)
        .select("doc_id", phash_col(F.col("shingle")).alias("h"))
        .join(bsh, "h")
        .select("doc_id")
        .distinct()
        .withColumn("dirty", F.lit(True))
    )
    rate = F.lit(_DEFAULT_RATE)
    for k, v in reversed(_STRATA_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    ann = (
        toks.join(survivors, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .select(
            F.coalesce("f1", F.lit(False)).alias("f1"),
            (F.size("l") >= MIN_TOKENS).alias("f2"),
            F.coalesce(
                F.col("dup_x1000") <= MAX_DUP_BIGRAM, F.lit(False)
            ).alias("f3"),
            (F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) != 0).alias("f4"),
            F.coalesce(~F.col("dirty"), F.lit(True)).alias("f5"),
            (F.pmod(phash_col(F.col("doc_id")), F.lit(1000)) < rate).alias(
                "f6"
            ),
        )
    )
    cum = [F.lit(True)]
    for flag in ("f1", "f2", "f3", "f4", "f5", "f6"):
        cum.append(cum[-1] & F.col(flag))
    one = ann.agg(
        *[
            F.sum(c.cast("long")).alias(stages_order[i])
            for i, c in enumerate(cum)
        ]
    )
    stack = ", ".join(f"'{s}', {s}" for s in stages_order)
    return one.selectExpr(
        f"stack({len(stages_order)}, {stack}) AS (stage, rows)"
    )


@register("dedup_decontaminate", _decon_duck())
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pass that keeps eval data out
    of the training corpus: flag every corpus document sharing at
    least one 8-token shingle with a held-out benchmark set (here,
    every 41st original document; the dedup corpus's planted exact and
    near copies of those docs are the guaranteed contamination). The
    scale shape is a bucketed EQUI-join on the 60-bit shingle hash —
    distinct (doc, hash) on each side, join, per-doc aggregation; the
    benchmark side is small but is NOT broadcast by hint (AQE decides;
    a benchmark suite can be millions of shingles). Nothing pairwise,
    nothing driver-side. FULL oracle: DuckDB re-shingles both sides
    and re-joins."""
    from .dedup import NEAR_OFF, corpus, spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0)
    bsh = (
        _decon_shingles(spread(bench))
        .select(F.col("doc_id").alias("bench_doc"), phash_col(F.col("shingle")).alias("h"))
        .distinct()
    )
    c = corpus(spark, sf_dir).where(
        ~((F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0) & (F.col("doc_id") < NEAR_OFF))
    )
    csh = (
        _decon_shingles(spread(c))
        .select("doc_id", phash_col(F.col("shingle")).alias("h"))
        .distinct()
    )
    return (
        csh.join(bsh, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------------------
# host-scoped boilerplate line removal (CCNet-style per-domain dedup)
# ---------------------------------------------------------------------------

_BP_LINE_TOKENS = 10   # body re-lining unit
_BP_FRAC_X10 = 6       # a line on >= 60% of a host's urls is boilerplate


def _host_boilerplate_sql() -> str:
    from ..geo.cells_sql import PAGES_SQL

    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
    WITH {PAGES_SQL},
    p1 AS (
        SELECT DISTINCT url,
               regexp_extract(url, '^https?://([^/]+)/', 1) AS host, text
        FROM pages
    ),
    bl AS (
        SELECT url, host, text,
               unnest(generate_series(1,
                   (length({toks}) + {_BP_LINE_TOKENS - 1})
                       // {_BP_LINE_TOKENS})) AS i
        FROM p1
    ),
    lines AS (
        SELECT url, host, CAST(0 AS BIGINT) AS pos,
               'nav_' || host || ' home products login' AS line FROM p1
        UNION ALL
        SELECT url, host, CAST(i AS BIGINT) AS pos,
               array_to_string(
                   ({toks})[{_BP_LINE_TOKENS} * i - {_BP_LINE_TOKENS - 1}
                            : {_BP_LINE_TOKENS} * i], ' ') AS line
        FROM bl
        UNION ALL
        SELECT url, host, CAST(1000000 AS BIGINT) AS pos,
               'footer_' || host || ' terms privacy contact' AS line FROM p1
    ),
    hostdocs AS (
        SELECT host, count(DISTINCT url) AS n_urls FROM p1 GROUP BY host
    ),
    lfreq AS (
        SELECT host, line, count(DISTINCT url) AS df
        FROM lines GROUP BY 1, 2
    ),
    boiler AS (
        SELECT f.host, f.line FROM lfreq f JOIN hostdocs h USING (host)
        WHERE f.df * 10 >= {_BP_FRAC_X10} * h.n_urls
    )
    SELECT l.url, l.host,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           md5(COALESCE(string_agg(
               CASE WHEN b.line IS NULL THEN l.line END,
               ' ' ORDER BY l.pos), '')) AS kept_md5
    FROM lines l LEFT JOIN boiler b ON b.host = l.host AND b.line = l.line
    GROUP BY l.url, l.host
    """


@register("webtext_host_boilerplate", _host_boilerplate_sql())
def webtext_host_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOST-SCOPED boilerplate line removal — the CCNet/trafilatura
    step dedup_paragraph_global (global, count>1) cannot express: a
    line is boilerplate only if it appears on ≥ 60% of ITS HOST's
    pages, so per-host navigation chrome is stripped while a phrase
    that merely occurs twice corpus-wide survives. Pages are re-lined
    deterministically (10-token body lines; planted nav/footer lines
    stand in for the template chrome a real host emits on every
    page), the per-(host, line) document frequency is compared to the
    host's page count, and each page's surviving lines are
    re-assembled in order (md5-digested).

    Scale shape: one distinct url pass, one (host, line) groupBy with
    map-side partials (the exchange carries distinct host-lines, not
    the line stream), a host-keyed threshold join, and one per-url
    reassembly groupBy — the dedup_paragraph_global plan with the
    frequency table scoped by host. The boilerplate table is per-host
    tiny but is NEVER broadcast as a whole (joined on host+line).
    FULL oracle: DuckDB re-synthesizes pages, re-lines, and strips
    identically."""
    from ..sources.pages import synth_pages

    HOST_RE = r"^https?://([^/]+)/"
    pages = synth_pages(spark, sf_dir).dropDuplicates(["url"])
    p1 = pages.select(
        "url", F.regexp_extract("url", HOST_RE, 1).alias("host"), "text"
    )
    toks = F.split(F.trim("text"), r"\s+")
    nb = F.floor(
        (F.size(toks) + F.lit(_BP_LINE_TOKENS - 1)) / F.lit(_BP_LINE_TOKENS)
    ).cast("int")
    body = p1.select(
        "url",
        "host",
        F.explode(F.sequence(F.lit(1), nb)).alias("i"),
        toks.alias("__toks"),
    ).select(
        "url",
        "host",
        F.col("i").cast("long").alias("pos"),
        F.concat_ws(
            " ",
            F.slice(
                "__toks",
                F.col("i") * _BP_LINE_TOKENS - (_BP_LINE_TOKENS - 1),
                F.lit(_BP_LINE_TOKENS),
            ),
        ).alias("line"),
    )
    nav = p1.select(
        "url",
        "host",
        F.lit(0).cast("long").alias("pos"),
        F.concat(F.lit("nav_"), F.col("host"), F.lit(" home products login")).alias("line"),
    )
    foot = p1.select(
        "url",
        "host",
        F.lit(1_000_000).cast("long").alias("pos"),
        F.concat(
            F.lit("footer_"), F.col("host"), F.lit(" terms privacy contact")
        ).alias("line"),
    )
    lines = nav.unionByName(body).unionByName(foot)
    hostdocs = p1.groupBy("host").agg(F.countDistinct("url").alias("n_urls"))
    lfreq = lines.groupBy("host", "line").agg(
        F.countDistinct("url").alias("df")
    )
    boiler = (
        lfreq.join(hostdocs, "host")
        .filter(F.col("df") * 10 >= _BP_FRAC_X10 * F.col("n_urls"))
        .select("host", "line", F.lit(1).alias("__bp"))
    )
    ann = lines.join(boiler, ["host", "line"], "left")
    return ann.groupBy("url", "host").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.coalesce("__bp", F.lit(0))).cast("long").alias("n_boiler"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__bp").isNull(),
                                F.struct("pos", "line"),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
            )
        ).alias("kept_md5"),
    )
