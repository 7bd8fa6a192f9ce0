"""Catalog entries for J9 (salted join) and S4 (text extraction with
the byte-identity invariant).

The salted join is oracle-checked the strongest possible way: salting
is a pure physical rewrite, so the DuckDB oracle is simply the PLAIN
join — if salting changed any row, the value hash would differ.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..sources.pages import synth_pages
from .relational import QuerySpec, register
from .skew import salted_join

CATALOG: dict[str, QuerySpec] = {}


@register(
    "skew_salted_join",
    """
    WITH dim AS (
        SELECT user_id, count(*) AS user_n FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, d.user_n
    FROM events e JOIN dim d USING (user_id)
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: fact side salted on a deterministic row hash, dim side
    replicated nsalt×. The oracle is the unsalted join — value-hash
    equality IS the 'salting changes nothing' proof, run by the driver
    on every round."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_n"))
    out = salted_join(
        ev.select("event_id", "user_id"), dim, on=["user_id"], nsalt=8
    )
    return out.select("event_id", "user_id", "user_n")


# ---------------------------------------------------------------------------
# S4: html -> text extraction (BASELINE.json:6 byte-identical text per url)
# ---------------------------------------------------------------------------

EXTRACT_SCHEMA = "url string, warc_ts timestamp, extracted string"


def extract_text(pages: DataFrame) -> DataFrame:
    """Deterministic html→text extractor over the binary payload —
    Arrow-batched iterator UDF (the trafilatura/jusText slot in a real
    crawl pipeline; the synthetic html is `<html><body>{text}</body>
    </html>`, so extraction is exact and byte-stable)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = []
            for payload in pdf["html"]:
                s = bytes(payload).decode("utf-8", errors="replace")
                start = s.find("<body>")
                end = s.rfind("</body>")
                texts.append(s[start + 6 : end] if 0 <= start < end else "")
            yield pd.DataFrame(
                {"url": pdf["url"], "warc_ts": pdf["warc_ts"], "extracted": texts}
            )

    return pages.select("url", "warc_ts", "html").mapInPandas(run, EXTRACT_SCHEMA)


def _extract_sql() -> str:
    from ..geo.cells_sql import PAGES_SQL

    return f"""
    WITH {PAGES_SQL}
    SELECT url,
           COUNT(*) AS n_crawls,
           (COUNT(DISTINCT md5(text)) = 1) AS identical,
           MIN(md5(text)) AS text_md5
    FROM pages GROUP BY url
    """


@register("pages_text_extract", _extract_sql())
def pages_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 + the per-row invariant: extract text from every crawl of
    every url and assert byte-identity per url (BASELINE.json:6). The
    output is one row per url with its crawl count and whether all
    crawls extracted identical bytes — the pipeline gate is
    `min(identical) = true`, tested in tests/test_text_extract.py.
    FULL oracle: the Spark side round-trips text→html→mapInPandas
    extraction→md5; DuckDB re-synthesizes the page text directly
    (geo/cells_sql.py PAGES_SQL) and hashes it — equal value hashes
    prove the extraction byte-exact, not just consistent."""
    pages = synth_pages(spark, sf_dir)
    ext = extract_text(pages)
    return (
        ext.groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_crawls"),
            (F.countDistinct(F.md5("extracted")) == 1).alias("identical"),
            F.min(F.md5("extracted")).alias("text_md5"),
        )
    )


HOST_RE = r"^https?://([^/]+)/"


def _host_agg_sql() -> str:
    from ..geo.cells_sql import PAGES_SQL

    return f"""
    WITH {PAGES_SQL}
    SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
           COUNT(*) AS n_crawls,
           COUNT(DISTINCT url) AS n_urls,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM pages GROUP BY 1
    """


@register("host_agg", _host_agg_sql())
def host_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl rollup — the domain-level view every crawl
    pipeline maintains (politeness budgets, per-domain quality priors,
    domain dedup decisions): host extracted from the url, then one
    partial-aggregatable groupBy (counts, distincts, total text
    bytes). Integer measures only, so the result is bit-stable under
    any partitioning. FULL oracle: DuckDB re-synthesizes the pages and
    re-rolls the same host table."""
    pages = synth_pages(spark, sf_dir)
    return (
        pages.select(
            F.regexp_extract("url", HOST_RE, 1).alias("host"),
            "url",
            "lang",
            F.length("text").alias("__len"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_crawls"),
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("__len").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# per-host document cap (anti-domination sampling)
# ---------------------------------------------------------------------------

_HOST_CAP = 2  # max distinct urls kept per host at the sandbox scale


def _host_cap_sql() -> str:
    from ..geo.cells_sql import PAGES_SQL
    from .portable import PHASH

    return f"""
    WITH {PAGES_SQL},
    urls AS (
        SELECT DISTINCT regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
               url
        FROM pages
    ),
    ranked AS (
        SELECT host, url,
               row_number() OVER (
                   PARTITION BY host
                   ORDER BY {PHASH('url')}, url
               ) AS rn
        FROM urls
    )
    SELECT host, url, (rn <= {_HOST_CAP}) AS kept
    FROM ranked
    """


@register("sample_host_cap", _host_cap_sql())
def sample_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document cap — the anti-domination step C4/RefinedWeb-
    style corpora apply so no single domain floods the training mix:
    within each host, documents are ranked by a PORTABLE hash (no
    rand(), so the same documents survive at any parallelism, on any
    engine, on any re-run) and only the first _HOST_CAP survive; the
    per-doc kept flag is emitted rather than a filtered table so the
    dropped set is auditable (and the driver hash pins BOTH sides of
    the cut).

    One distinct + one window over (host) — the window key is the
    natural partition key, so the plan is a single hash exchange on
    host; a mega-host skews one partition but the work per row is a
    rank comparison, and at 10^12 docs the cap can be applied
    per-bucket first (hash(url) % B) to pre-thin giant hosts before
    the global rank — noted, not needed at any realistic host size.
    FULL oracle: DuckDB repeats the hash ranking and the cap."""
    pages = synth_pages(spark, sf_dir)
    from pyspark.sql.window import Window

    from .portable import phash_col

    urls = pages.select(
        F.regexp_extract("url", HOST_RE, 1).alias("host"), "url"
    ).distinct()
    w = Window.partitionBy("host").orderBy(phash_col(F.col("url")), F.col("url"))
    return urls.select(
        "host",
        "url",
        (F.row_number().over(w) <= _HOST_CAP).alias("kept"),
    )


# ---------------------------------------------------------------------------
# snapshot coverage delta (crawl-ops freshness report)
# ---------------------------------------------------------------------------

_COV_SPLIT = "2024-02-15 00:00:00"  # crawl warc_ts spans Jan 1 - Mar 30


def _snapshot_coverage_sql() -> str:
    from ..geo.cells_sql import PAGES_SQL

    return f"""
    WITH {PAGES_SQL},
    u AS (
        SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host, url,
               max(CASE WHEN warc_ts <  TIMESTAMP '{_COV_SPLIT}'
                        THEN 1 ELSE 0 END) AS seen_before,
               max(CASE WHEN warc_ts >= TIMESTAMP '{_COV_SPLIT}'
                        THEN 1 ELSE 0 END) AS seen_after
        FROM pages GROUP BY 1, 2
    )
    SELECT host,
           CAST(SUM(CASE WHEN seen_after = 1 AND seen_before = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN seen_before = 1 AND seen_after = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stale,
           CAST(SUM(seen_before * seen_after) AS BIGINT) AS n_refreshed
    FROM u GROUP BY host
    """


@register("crawl_snapshot_coverage", _snapshot_coverage_sql())
def crawl_snapshot_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-freshness delta report — the coverage dashboard an
    incremental crawl runs after every snapshot: per host, how many
    urls are NEW (first seen in the current period), STALE (known but
    not re-crawled this period — recrawl-scheduler backlog), and
    REFRESHED (crawled in both periods). The per-url recency profile
    is one groupBy(host, url) with two conditional maxes; the host
    rollup is a second partial-aggregatable groupBy — both map-side
    combinable, so a 10^12-crawl log reduces to |urls| then |hosts|
    rows with no skew-sensitive stage (a mega-host's urls spread
    across partitions until the final |hosts|-row reduce).
    FULL oracle: DuckDB repeats both rollups."""
    pages = synth_pages(spark, sf_dir)
    t = F.lit(_COV_SPLIT).cast("timestamp")
    u = (
        pages.select(
            F.regexp_extract("url", HOST_RE, 1).alias("host"),
            "url",
            F.when(F.col("warc_ts") < t, 1).otherwise(0).alias("b"),
            F.when(F.col("warc_ts") >= t, 1).otherwise(0).alias("a"),
        )
        .groupBy("host", "url")
        .agg(F.max("b").alias("seen_before"), F.max("a").alias("seen_after"))
    )
    return u.groupBy("host").agg(
        F.sum(
            F.when((F.col("seen_after") == 1) & (F.col("seen_before") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_new"),
        F.sum(
            F.when((F.col("seen_before") == 1) & (F.col("seen_after") == 0), 1)
            .otherwise(0)
        ).cast("long").alias("n_stale"),
        F.sum(F.col("seen_before") * F.col("seen_after"))
        .cast("long").alias("n_refreshed"),
    )


# ---------------------------------------------------------------------------
# per-host crawl byte budget (take-while prefix-sum allocation)
# ---------------------------------------------------------------------------

_BYTE_BUDGET = 1200  # per-host fetch budget (chars as the byte analog)


def _budget_sql() -> str:
    from .portable import PHASH

    return f"""
    WITH ranked AS (
        SELECT doc_id % 50 AS host, doc_id, n_chars,
               SUM(n_chars) OVER (
                   PARTITION BY doc_id % 50
                   ORDER BY {PHASH('doc_id')}, doc_id
               ) AS cum_chars
        FROM documents
    )
    SELECT CAST(host AS BIGINT) AS host, doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(cum_chars AS BIGINT) AS cum_chars,
           (cum_chars <= {_BYTE_BUDGET}) AS fetch
    FROM ranked
    """


@register("crawl_budget_allocate", _budget_sql())
def crawl_budget_allocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl BYTE budget — the prefix-sum companion to
    sample_host_cap's count cap: each host fetches documents in
    portable-hash priority order only while the RUNNING total of
    their sizes stays inside the budget (a take-while, not a top-k:
    whether doc k is fetched depends on the sizes of everything
    ranked before it, so no per-row predicate can express it — it is
    the window prefix-sum that crawl schedulers actually run). The
    per-doc fetch flag plus the running total are emitted so the
    dropped tail is auditable and the driver hash pins the exact
    cut point per host.

    Scale shape: ONE window over the host partition key — a single
    hash exchange; the running sum is streamed per partition in sort
    order, state O(1) per host. Priority is the portable hash (no
    rand()), so the allocation is identical at any parallelism and
    in both engines. FULL oracle: DuckDB repeats the ranked prefix
    sum and threshold."""
    from pyspark.sql.window import Window

    from .portable import phash_col

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).alias("host"), "doc_id", "n_chars"
    )
    w = (
        Window.partitionBy("host")
        .orderBy(phash_col(F.col("doc_id")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return docs.select(
        F.col("host").cast("long").alias("host"),
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.sum("n_chars").over(w).cast("long").alias("cum_chars"),
        (F.sum("n_chars").over(w) <= _BYTE_BUDGET).alias("fetch"),
    )
