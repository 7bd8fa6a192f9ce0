"""Web-graph construction from the crawl (outlink extraction).

A Common-Crawl-style pipeline's first graph step: parse each page's
stored ``html`` payload for hrefs and roll the page-level edges up to
a host-level weighted graph (the input to pagerank_hosts-style link
analysis and per-domain quality priors).

The Spark side genuinely PARSES the binary html (JVM
``regexp_extract_all`` — no Python in the hot path); the synthetic
page generator (sources/pages.py) plants three ``<link href>``
elements in ``<head>`` as affine functions of page_id, so the DuckDB
oracle can rebuild the exact edge list ARITHMETICALLY, without a
parser — value-hash equality proves the extraction recovers the
planted structure byte-for-byte, the same planted-ground-truth trick
as the geocoder's loc tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo.cells_sql import PAGES_SQL
from ..sources.pages import N_HOSTS, synth_pages
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


_HREF_RE = r'href="([^"]+)"'
_HOST_RE = r"^https?://([^/]+)/"
N_LINKS = 3  # links planted per page (sources/pages.py)

# doc_id is recoverable from the url path; multiplier=1 at oracle
# scale means page_id == doc_id, so the oracle's arithmetic matches
# the generator's exactly
_DID = r"CAST(regexp_extract(url, 'p/(\d+)$', 1) AS BIGINT)"


def _outlinks_sql() -> str:
    return f"""
    WITH {PAGES_SQL},
    links AS (
        SELECT url, warc_ts, {_DID} AS did,
               unnest(generate_series(1, {N_LINKS})) AS m
        FROM pages
    )
    SELECT url, warc_ts,
           CAST(m - 1 AS BIGINT) AS link_pos,
           'https://site' || CAST((did * 7 + m * 13) % {N_HOSTS} AS VARCHAR)
               || '.example/p/' || CAST(did * 3 + m AS VARCHAR) AS href,
           'site' || CAST((did * 7 + m * 13) % {N_HOSTS} AS VARCHAR)
               || '.example' AS dst_host
    FROM links
    """


@register("webgraph_outlinks", _outlinks_sql())
def webgraph_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction: decode the binary html, pull every
    ``href="…"`` with one JVM regexp_extract_all, posexplode to
    (url, crawl, link_pos, href, dst_host) edges. Map-only — zero
    shuffles, scales as a pure scan at 10^12 rows.

    FULL oracle: DuckDB re-derives the PLANTED links from doc_id
    arithmetic (no parsing) — a parser bug that drops, reorders, or
    mangles one href hash-fails."""
    pages = synth_pages(spark, sf_dir)
    h = F.col("html").cast("string")
    links = F.regexp_extract_all(h, F.lit(_HREF_RE), 1)
    return (
        pages.select("url", "warc_ts", F.posexplode(links).alias("link_pos", "href"))
        .select(
            "url",
            "warc_ts",
            F.col("link_pos").cast("long").alias("link_pos"),
            "href",
            F.regexp_extract("href", _HOST_RE, 1).alias("dst_host"),
        )
    )


def _host_degree_sql() -> str:
    return f"""
    WITH {PAGES_SQL},
    pages1 AS (
        SELECT DISTINCT url, {_DID} AS did FROM pages
    ),
    edges AS (
        SELECT 'site' || CAST(did % {N_HOSTS} AS VARCHAR) || '.example'
                   AS src_host,
               'site' || CAST((did * 7 + m * 13) % {N_HOSTS} AS VARCHAR)
                   || '.example' AS dst_host
        FROM pages1, unnest(generate_series(1, {N_LINKS})) AS t(m)
    )
    SELECT src_host, dst_host, COUNT(*) AS n_links
    FROM edges GROUP BY src_host, dst_host
    """


@register("webgraph_host_degree", _host_degree_sql())
def webgraph_host_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level weighted edge list: parse outlinks, dedupe re-crawls
    (a url's links are identical across crawls, so DISTINCT url first
    — the crawl-frequency bias a naive rollup would bake in), then
    count page-level edges per (src_host, dst_host) pair.

    One distinct + one groupBy; both shuffle on host keys whose
    cardinality is the domain count (~10^8 at web scale, well-hashed).
    FULL oracle: same rollup over the arithmetically-rebuilt edges."""
    pages = synth_pages(spark, sf_dir).dropDuplicates(["url"])
    h = F.col("html").cast("string")
    links = F.regexp_extract_all(h, F.lit(_HREF_RE), 1)
    edges = pages.select(
        F.regexp_extract("url", _HOST_RE, 1).alias("src_host"),
        F.explode(links).alias("href"),
    ).select("src_host", F.regexp_extract("href", _HOST_RE, 1).alias("dst_host"))
    return edges.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


# ---------------------------------------------------------------------------
# crawl scheduling (frontier politeness + recrawl priority)
# ---------------------------------------------------------------------------

BASE_DELAY_S = 5  # politeness floor per fetch


def _frontier_sql() -> str:
    from .portable import PHASH

    host_id = r"CAST(regexp_extract(host, 'site(\d+)', 1) AS BIGINT)"
    return f"""
    WITH {PAGES_SQL},
    frontier AS (
        SELECT DISTINCT url,
               regexp_extract(url, '^https?://([^/]+)/', 1) AS host
        FROM pages
    ),
    ranked AS (
        SELECT url, host,
               ({host_id} % 10) + {BASE_DELAY_S} AS delay_s,
               ROW_NUMBER() OVER (
                   PARTITION BY host ORDER BY {PHASH('url')}, url
               ) - 1 AS fetch_rank
        FROM frontier
    )
    SELECT url, host, fetch_rank, delay_s,
           fetch_rank * delay_s AS sched_offset_s
    FROM ranked
    """


@register("crawl_frontier_schedule", _frontier_sql())
def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-scheduled crawl frontier: the distinct url set is
    ordered within each host by a portable hash (fair, deterministic,
    no coordination) and each fetch is offset by the host's crawl
    delay — fetch k of a host fires k*delay seconds into the window.
    This is the per-domain rate-limit plan a frontier shard executes.

    One distinct + one per-host window; hosts are independent so the
    window parallelizes on the host hash — the classic mega-host skew
    (one domain with 10^9 urls serializes its partition) is exactly
    the skew the salted-join/AQE machinery handles elsewhere, and a
    frontier ALSO wants per-host serialization, so the shape is
    correct, not accidental. FULL oracle: DuckDB reproduces ranks and
    offsets from the same hash."""
    from .portable import phash_col

    pages = synth_pages(spark, sf_dir)
    frontier = pages.select(
        "url", F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).distinct()
    host_id = F.regexp_extract("host", r"site(\d+)", 1).try_cast("long")
    delay = F.pmod(host_id, F.lit(10)) + BASE_DELAY_S

    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(phash_col(F.col("url")), F.col("url"))
    ranked = frontier.select(
        "url",
        "host",
        delay.alias("delay_s"),
        (F.row_number().over(w) - 1).cast("long").alias("fetch_rank"),
    )
    return ranked.select(
        "url",
        "host",
        "fetch_rank",
        "delay_s",
        (F.col("fetch_rank") * F.col("delay_s")).alias("sched_offset_s"),
    )


def _recrawl_sql() -> str:
    return f"""
    WITH {PAGES_SQL},
    hist AS (
        SELECT url,
               COUNT(*) AS n_crawls,
               MAX(warc_ts) AS last_crawl
        FROM pages GROUP BY url
    )
    SELECT url, n_crawls, last_crawl,
           date_diff('day', last_crawl, TIMESTAMP '2024-07-01 00:00:00')
               AS stale_days,
           date_diff('day', last_crawl, TIMESTAMP '2024-07-01 00:00:00')
               * n_crawls AS priority
    FROM hist
    """


@register("crawl_recrawl_priority", _recrawl_sql())
def crawl_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl prioritization: staleness (whole days between the
    url's last crawl and the fixed scheduling epoch) weighted by
    observed crawl frequency — frequently-recrawled pages that have
    gone stale lead the queue. Integer day arithmetic only, so the
    priority is engine-exact. One groupBy on url; no joins.
    FULL oracle: DuckDB repeats the rollup and date_diff."""
    pages = synth_pages(spark, sf_dir)
    hist = pages.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_crawls"),
        F.max("warc_ts").alias("last_crawl"),
    )
    stale = F.datediff(F.lit("2024-07-01").cast("date"), F.col("last_crawl").cast("date")).cast("long")
    return hist.select(
        "url",
        "n_crawls",
        "last_crawl",
        stale.alias("stale_days"),
        (stale * F.col("n_crawls")).alias("priority"),
    )


# ---------------------------------------------------------------------------
# WARC record framing round-trip (sources/warc.py)
# ---------------------------------------------------------------------------


def _warc_sql() -> str:
    link = (
        "'<link href=\"https://site' || CAST((did * 7 + {m} * 13) % "
        f"{N_HOSTS}"
        " AS VARCHAR) || '.example/p/' || CAST(did * 3 + {m} AS VARCHAR)"
        " || '\">'"
    )
    html = (
        "'<html><head>' || "
        + " || ".join(link.format(m=m) for m in (1, 2, 3))
        + " || '</head><body>' || text || '</body></html>'"
    )
    return f"""
    WITH {PAGES_SQL},
    withhtml AS (
        SELECT url, warc_ts, {_DID} AS did, text FROM pages
    )
    SELECT url, warc_ts,
           url AS uri,
           warc_ts AS warc_date,
           CAST(length({html}) AS BIGINT) AS content_length,
           md5({html}) AS payload_md5,
           TRUE AS roundtrip_ok
    FROM withhtml
    """


@register("warc_roundtrip_parse", _warc_sql())
def warc_roundtrip_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC framing round-trip (sources/warc.py): serialize every
    crawl into a framed header+payload record, then PARSE the record
    column back — header fields via anchored regexps, payload sliced
    by Content-Length from the first blank line (never by searching
    payload bytes). Output is the parsed view + a roundtrip_ok flag
    (parsed uri/date/payload == the original page row).

    Map-only both directions; the parse is pure JVM string work. FULL
    oracle: DuckDB derives uri/date/length/md5 straight from the
    re-synthesized pages WITHOUT any framing — so a framing bug
    (wrong slice offset, headers leaking into payload, length
    miscount) value-hash-fails; the flag must be literal TRUE."""
    from ..sources.warc import parse_warc_col, warc_records

    recs = warc_records(spark, sf_dir)
    parsed = recs.select("url", "warc_ts", *parse_warc_col(F.col("record")))
    pages = synth_pages(spark, sf_dir).select(
        "url", "warc_ts", F.col("html").cast("string").alias("html_s")
    )
    joined = parsed.join(pages, ["url", "warc_ts"])
    return joined.select(
        "url",
        "warc_ts",
        "uri",
        "warc_date",
        "content_length",
        F.md5("payload").alias("payload_md5"),
        (
            (F.col("uri") == F.col("url"))
            & (F.col("warc_date") == F.col("warc_ts"))
            & (F.col("payload") == F.col("html_s"))
        ).alias("roundtrip_ok"),
    )


def _gini_sql() -> str:
    return f"""
    WITH {PAGES_SQL},
    hosts AS (
        SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
               COUNT(*) AS n_pages
        FROM pages GROUP BY 1
    ),
    ranked AS (
        SELECT n_pages,
               ROW_NUMBER() OVER (ORDER BY n_pages, host) AS rnk
        FROM hosts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
           CAST(SUM(n_pages) AS BIGINT) AS total_pages,
           CAST(
               (2 * CAST(SUM(rnk * n_pages) AS BIGINT)
                 - (COUNT(*) + 1) * CAST(SUM(n_pages) AS BIGINT))
               * 1000000
               // (COUNT(*) * CAST(SUM(n_pages) AS BIGINT))
               AS BIGINT
           ) AS gini_ppm
    FROM ranked
    """


@register("crawl_host_gini", _gini_sql())
def crawl_host_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-balance audit: the Gini coefficient of pages-per-host in
    parts-per-million — 0 = perfectly even crawl, →1e6 = one mega
    host dominates. All-integer rank formula (2·Σrank·x − (n+1)·T
    over n·T), so the scaled coefficient is engine-exact; the rank
    window's global ORDER BY runs over the HOST rollup (domain
    cardinality), never the page table.

    FULL oracle: DuckDB repeats the rollup, ranking, and integer
    arithmetic (sums CAST to BIGINT before the ratio — the HUGEINT
    float-rendering lesson)."""
    from pyspark.sql import Window

    pages = synth_pages(spark, sf_dir)
    hosts = pages.groupBy(
        F.regexp_extract("url", _HOST_RE, 1).alias("host")
    ).agg(F.count(F.lit(1)).alias("n_pages"))
    w = Window.orderBy("n_pages", "host")
    ranked = hosts.select("n_pages", F.row_number().over(w).alias("rnk"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("n_pages").alias("total_pages"),
        F.expr(
            "CAST((2 * SUM(rnk * n_pages) - (COUNT(*) + 1) * SUM(n_pages))"
            " * 1000000 div (COUNT(*) * SUM(n_pages)) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# robots.txt prefix filtering over the frontier
# ---------------------------------------------------------------------------

ROBOTS_MOD = 5  # hosts with id % 5 == 0 publish a Disallow rule


def _robots_sql() -> str:
    host_id = r"CAST(regexp_extract(host, 'site(\d+)', 1) AS BIGINT)"
    return f"""
    WITH {PAGES_SQL},
    frontier AS (
        SELECT DISTINCT url,
               regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
               '/' || regexp_extract(url, '^https?://[^/]+/(.*)$', 1) AS path
        FROM pages
    ),
    rules AS (
        SELECT host,
               CASE WHEN {host_id} % {ROBOTS_MOD} = 0
                    THEN '/p/' || CAST({host_id} % 10 AS VARCHAR)
               END AS disallow
        FROM (SELECT DISTINCT host FROM frontier)
    )
    SELECT f.url, f.host, r.disallow,
           (r.disallow IS NOT NULL
            AND starts_with(f.path, r.disallow)) AS blocked
    FROM frontier f JOIN rules r USING (host)
    """


@register("crawl_robots_filter", _robots_sql())
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt enforcement over the frontier: a per-host rules
    table (synthesized — every 5th host disallows one /p/<digit>
    path prefix) joins the frontier on host and urls are flagged by
    PREFIX match, the actual robots.txt Disallow semantics (so
    /p/1 blocks /p/1, /p/10, /p/199…).

    The rules table is domain-cardinality — tiny next to the url set
    — so the join broadcasts; the prefix test is one JVM
    startswith. FULL oracle: DuckDB rebuilds rules and flags from
    the same arithmetic."""
    pages = synth_pages(spark, sf_dir)
    frontier = pages.select(
        "url",
        F.regexp_extract("url", _HOST_RE, 1).alias("host"),
        F.concat(F.lit("/"), F.regexp_extract("url", r"^https?://[^/]+/(.*)$", 1)).alias(
            "path"
        ),
    ).distinct()
    hosts = frontier.select("host").distinct()
    host_id = F.regexp_extract("host", r"site(\d+)", 1).try_cast("long")
    rules = hosts.select(
        "host",
        F.when(
            F.pmod(host_id, F.lit(ROBOTS_MOD)) == 0,
            F.concat(F.lit("/p/"), F.pmod(host_id, F.lit(10)).cast("string")),
        ).alias("disallow"),
    )
    joined = frontier.join(F.broadcast(rules), "host")
    return joined.select(
        "url",
        "host",
        "disallow",
        (
            F.col("disallow").isNotNull()
            & F.col("path").startswith(F.col("disallow"))
        ).alias("blocked"),
    )


# ---------------------------------------------------------------------------
# host similarity by shared outlinks (bibliographic coupling)
# ---------------------------------------------------------------------------

_HUB_CAP = 40        # dsts linked from more hosts than this generate no pairs
_COUPLE_THRESH = 200  # jaccard_x1000 floor


def _coupling_sql() -> str:
    return f"""
    WITH {PAGES_SQL},
    pages1 AS (SELECT DISTINCT url, {_DID} AS did FROM pages),
    edges AS (
        SELECT DISTINCT
            'site' || CAST(did % {N_HOSTS} AS VARCHAR) || '.example' AS src,
            'site' || CAST((did * 7 + m * 13) % {N_HOSTS} AS VARCHAR)
                || '.example' AS dst
        FROM pages1, unnest(generate_series(1, {N_LINKS})) AS t(m)
    ),
    sizes AS (SELECT src, count(*) AS n FROM edges GROUP BY src),
    indeg AS (SELECT dst, count(*) AS d FROM edges GROUP BY dst),
    rare AS (
        SELECT e.src, e.dst FROM edges e
        JOIN indeg USING (dst) WHERE indeg.d <= {_HUB_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.src AS ha, b.src AS hb
        FROM rare a JOIN rare b ON a.dst = b.dst AND a.src < b.src
    ),
    inter AS (
        SELECT c.ha, c.hb, count(*) AS n_shared
        FROM cand c
        JOIN edges a ON a.src = c.ha
        JOIN edges b ON b.src = c.hb AND b.dst = a.dst
        GROUP BY c.ha, c.hb
    )
    SELECT i.ha, i.hb, CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST((i.n_shared * 1000) // (sa.n + sb.n - i.n_shared)
                AS BIGINT) AS jaccard_x1000
    FROM inter i
    JOIN sizes sa ON sa.src = i.ha
    JOIN sizes sb ON sb.src = i.hb
    WHERE (i.n_shared * 1000) // (sa.n + sb.n - i.n_shared)
              >= {_COUPLE_THRESH}
    """


@register("webgraph_host_coupling", _coupling_sql())
def webgraph_host_coupling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic coupling over the host graph: two hosts are
    similar when their OUT-link sets overlap (Jaccard ≥ 20%) — the
    link-farm / mirror-network signal host-level quality priors and
    spam detection use (farms share templated outlink sets even when
    their page text differs enough to dodge text dedup).

    Candidate generation is HUB-CAPPED destination blocking — the
    rare-shingle construction transplanted to the graph: a pair is
    only considered if it shares a destination linked from ≤ _HUB_CAP
    hosts, so mega-hubs (every host links the big platforms) generate
    no candidate pairs by construction; the exact Jaccard then runs
    over the FULL out-link sets of candidates only. Scale shape: one
    distinct edge rollup, one in-degree groupBy, a bounded-fan-out
    self-join (≤ cap² ordered pairs per destination), candidate-only
    verification — nothing all-pairs over hosts. FULL oracle: DuckDB
    rebuilds the planted edges arithmetically and repeats the
    blocking + Jaccard."""
    pages = synth_pages(spark, sf_dir).dropDuplicates(["url"])
    h = F.col("html").cast("string")
    links = F.regexp_extract_all(h, F.lit(_HREF_RE), 1)
    edges = (
        pages.select(
            F.regexp_extract("url", _HOST_RE, 1).alias("src"),
            F.explode(links).alias("href"),
        )
        .select("src", F.regexp_extract("href", _HOST_RE, 1).alias("dst"))
        .distinct()
    )
    sizes = edges.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    indeg = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    rare = edges.join(
        indeg.filter(F.col("d") <= _HUB_CAP).select("dst"), "dst"
    )
    cand = (
        rare.select(F.col("src").alias("ha"), "dst")
        .join(rare.select(F.col("src").alias("hb"), "dst"), "dst")
        .filter(F.col("ha") < F.col("hb"))
        .select("ha", "hb")
        .distinct()
    )
    inter = (
        cand.join(edges.select(F.col("src").alias("ha"), "dst"), "ha")
        .join(edges.select(F.col("src").alias("hb"), "dst"), ["hb", "dst"])
        .groupBy("ha", "hb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(sizes.withColumnRenamed("src", "ha").withColumnRenamed("n", "na"), "ha")
        .join(sizes.withColumnRenamed("src", "hb").withColumnRenamed("n", "nb"), "hb")
        .select(
            "ha",
            "hb",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.expr("(n_shared * 1000) div (na + nb - n_shared)").alias(
                "jaccard_x1000"
            ),
        )
        .filter(F.col("jaccard_x1000") >= _COUPLE_THRESH)
    )
