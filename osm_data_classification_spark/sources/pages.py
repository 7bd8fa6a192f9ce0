"""The north-star input table: Common-Crawl-style web pages.

BASELINE.json:15 fixes the shape exactly:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
No external data may be used, so the table is *synthesized
deterministically* from the driver's ``documents`` parquet with pure
DataFrame expressions — the generator itself is a distributed Spark
job (explode over a sequence column, arithmetic only, no
Python/driver-side loops), so the same code that makes a 5k-row test
fixture makes a 10^9-row bench table by turning one knob.

Construction invariants (all exercised by tests):

- **byte-identical text per url** (BASELINE.json:6): ``text`` is a
  pure function of ``page_id``; re-crawl rows (same url, different
  warc_ts) repeat it byte-for-byte.
- **version chains**: every 5th page gets 2–5 crawls (W1 analog).
- **geocodability**: each text embeds one place token ``loc_<i>_<j>``
  with ``lon = -180 + i*0.1 + 0.05``, ``lat = -90 + j*0.1 + 0.025`` —
  the geocoder inverts it exactly, so expected lon/lat (and cell ids)
  are computable in the numpy oracle with no gazetteer.
- **mega-cell skew** (BASELINE.json:6 "skew from mega-cells"): 30% of
  pages share 5 "mega" place tokens, concentrating them in 5 cells —
  this is what the salted tile aggregation (J9) is measured against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..geo.cells import cell_encode_col
from ..io import load_table

N_I = 3600  # lon grid: i in [0, 3600) -> lon in [-180, 180)
N_HOSTS = 97  # urls and outlink targets live on site0..site96
N_J = 1800  # lat grid: j in [0, 1800) -> lat in [-90, 90)
MEGA_TOKENS = ((900, 1200), (1800, 900), (2700, 600), (450, 1500), (3200, 300))
LON_STEP, LAT_STEP = 0.1, 0.1
LON_OFF, LAT_OFF = 0.05, 0.025  # keep points off cell boundaries


def mega_centers() -> list[tuple[float, float]]:
    """(lon, lat) of the 5 mega place tokens — the skew hot spots."""
    return [
        (-180.0 + i * LON_STEP + LON_OFF, -90.0 + j * LAT_STEP + LAT_OFF)
        for i, j in MEGA_TOKENS
    ]


def synth_pages(
    spark: SparkSession, sf_dir: str, multiplier: int = 1
) -> DataFrame:
    """Build the pages table from ``documents`` (TESTDATA.md).

    ``multiplier`` fans each document out to N pages — sf0.001 gives
    ~600 pages at 1x for smoke, the bench uses a larger multiplier. All
    columns are arithmetic functions of ``page_id`` so the table is
    identical across parallelism levels and re-runs.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # The base table is one small parquet file => one input split; the
    # explode below fans each row out `multiplier`x, so without this
    # repartition the entire map side (synth + geocode + encode + PIP
    # refine) would run as a single task. Spreading the *pre-fan-out*
    # rows is a cheap shuffle (|documents| rows) that makes the heavy
    # map side scale with the cluster; on a real 10^12-row crawl the
    # source is already thousands of splits and this is a no-op choice.
    docs = docs.repartition(spark.sparkContext.defaultParallelism * 2, "doc_id")
    pages = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1))).alias("rep"),
        F.col("text").alias("base_text"),
        "lang",
    ).select(
        (F.col("doc_id") * multiplier + F.col("rep")).alias("page_id"),
        "base_text",
        "lang",
    )

    pid = F.col("page_id")
    # --- place token: 30% of pages hit one of 5 mega tokens (skew) ---------
    mega_idx = F.pmod(pid, F.lit(10))
    i_mega = F.element_at(
        F.array(*[F.lit(i) for i, _ in MEGA_TOKENS]), (F.pmod(pid, F.lit(5)) + 1).cast("int")
    )
    j_mega = F.element_at(
        F.array(*[F.lit(j) for _, j in MEGA_TOKENS]), (F.pmod(pid, F.lit(5)) + 1).cast("int")
    )
    # deterministic pseudo-uniform spread for the long tail
    i_tail = F.pmod(pid * F.lit(2654435761), F.lit(N_I))
    j_tail = F.pmod(pid * F.lit(40503), F.lit(N_J))
    i = F.when(mega_idx < 3, i_mega).otherwise(i_tail)
    j = F.when(mega_idx < 3, j_mega).otherwise(j_tail)
    loc_tok = F.concat(F.lit("loc_"), i.cast("string"), F.lit("_"), j.cast("string"))

    text = F.concat(F.col("base_text"), F.lit(" "), loc_tok)
    url = F.concat(
        F.lit("https://site"),
        F.pmod(pid, F.lit(N_HOSTS)).cast("string"),
        F.lit(".example/p/"),
        pid.cast("string"),
    )

    # --- crawl chains: every 5th url re-crawled 2-5 times -------------------
    n_crawls = F.when(F.pmod(pid, F.lit(5)) == 0, (F.pmod(pid, F.lit(4)) + 2)).otherwise(
        F.lit(1)
    )
    base = pages.select(
        url.alias("url"),
        text.alias("text"),
        "lang",
        pid.alias("page_id"),
        F.explode(F.sequence(F.lit(1), n_crawls)).alias("crawl"),
    )
    warc_ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        days=F.pmod(F.col("page_id") * 31 + F.col("crawl") * 7, F.lit(90)).cast("int"),
        mins=F.pmod(F.col("page_id") * 17 + F.col("crawl") * 13, F.lit(1440)).cast("int"),
    )
    # --- outlinks: 3 deterministic hrefs in <head> -------------------------
    # Planted OUTSIDE <body> so html→text extraction stays byte-exact
    # (operators/skew_queries.py slices between the body tags). Target
    # host/path are affine functions of page_id, so both the SQL
    # oracle and numpy tests can rebuild the edge list arithmetically
    # without parsing (operators/webgraph.py).
    def _link(m: int) -> Column:
        host = F.pmod(F.col("page_id") * 7 + m * 13, F.lit(N_HOSTS))
        tgt = F.col("page_id") * 3 + m
        return F.concat(
            F.lit('<link href="https://site'),
            host.cast("string"),
            F.lit(".example/p/"),
            tgt.cast("string"),
            F.lit('">'),
        )

    head = F.concat(F.lit("<head>"), _link(1), _link(2), _link(3), F.lit("</head>"))
    html = F.concat(
        F.lit("<html>"), head, F.lit("<body>"), F.col("text"), F.lit("</body></html>")
    ).cast("binary")
    return base.select(
        "url",
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        "text",
        "lang",
    )


# ---------------------------------------------------------------------------
# Deterministic vectorized geocoder (SURVEY.md §2.8 geo scalars)
# ---------------------------------------------------------------------------


def geocode_cols(text: Column) -> tuple[Column, Column]:
    """lon/lat Column expressions from the embedded place token.

    Pure JVM (regexp + arithmetic) — the geocode of 10^12 rows never
    crosses into Python. A pandas-UDF variant with identical semantics
    lives in functions/geo_udfs.py for the API-parity surface."""
    # try_cast, not cast: regexp_extract yields "" on no-match, and
    # under ANSI mode (Spark 4 default) CAST('' AS BIGINT) THROWS —
    # a junk page on a real crawl must geocode to NULL, not kill the
    # job (caught by tests/test_robustness.py)
    i = F.regexp_extract(text, r"loc_(\d+)_(\d+)", 1).try_cast("long")
    j = F.regexp_extract(text, r"loc_(\d+)_(\d+)", 2).try_cast("long")
    lon = F.lit(-180.0) + i * F.lit(LON_STEP) + F.lit(LON_OFF)
    lat = F.lit(-90.0) + j * F.lit(LAT_STEP) + F.lit(LAT_OFF)
    return lon, lat


def geocode(pages: DataFrame, res: int) -> DataFrame:
    """The geocode step of the pages → tiles path, on any pages frame,
    batch or streaming: place token → ``lon``/``lat`` → drop the rows
    that do not geocode → ``cell`` at ``res``.

    Pages whose text has no place token geocode to NULL and are
    DROPPED here, never NULL-tiled: on a real crawl a junk page would
    otherwise flow into the tile aggregation as a NULL-cell group, and
    batch and stream tiles would differ (asserted in
    tests/test_robustness.py and tests/test_streaming.py)."""
    lon, lat = geocode_cols(F.col("text"))
    return (
        pages.select(
            "*",
            lon.alias("lon"),
            lat.alias("lat"),
        )
        .filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
        .withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), res))
    )


def geocoded_pages(spark: SparkSession, sf_dir: str, multiplier: int = 1, res: int = 7) -> DataFrame:
    """:func:`geocode` applied to :func:`synth_pages`: pages + (lon,
    lat, cell), the standard front half of the flagship trace
    (SURVEY.md §3.2): scan → geocode → encode. The synthetic table
    always carries a place token, so the drop is a no-op on this
    data."""
    return geocode(synth_pages(spark, sf_dir, multiplier), res)


def with_contributor(pages: DataFrame) -> DataFrame:
    """``pages`` plus ``contributor``: the site id of the url that
    :func:`synth_pages` builds (``https://site<N>.example/...``), the
    uid analog of the reference's element history `[U: osmparsing]`
    and the key the tile vectors count distinct."""
    return pages.withColumn(
        "contributor", F.regexp_extract("url", r"site(\d+)", 1).try_cast("long")
    )


def geocode_np(texts) -> tuple:
    """numpy oracle twin of :func:`geocode_cols` (same semantics)."""
    import re

    import numpy as np

    pat = re.compile(r"loc_(\d+)_(\d+)")
    lon = np.empty(len(texts))
    lat = np.empty(len(texts))
    for k, t in enumerate(texts):
        m = pat.search(t)
        i, j = int(m.group(1)), int(m.group(2))
        lon[k] = -180.0 + i * LON_STEP + LON_OFF
        lat[k] = -90.0 + j * LAT_STEP + LAT_OFF
    return lon, lat
