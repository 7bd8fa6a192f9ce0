"""DuckDB-SQL mirrors of the cell index and the synthetic pages table.

The cell id (geo/cells.py) is pure integer/double arithmetic, and the
pages table (sources/pages.py) is a pure function of `documents` — so
both are expressible in ANSI-ish SQL, which upgrades the geo tile
queries from rows-only driver checks to full value-hash parity: DuckDB
independently synthesizes the pages, geocodes them, Morton-encodes the
cells, and aggregates the tiles; any drift in the Spark plan breaks
the hash.

The bit-spread mirrors cells._MAGIC with the 16-shift round dropped:
for x < 2^16 that round is the identity (the mask keeps bits 0-15 and
32-47; x<<16 lands in 16-31), and res ≤ 15 ⇒ x,y < 2^15.
"""

from __future__ import annotations

from ..sources.pages import LAT_STEP, LON_OFF, LAT_OFF, LON_STEP, MEGA_TOKENS, N_I, N_J

_SPREAD_ROUNDS = (
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

RES_BITS_SHIFT = 56


def SPREAD(v: str) -> str:
    s = f"({v})"
    for shift, mask in _SPREAD_ROUNDS:
        s = f"((({s}) | (({s}) << {shift})) & {mask})"
    return s


def X_SQL(lon: str, res: int) -> str:
    # float literals cast to DOUBLE explicitly: DuckDB parses `360.0`
    # as DECIMAL, whose division/floor need not match Spark's IEEE path.
    # DuckDB's % keeps the dividend's sign; the CASE is Spark's pmod
    # (adding 360 only to a negative remainder keeps the others exact)
    n = 1 << res
    r = f"((({lon}) + CAST(180.0 AS DOUBLE)) % CAST(360.0 AS DOUBLE))"
    lonw = (
        f"CASE WHEN {r} < 0 THEN ({r} + CAST(360.0 AS DOUBLE)) "
        f"% CAST(360.0 AS DOUBLE) ELSE {r} END"
    )
    return (
        f"greatest(least(CAST(floor(({lonw}) / CAST(360.0 AS DOUBLE) * {n}) "
        f"AS BIGINT), {n - 1}), 0)"
    )


def Y_SQL(lat: str, res: int) -> str:
    n = 1 << res
    return (
        f"greatest(least(CAST(floor(((({lat}) + CAST(90.0 AS DOUBLE)) "
        f"/ CAST(180.0 AS DOUBLE)) * {n}) "
        f"AS BIGINT), {n - 1}), 0)"
    )


def CELL_SQL(lon: str, lat: str, res: int) -> str:
    """Morton cell id — twin of cells.cell_encode_col. The x/y exprs are
    hoisted through a scalar subquery-free textual CTE-less form; keep
    `lon`/`lat` short column references to bound SQL size."""
    x = X_SQL(lon, res)
    y = Y_SQL(lat, res)
    return (
        f"({res << RES_BITS_SHIFT} | {SPREAD(x)} | ({SPREAD(y)} << 1))"
    )


def CELL_PARENT_SQL(cell: str, child_res: int, parent_res: int) -> str:
    morton_mask = (1 << RES_BITS_SHIFT) - 1
    shift = 2 * (child_res - parent_res)
    return (
        f"({parent_res << RES_BITS_SHIFT} | ((({cell}) & {morton_mask}) >> {shift}))"
    )


# ---------------------------------------------------------------------------
# synthetic pages (multiplier=1 ⇒ page_id = doc_id) — sources/pages.py twin
# ---------------------------------------------------------------------------

_I_MEGA = "CASE (doc_id % 5) " + " ".join(
    f"WHEN {k} THEN {i}" for k, (i, _) in enumerate(MEGA_TOKENS)
) + " END"
_J_MEGA = "CASE (doc_id % 5) " + " ".join(
    f"WHEN {k} THEN {j}" for k, (_, j) in enumerate(MEGA_TOKENS)
) + " END"

PAGES_SQL = f"""
    page_geo AS (
        SELECT doc_id, lang, text AS base_text,
               CASE WHEN doc_id % 10 < 3 THEN {_I_MEGA}
                    ELSE (doc_id * 2654435761) % {N_I} END AS i,
               CASE WHEN doc_id % 10 < 3 THEN {_J_MEGA}
                    ELSE (doc_id * 40503) % {N_J} END AS j,
               CASE WHEN doc_id % 5 = 0 THEN (doc_id % 4) + 2 ELSE 1 END
                   AS n_crawls
        FROM documents
    ),
    page_crawl AS (
        SELECT *, unnest(generate_series(1, n_crawls)) AS crawl FROM page_geo
    ),
    pages AS (
        SELECT 'https://site' || CAST(doc_id % 97 AS VARCHAR)
                   || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
               TIMESTAMP '2024-01-01 00:00:00'
                   + CAST((doc_id * 31 + crawl * 7) % 90 AS INT)
                       * INTERVAL '1 day'
                   + CAST((doc_id * 17 + crawl * 13) % 1440 AS INT)
                       * INTERVAL '1 minute' AS warc_ts,
               lang,
               base_text || ' loc_' || CAST(i AS VARCHAR)
                   || '_' || CAST(j AS VARCHAR) AS text,
               doc_id % 97 AS contributor,
               CAST(-180.0 AS DOUBLE) + i * CAST({LON_STEP} AS DOUBLE)
                   + CAST({LON_OFF} AS DOUBLE) AS lon,
               CAST(-90.0 AS DOUBLE) + j * CAST({LAT_STEP} AS DOUBLE)
                   + CAST({LAT_OFF} AS DOUBLE) AS lat
        FROM page_crawl
    )
"""
