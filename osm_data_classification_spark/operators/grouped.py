"""Grouped-map pandas UDF operators (SURVEY.md §2.10 applyInPandas).

Most per-group logic in this engine is expressible relationally and
stays JVM-side; these operators cover the genuinely-custom per-group
shape — arbitrary numpy over one group's rows — with the
`applyInPandas` contract (one pandas DataFrame per group, Arrow both
ways). Each is oracle-checked: the group statistics are defined with
discrete (index-based) semantics so DuckDB computes identical values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


def grouped_quantiles(
    df: DataFrame, key: str, value: str, qs: tuple[float, ...] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """Exact per-group discrete quantiles: the value at index
    ceil(n·q)−1 of the sorted group — the type-1 (SQL `quantile_disc`)
    definition, so the DuckDB oracle is value-exact.
    `applyInPandas`: each group becomes one pandas frame in one task;
    groups are the unit of parallelism, so the shuffle is one exchange
    on the group key and skewed groups are bounded by group size."""
    out_cols = ", ".join(f"q{int(q * 100)} double" for q in qs)

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.sort(pdf[value].to_numpy())
        n = len(v)
        row = {key: [pdf[key].iloc[0]], "n": [n]}
        for q in qs:
            idx = max(0, int(np.ceil(n * q)) - 1)
            row[f"q{int(q * 100)}"] = [float(v[idx])]
        return pd.DataFrame(row)

    schema = f"{key} long, n long, {out_cols}"
    return df.select(key, value).groupBy(key).applyInPandas(per_group, schema)


@register(
    "grouped_quantiles_apply",
    """
    SELECT user_id,
           count(*) AS n,
           CAST(quantile_disc(value, 0.25) AS DOUBLE) AS q25,
           CAST(quantile_disc(value, 0.50) AS DOUBLE) AS q50,
           CAST(quantile_disc(value, 0.75) AS DOUBLE) AS q75
    FROM events GROUP BY user_id
    """,
)
def grouped_quantiles_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value quantiles via applyInPandas; DuckDB's
    quantile_disc uses the same floor((n-1)q) discrete definition, so
    the oracle is value-exact."""
    ev = load_table(spark, sf_dir, "events")
    return grouped_quantiles(ev, "user_id", "value")


@register(
    "grouped_zscore_apply",
    """
    WITH stats AS (
        SELECT user_id,
               CAST(sum(CAST(round(value, 4) AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*) AS mu,
               count(*) AS n
        FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           CAST(floor((e.value - s.mu) * 1000) AS BIGINT) AS dev_x1000
    FROM events e JOIN stats s USING (user_id)
    """,
)
def grouped_zscore_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group centering (deviation from the group mean) as a
    grouped-map kernel — the normalize-within-group shape. The mean is
    an order-insensitive decimal sum so both engines agree bit-for-bit;
    output integer-scaled."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        # HALF_UP quantize, not Python round(): round() is banker's
        # rounding, but DuckDB ROUND (and Spark F.round) are
        # half-away-from-zero — exact scale-4 midpoints like 0.03125
        # would diverge (round-2 ADVICE)
        q4 = Decimal("0.0001")
        total = sum(
            Decimal(repr(float(v))).quantize(q4, rounding=ROUND_HALF_UP)
            for v in pdf["value"]
        )
        mu = float(total) / len(pdf)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "dev_x1000": np.floor((pdf["value"].to_numpy() - mu) * 1000).astype(
                    "int64"
                ),
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        per_group, "event_id long, user_id long, dev_x1000 long"
    )


# ---------------------------------------------------------------------------
# real Python UDTF (Spark 4 table function surface, §2.10)
# ---------------------------------------------------------------------------

_UDTF_SQL = """
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    )
    SELECT doc_id, term, COUNT(*) AS n
    FROM words GROUP BY doc_id, term HAVING COUNT(*) >= 2
"""


@register("udtf_term_counts", _UDTF_SQL)
def udtf_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10's table-function row made REAL: a Python UDTF (Spark 4
    `@udtf`, Arrow-optimized) fans each document out to its repeated
    terms (count >= 2) via LATERAL join — the genuine user-defined
    table function API, not an explode equivalent. This is the
    API-surface demo: every row crosses the Python boundary, where an
    all-JVM split + explode + groupBy would not. FULL oracle: DuckDB
    re-counts with unnest + HAVING."""
    from collections import Counter

    from pyspark.sql.functions import udtf

    @udtf(returnType="term: string, n: long", useArrow=True)
    class RepeatedTerms:
        def eval(self, text: str):
            if not text:
                return
            for term, n in Counter(text.split(" ")).items():
                if n >= 2:
                    yield term, n

    spark.udtf.register("repeated_terms", RepeatedTerms)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_udtf_in")
    return spark.sql(
        "SELECT d.doc_id, t.term, t.n "
        "FROM docs_udtf_in d, LATERAL repeated_terms(d.text) t"
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection (genuinely sequential per-group scan)
# ---------------------------------------------------------------------------

_CUSUM_K = 5  # drift when the accumulated excess reaches K x med2


@register(
    "grouped_cusum_apply",
    f"""
    WITH RECURSIVE daily AS (
        SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT user_id, CAST(2 * median(n) AS BIGINT) AS med2
        FROM daily GROUP BY user_id
    ),
    seq AS (
        SELECT d.user_id, d.day, d.n, m.med2,
               row_number() OVER (PARTITION BY d.user_id
                                  ORDER BY d.day) AS idx
        FROM daily d JOIN med m USING (user_id)
    ),
    cusum AS (
        SELECT user_id, day, n, med2, idx,
               greatest(0, 2 * n - med2 - (med2 + 3) // 4) AS s2
        FROM seq WHERE idx = 1
        UNION ALL
        SELECT s.user_id, s.day, s.n, s.med2, s.idx,
               greatest(0, c.s2 + 2 * s.n - s.med2
                           - (s.med2 + 3) // 4) AS s2
        FROM seq s JOIN cusum c
          ON c.user_id = s.user_id AND s.idx = c.idx + 1
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n_events, med2,
           CAST(s2 AS BIGINT) AS cusum2,
           (s2 >= {_CUSUM_K} * med2) AS drift
    FROM cusum
    """,
)
def grouped_cusum_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection over each host's daily volume —
    the genuinely SEQUENTIAL per-group scan no window frame can
    express: S_i = max(0, S_{i-1} + (x_i − target − slack)) resets on
    the max, so S_i depends on the entire prefix through a
    non-associative recurrence (a running sum sees a one-day spike;
    CUSUM sees sustained drift and DECAYS a spike at slack per
    on-target day — without the slack term an on-target day adds
    exactly zero and a spike would be remembered forever). Target =
    the host's median daily volume via the doubled-median integer
    construction (events_anomaly_mad); slack = ceil(med2/4), also an
    exact integer, so every value is an exact BIGINT; drift fires
    when the accumulated doubled excess reaches {_CUSUM_K}× med2.

    applyInPandas is the RIGHT tool here, not a fallback: the
    recurrence needs the group's full ordered series in one place,
    and the pre-aggregated daily table is tiny (≤ days per host), so
    the Arrow transfer is bounded by days × hosts regardless of event
    count — aggregate relationally first, ship only the series to
    Python. FULL oracle: DuckDB unrolls the identical recurrence as a
    RECURSIVE CTE — the only catalog entry whose oracle is a
    recursive query over a per-group recurrence."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    med = daily.groupBy("user_id").agg(
        (2 * F.median("n")).cast("long").alias("med2")
    )
    seq = daily.join(med, "user_id")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        med2 = int(pdf["med2"].iloc[0])
        s = 0
        out = []
        slack2 = (med2 + 3) // 4
        for n in pdf["n"].astype("int64"):
            s = max(0, s + 2 * int(n) - med2 - slack2)
            out.append(s)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "day": pdf["day"].dt.strftime("%Y-%m-%d"),
                "n_events": pdf["n"].astype("int64"),
                "med2": pdf["med2"].astype("int64"),
                "cusum2": pd.Series(out, dtype="int64"),
                "drift": [v >= _CUSUM_K * med2 for v in out],
            }
        )

    schema = (
        "user_id long, day string, n_events long, med2 long,"
        " cusum2 long, drift boolean"
    )
    return seq.groupBy("user_id").applyInPandas(per_group, schema)
