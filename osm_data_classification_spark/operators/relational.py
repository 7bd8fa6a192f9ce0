"""Relational operator catalog (SURVEY.md §2, milestone M1).

Every function here is one operator row from the survey's inventory —
projections/filters (P*), joins (J1–J4, J7), aggregations (A1–A9),
windows (W1–W5), sorts, set ops, scalar families, and the
batch-semantics versions of the streaming ops (§2.9) — expressed as
Catalyst-native DataFrame programs. Each carries a DuckDB oracle SQL
string; the driver compares row count + schema + order-insensitive
value hash at sf0.01.

Reference parity notes (all `[U]` — /root/reference is empty, SURVEY.md
§0.1): the reference's pandas idioms map as
  sort+shift version enrichment  -> Window lead/lag        (W1)
  groupby per elem/chgset/user   -> groupBy().agg(...)     (A1–A3)
  left merge + fillna(0)         -> left join + coalesce   (J1/P4)
  value_counts().head(K)         -> groupBy.count.orderBy.limit (A6)

Cross-engine float determinism: SUM/AVG over doubles is
order-dependent in IEEE arithmetic, and Spark and DuckDB will not sum
in the same order. Every double aggregate therefore rounds each term
to a fixed scale and sums as DECIMAL (exact, commutative), casting
back to double at the end — both engines produce bit-identical
results regardless of partitioning. See :func:`dsum` / :data:`DSUM`.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from ..streaming.pipeline import replay, stream_dedup


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # DuckDB oracle; None => rows-only check


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, sql: Optional[str] = None):
    """Decorator: file ``fn`` as catalog entry ``name`` in the CATALOG
    of the module that defines it — every operator module keeps its own
    CATALOG, which :mod:`..catalog` merges in declaration order."""

    def deco(fn):
        sys.modules[fn.__module__].CATALOG[name] = QuerySpec(fn, sql)
        return fn

    return deco


# --- cross-engine deterministic float aggregates ---------------------------


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-insensitive sum of doubles: round each term to ``scale``
    decimals, sum exactly as decimal, return double."""
    return F.sum(F.round(col, scale).cast("decimal(38,6)")).cast("double")


def DSUM(expr: str, scale: int = 4) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST(ROUND({expr}, {scale}) AS DECIMAL(38,6))) AS DOUBLE)"


def dec2(col) -> Column:
    """Money columns are 2-decimal values stored as double; quantize to
    DECIMAL(18,2) so downstream arithmetic is exact and engine-stable.
    (Rounding *products* of doubles instead hits true decimal midpoints
    — e.g. a ...05 at the target scale — where HALF_UP disagrees across
    engines; exact decimal multiply has no midpoints to lose.)"""
    return (col if isinstance(col, Column) else F.col(col)).cast("decimal(18,2)")


def DEC2(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL(18,2))"


def ts_str(col: Column) -> Column:
    """Timestamp -> canonical string (µs), identical in both engines."""
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")


TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# ===========================================================================
# 2.1/2.2 scans, projections, filters, dedup
# ===========================================================================


@register("scan_pages", "SELECT doc_id, lang, n_chars FROM documents")
def scan_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: source scan + column projection. Catalyst pushes the 3-column
    projection into the parquet reader (ReadSchema pruning)."""
    return load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")


@register(
    "filter_lang_en",
    "SELECT doc_id, source, n_chars FROM documents WHERE lang = 'en'",
)
def filter_lang_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: predicate filter, pushed down to the parquet scan."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "source", "n_chars")
    )


@register("distinct_users", "SELECT DISTINCT user_id FROM events")
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: dedup — partial-aggregate dedup map-side, then exchange."""
    return load_table(spark, sf_dir, "events").select("user_id").distinct()


# ===========================================================================
# 2.3 joins
# ===========================================================================


@register(
    "join_orders_customer",
    """
    SELECT c.c_custkey, c.c_name,
           COALESCE(o.order_cnt, 0) AS order_cnt,
           COALESCE(o.total_spent, 0.0) AS total_spent
    FROM customer c
    LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS order_cnt,
               {dsum} AS total_spent
        FROM orders GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """.format(dsum=DSUM("o_totalprice", 2)),
)
def join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + P4: the reference's `user ⨝ editor-counts` left merge with
    fillna(0) `[U: UserMetadataExtract]`. Aggregate-before-join shrinks
    the build side; Catalyst broadcasts it (customer is the probe)."""
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum(F.col("o_totalprice"), 2).alias("total_spent"),
        )
    )
    return customer.join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_name",
        F.coalesce("order_cnt", F.lit(0)).alias("order_cnt"),
        F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
    )


@register(
    "join_lineitem_orders",
    """
    SELECT o.o_orderstatus, COUNT(*) AS n_lines,
           CAST(SUM({p} * (1 - {d})) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """.format(p=DEC2("l.l_extendedprice"), d=DEC2("l.l_discount")),
)
def join_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: fact-fact equi join (history ⨝ changeset meta `[U]`).
    Sort-merge at scale; AQE may demote to broadcast at sf0.01."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(dec2("l_extendedprice") * (1 - dec2("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "star_join_3way",
    """
    SELECT r.r_name, COUNT(*) AS n_orders, {dsum} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """.format(dsum=DSUM("o.o_totalprice", 2)),
)
def star_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: star-schema enrichment as chained broadcast-hash joins —
    nation/region are tiny dims, broadcast explicitly so the fact table
    never shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "semi_join_active_users",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-semi — existence check without row duplication."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "anti_join_inactive",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: left-anti (exclude-bots analog `[U]`)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "range_join_events_day",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_in_window
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate BETWEEN o.o_orderdate
                          AND o.o_orderdate + INTERVAL 30 DAY
    GROUP BY o.o_orderpriority
    """,
)
def range_join_events_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: range/interval predicate rides on the equi key, so Catalyst
    still plans a hash/sort-merge join on l_orderkey with the BETWEEN
    as a post-join filter — never a BNLJ."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cond = (li.l_orderkey == orders.o_orderkey) & F.col("l_shipdate").between(
        F.col("o_orderdate"), F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_in_window"))
    )


# ===========================================================================
# 2.4 aggregations
# ===========================================================================


@register(
    "agg_element_meta",
    """
    SELECT l_orderkey,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           strftime(MIN(l_shipdate), '{fmt}') AS first_ship,
           strftime(MAX(l_shipdate), '{fmt}') AS last_ship,
           date_diff('day', CAST(MIN(l_shipdate) AS DATE),
                            CAST(MAX(l_shipdate) AS DATE)) AS lifespan_days
    FROM lineitem GROUP BY l_orderkey
    """.format(fmt=TS_FMT_DUCK),
)
def agg_element_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-element metadata `[U: ElementMetadataExtract]` — version
    count, distinct contributors, created_at/lastmodif_at, lifespan.
    Single hash aggregate; partial aggregation combines map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        ts_str(F.min("l_shipdate")).alias("first_ship"),
        ts_str(F.max("l_shipdate")).alias("last_ship"),
        F.datediff(
            F.to_date(F.max("l_shipdate")), F.to_date(F.min("l_shipdate"))
        ).cast("long").alias("lifespan_days"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "agg_pivot_eventtype",
    """
    SELECT user_id,
           {cols}
    FROM events GROUP BY user_id
    """.format(
        cols=",\n           ".join(
            # CAST: DuckDB SUM(int) is HUGEINT -> float64 in the
            # driver's pandas canon, vs Spark int64 (r1 hash fail)
            f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
            for t in EVENT_TYPES
        )
    ),
)
def agg_pivot_eventtype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-changeset per-type modification counts
    `[U: ChangeSetMetadataExtract]` as conditional aggregation — a
    pivot with a *static* schema (a real `pivot()` would need a values
    scan first; conditional agg is one pass and plan-stable)."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return ev.groupBy("user_id").agg(*aggs)


@register(
    "agg_user_features",
    """
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
           strftime(MIN(ts), '{fmt}') AS first_seen,
           strftime(MAX(ts), '{fmt}') AS last_seen,
           {vsum} AS total_value,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_errors,
           ROUND(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS error_rate
    FROM events GROUP BY user_id
    """.format(fmt=TS_FMT_DUCK, vsum=DSUM("value", 2)),
)
def agg_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: the per-user feature matrix `[U: UserMetadataExtract]`,
    BASELINE.json:6 "user-classification groupBy features" — one wide
    groupBy pass (counts, distincts, extents, rates)."""
    ev = load_table(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        ts_str(F.min("ts")).alias("first_seen"),
        ts_str(F.max("ts")).alias("last_seen"),
        dsum(F.col("value"), 2).alias("total_value"),
        n_err.alias("n_errors"),
        F.round(n_err.cast("double") / F.count(F.lit(1)), 6).alias("error_rate"),
    )


@register(
    "agg_approx_distinct",
    """
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_3rsd
    FROM events
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HLL++ sketch — the documented fast path for `nunique` at
    10^12 rows (exact countDistinct needs a full shuffle of the keys;
    approx_count_distinct is one pass, mergeable map-side).

    FULL oracle despite the approximation (round-2 VERDICT #2): the
    output is (exact_users, within_3rsd) — the HLL estimate itself is
    engine-internal and not cross-engine reproducible, so it is folded
    into the BOOLEAN bound verdict instead of being emitted. The DuckDB
    oracle recomputes the exact count and asserts the bound as the
    literal TRUE, so an out-of-bound sketch (or a broken exact path)
    flips the flag and fails the driver's value hash — the error-bound
    assert is now driver-visible, not pytest-only."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users"))
    return agg.select(
        "exact_users",
        (err <= F.greatest(F.lit(1), F.lit(3 * 0.01) * F.col("exact_users"))).alias(
            "within_3rsd"
        ),
    )


@register(
    "agg_quantile_bound",
    """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS n,
           CAST(FLOOR(quantile_disc(value, 0.5) * 1000) AS BIGINT)
               AS exact_p50_x1000,
           TRUE AS within_bound
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def agg_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4's quantile sibling: the percentile SKETCH with a
    driver-visible error bound. `approx_percentile(value, 0.5, acc)`
    is the one-pass mergeable path at 10^12 rows (a t-digest/KLL-class
    sketch; the exact quantile needs a per-group sort). Like
    agg_approx_distinct, the sketch value itself is engine-internal,
    so it folds into a BOOLEAN rank-bound verdict: the returned value
    is a real element, and its rank interval [count(<v)+1, count(<=v)]
    must overlap rank 0.5·n ± n/acc (+1 index slack). The exact p50
    (discrete, floor((n-1)·q) index — same definition as DuckDB's
    quantile_disc, see grouped_quantiles_apply) is emitted for the
    value hash.

    Plan: one groupBy pass (sketch + count), one broadcast join back
    (the agg side is |event_type| rows — bounded vocabulary, never
    data-sized), one conditional re-aggregation for the rank counts,
    plus the exact-quantile window pass that exists only to GRADE the
    sketch — at scale you run only the first pass."""
    acc = 1000
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    sketch = ev.groupBy("event_type").agg(
        F.expr(f"approx_percentile(value, 0.5, {acc})").alias("approx_p50"),
        F.count("value").alias("n"),
    )
    ranks = (
        ev.join(F.broadcast(sketch), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < F.col("approx_p50"), 1).otherwise(0)).alias(
                "cnt_lt"
            ),
            F.sum(F.when(F.col("value") <= F.col("approx_p50"), 1).otherwise(0)).alias(
                "cnt_le"
            ),
            F.first("n").alias("n"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("value")
    exact = (
        ev.select(
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("nn"),
        )
        .where(F.col("rn") == F.floor((F.col("nn") - 1) / 2) + 1)
        .select(
            "event_type",
            F.floor(F.col("value") * 1000).alias("exact_p50_x1000"),
        )
    )
    slack = (F.col("n") / acc) + 1
    target = F.col("n") * 0.5
    within = (F.col("cnt_lt") + 1 <= target + slack) & (
        F.col("cnt_le") >= target - slack
    )
    return (
        ranks.join(exact, "event_type")
        .select("event_type", "n", "exact_p50_x1000", within.alias("within_bound"))
    )


@register(
    "agg_activity_histogram",
    """
    SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n
    FROM events GROUP BY user_id, date_trunc('day', ts)
    """,
)
def agg_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: temporal activity histogram `[U: chronology]`,
    BASELINE.json:6 "temporal activity histograms"."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "topk_event_types",
    """
    SELECT event_type, COUNT(*) AS n FROM events
    GROUP BY event_type ORDER BY n DESC, event_type LIMIT 3
    """,
)
def topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: top-K vocabulary (`value_counts().head(K)`
    `[U: extract_user_editor]`) — physical plan is
    TakeOrderedAndProject, no global sort. Tie-broken on the key so the
    cut is deterministic across engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(3)
    )


@register(
    "rollup_lang_source",
    """
    SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY ROLLUP(lang, source)
    """,
)
def rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: grouping-sets rollup — one pass over the input computes all
    three granularities (the reference runs three separate passes
    `[U]`); Spark expands via a single Expand + hash agg."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars")
    )


@register(
    "normalize_minmax",
    """
    SELECT c_custkey,
           ROUND((c_acctbal - mn) / (mx - mn), 6) AS norm_bal
    FROM customer,
         (SELECT MIN(c_acctbal) AS mn, MAX(c_acctbal) AS mx FROM customer)
    """,
)
def normalize_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: min-max normalization `[U: analysis normalization]` — global
    extents via a 1-row aggregate broadcast-cross-joined back (no
    window-over-everything, which would single-partition the data)."""
    cust = load_table(spark, sf_dir, "customer")
    ext = cust.agg(F.min("c_acctbal").alias("mn"), F.max("c_acctbal").alias("mx"))
    return cust.crossJoin(F.broadcast(ext)).select(
        "c_custkey",
        F.round((F.col("c_acctbal") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6).alias(
            "norm_bal"
        ),
    )


# ===========================================================================
# 2.5 windows
# ===========================================================================


@register(
    "window_version_chain",
    """
    SELECT user_id, event_id,
           ROW_NUMBER() OVER w AS version,
           (ROW_NUMBER() OVER w = 1) AS init,
           (LEAD(event_id) OVER w IS NULL) AS up_to_date,
           (LEAD(event_type) OVER w IS DISTINCT FROM event_type) AS willbe_corr,
           LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_version_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: the reference's sort+shift version-chain enrichment
    `[U: OSMElementEnrichment]`: init / up_to_date / willbe_corr flags
    and time-to-next-version, as lead() over a per-key window — one
    sort per partition key instead of a global sort."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("version"),
        (F.row_number().over(w) == 1).alias("init"),
        F.lead("event_id").over(w).isNull().alias("up_to_date"),
        (
            ~F.lead("event_type").over(w).eqNullSafe(F.col("event_type"))
        ).alias("willbe_corr"),
        (F.lead(us).over(w) - us).alias("gap_us"),
    )


@register(
    "window_rank_users",
    """
    SELECT c_nationkey, c_custkey, c_acctbal,
           RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_rank
    FROM customer
    """,
)
def window_rank_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: ranking within group."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    return cust.select(
        "c_nationkey", "c_custkey", "c_acctbal", F.rank().over(w).alias("bal_rank")
    )


@register(
    "window_running_sum",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(38,4))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: running total `[U: chronology]` — decimal accumulator for
    cross-engine exactness."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.round("value", 2).cast("decimal(38,4)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


@register(
    "window_avg_gap",
    """
    SELECT user_id,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
           COUNT(*) AS n_gaps,
           CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS avg_gap_us_floor
    FROM (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    ) WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def window_avg_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: mean time between modifications `[U: ElementMetadataExtract]`
    — lag() then groupBy. All-integer output: the earlier
    ROUND(double, 4) form hit a representable decimal midpoint at
    sf0.1 where HALF_UP disagreed across engines; exact int64 sum +
    floor division can never diverge."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.sum("gap_us").alias("sum_gap_us"),
        F.count(F.lit(1)).alias("n_gaps"),
        F.expr("sum(gap_us) div count(1)").alias("avg_gap_us_floor"),
    )


@register(
    "window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: top-k per group (kNN final cut pattern, BASELINE.json:6) —
    row_number + filter; Spark plans a partial top-k sort per
    partition, never a global sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


# ===========================================================================
# 2.6 sort/limit + 2.7 set ops
# ===========================================================================


@register(
    "sort_limit_report",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
    """,
)
def sort_limit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6: orderBy+limit → TakeOrderedAndProject (per-partition top-N
    + driver merge; the full data is never globally sorted)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
    )


@register(
    "union_sources",
    """
    SELECT doc_id, source FROM documents WHERE source = 'src0'
    UNION ALL
    SELECT doc_id, source FROM documents WHERE source = 'src1'
    """,
)
def union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: unionByName (`pd.concat` analog `[U]`) — no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return docs.filter(F.col("source") == "src0").unionByName(
        docs.filter(F.col("source") == "src1")
    )


@register(
    "except_new_users",
    """
    SELECT DISTINCT user_id FROM events
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    """,
)
def except_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: EXCEPT — users who never signed up."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("user_id")
        .distinct()
        .subtract(
            ev.filter(F.col("event_type") == "signup").select("user_id").distinct()
        )
    )


@register(
    "intersect_buyers",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    """,
)
def intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: INTERSECT — users who both clicked and purchased."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersect(ev.filter(F.col("event_type") == "click").select("user_id"))
    )


# ===========================================================================
# 2.8 scalar function families
# ===========================================================================


@register(
    "scalar_datetime",
    """
    SELECT event_id,
           CAST(EXTRACT(year FROM ts) AS INT) AS y,
           CAST(EXTRACT(month FROM ts) AS INT) AS m,
           CAST(EXTRACT(day FROM ts) AS INT) AS d,
           CAST(EXTRACT(hour FROM ts) AS INT) AS h,
           epoch_us(ts) AS unix_us,
           strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start
    FROM events
    """,
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 date/time family — parse/extract/truncate, all JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("unix_us"),
        F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week_start"),
    )


@register(
    "scalar_string_norm",
    """
    SELECT doc_id,
           lower(source) AS source_lc,
           CAST(NULLIF(regexp_extract(source, '(\\d+)', 1), '') AS INT) AS src_num,
           length(text) AS text_len,
           regexp_extract(text, '^(\\w+)', 1) AS first_token,
           substr(text, 1, 16) AS prefix16
    FROM documents
    """,
)
def scalar_string_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 string family — the editor-name normalization analog
    `[U: extract_user_editor]`: lowercase, regex extraction, lengths."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.lower("source").alias("source_lc"),
        F.nullif(F.regexp_extract("source", r"(\d+)", 1), F.lit("")).cast("int").alias(
            "src_num"
        ),
        F.length("text").cast("long").alias("text_len"),
        F.regexp_extract("text", r"^(\w+)", 1).alias("first_token"),
        F.substring("text", 1, 16).alias("prefix16"),
    )


@register(
    "scalar_math_ratios",
    """
    SELECT l_orderkey, l_linenumber,
           CAST({p} * (1 - {d}) AS DOUBLE) AS revenue,
           CAST({p} * (1 - {d}) * (1 + {t}) AS DOUBLE) AS charge,
           ROUND(sqrt(l_extendedprice), 6) AS sqrt_price,
           LEAST(l_quantity, 25.0) AS qty_capped
    FROM lineitem
    """.format(
        p=DEC2("l_extendedprice"), d=DEC2("l_discount"), t=DEC2("l_tax")
    ),
)
def scalar_math_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 math family. Only IEEE-exact ops (*, -, +, sqrt, least) are
    oracle-compared — transcendental libm functions (log1p etc.) can
    differ in the last ulp across engines and live in rows-only paths."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = dec2("l_extendedprice") * (1 - dec2("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rev.cast("double").alias("revenue"),
        (rev * (1 + dec2("l_tax"))).cast("double").alias("charge"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_capped"),
    )


@register(
    "json_extract_props",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/§2.8 map-json family: the changeset-XML attribute parse analog
    `[U: extract_user_editor]` via from_json on the events.props JSON."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k"),
    )


@register(
    "array_explode_embedding",
    """
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS idx,
           unnest(embedding) AS val
    FROM embeddings WHERE vec_id < 20
    """,
)
def array_explode_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 array family: posexplode (UDTF-equivalent)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return emb.select("vec_id", F.posexplode("embedding").alias("idx", "val"))


@register(
    "array_l2_norm",
    """
    SELECT vec_id,
           CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE) * CAST(val AS DOUBLE), 12)
                         AS DECIMAL(38,14))) AS DOUBLE) AS l2_sq
    FROM (SELECT vec_id, UNNEST(embedding) AS val FROM embeddings)
    GROUP BY vec_id
    """,
)
def array_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 array math: squared L2 norm via explode + decimal-exact sum
    (order-insensitive, so the shuffle can't perturb the result)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.col("val").cast("double")
    return (
        emb.select("vec_id", F.explode("embedding").alias("val"))
        .groupBy("vec_id")
        .agg(
            F.sum(F.round(x * x, 12).cast("decimal(38,14)"))
            .cast("double")
            .alias("l2_sq")
        )
    )


# ===========================================================================
# 2.9 streaming-shaped ops (batch semantics; same code runs under readStream)
# ===========================================================================


@register(
    "stream_tumbling_daily",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY date_trunc('day', ts)
    """,
)
def stream_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 tumbling event-time window. Uses window() so the identical
    plan runs under readStream + withWatermark
    (streaming/pipeline.py:tumbling_daily)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "n_users",
        )
    )


@register(
    "stream_sliding_hourly",
    """
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events
    FROM (
        SELECT unnest([date_trunc('hour', ts),
                       date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS win_start
        FROM events
    )
    GROUP BY win_start
    """,
)
def stream_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 sliding window (2h width, 1h slide): each event lands in two
    windows; oracle materializes both starts explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
    )


@register(
    "stream_session_agg",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)
                    >= 1800000000 OR LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{fmt}') AS session_start,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """.format(fmt=TS_FMT_DUCK),
)
def stream_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 session windows (30-min gap): changeset-session
    reconstruction analog `[U]`. Spark's session_window merges events
    whose gap < 30 min; the oracle reproduces that with
    gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            ts_str(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


@register(
    "stream_dedup_recrawl",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stateful streaming dedup END-TO-END under a real
    multi-batch stream (the url-re-crawl dedup analog): the events
    table arrives in one micro-batch and EXACT duplicate copies of
    every third event in the next (trigger(availableNow), one file per
    micro-batch), deduped across batches with
    dropDuplicatesWithinWatermark(event_id) (watermark far past the
    data horizon, so no state eviction can race the replayed copies),
    and the surviving rows are aggregated per event type. The
    duplicates are bit-exact copies, so ANY first-arrival winner
    yields the same surviving set — which is what makes a full value
    oracle possible for an otherwise arrival-order-dependent operator.
    FULL oracle: DuckDB aggregates the ORIGINAL events directly; the
    stream passes only if the dedup removed exactly the injected
    copies, across whichever micro-batches they landed in."""
    ev = load_table(spark, sf_dir, "events")
    survived = replay(
        spark,
        {"events": [ev, ev.where(F.col("event_id") % 3 == 0)]},
        lambda events: stream_dedup(events, watermark="3650 days"),
    )
    return survived.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.countDistinct("user_id").alias("n_users"),
    )


_WM_T1 = "2024-01-11 00:00:00"  # A/B arrival split (events span Jan 1-30)
_WM_T2 = "2024-01-21 00:00:00"  # B/C split; C = late replays + fresh tail


def _day_split(df: DataFrame) -> list[DataFrame]:
    """The three arrival batches of the streaming entries: days 1–10,
    11–20 and 21–30 of ``ts``, split at T1 and T2."""
    t1 = F.lit(_WM_T1).cast("timestamp")
    t2 = F.lit(_WM_T2).cast("timestamp")
    return [
        df.where(F.col("ts") < t1),
        df.where((F.col("ts") >= t1) & (F.col("ts") < t2)),
        df.where(F.col("ts") >= t2),
    ]


@register(
    "stream_watermark_late_drop",
    f"""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           {DSUM('value')} AS sum_value
    FROM events
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT cut FROM wm)
    GROUP BY 1, 2
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 `withWatermark` semantics under OUT-OF-ORDER arrival, end to
    end (r3 VERDICT #6: the other two stream entries pin stateful dedup
    and incremental rollup; this one pins the watermark itself — late
    rows dropped, open windows held back, closed windows emitted once).

    Arrival schedule (one file per micro-batch, order pinned by mtime):
      batch 1  A = events with ts <  T1            (days 1-10)
      batch 2  B = events with T1 <= ts < T2       (days 11-20)
      batch 3  C = exact replays of A rows from days 1–9 with
               event_id%7==0 (LATE — event time days behind any
               reachable watermark) plus the fresh tail ts >= T2
               (OPEN — windows never close).

    Measured watermark mechanics (this sandbox's Spark, probed with a
    foreachBatch trace): the watermark VISIBLE to data batch N lags —
    batch 3 ran under max_ts(A) − 1h, not max_ts(A∪B) − 1h — while
    availableNow fires trailing no-data flush batches until the FINAL
    watermark (global max − 1h) has evicted everything it closes. The
    replay set is therefore restricted to days 1–9: those windows end
    ≥ a full day below max_ts(A) − 1h (the laggiest watermark any
    batch-3 row can see, given the table has A-rows after Jan 10
    01:00), so every replay is dropped under lag-0, lag-1, or lag-2
    semantics alike — the oracle does not depend on which one the
    engine implements. The APPEND-mode sink then contains exactly the
    windows whose end ≤ max_ts(all) − 1h, aggregated over ORIGINAL
    rows only: an engine that fails to drop the replays double-counts
    days 1–9 and hash-mismatches; an engine that flushes OPEN state on
    shutdown emits the final day's window and row-count-mismatches.
    T1/T2 sit on day boundaries so no window spans an arrival split;
    the oracle needs no batch simulation, just the closed-window
    predicate under the global watermark.

    Scale shape: one windowed streaming agg — state is bounded by
    (open windows × event types), never by input rows; the late filter
    is applied before state update, so replay storms cost a scan, not
    state growth."""
    ev = load_table(spark, sf_dir, "events")
    a, b, tail = _day_split(ev)
    t1 = F.lit(_WM_T1).cast("timestamp")
    late = ev.where(
        (F.col("ts") < F.date_sub(t1, 1).cast("timestamp"))
        & (F.col("event_id") % 7 == 0)
    )
    emitted = replay(
        spark,
        {"events": [a, b, late.unionAll(tail)]},
        lambda events: events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
            dsum(F.col("value")).alias("sum_value"),
        ),
    )
    return emitted.select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "sum_event_id",
        "sum_value",
    )


_SESS_GAP = "2 days"      # session gap (events are sparse per user)
_SESS_GAP_SQL = "INTERVAL 2 DAY"


@register(
    "stream_session_dwell",
    f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > {_SESS_GAP_SQL}
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, ts, event_id,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS sid
        FROM flagged
    ),
    agg AS (
        SELECT user_id,
               strftime(MIN(ts), '{TS_FMT_DUCK}') AS session_start,
               MAX(ts) + {_SESS_GAP_SQL} AS sess_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS sum_event_id
        FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start,
           strftime(sess_end, '{TS_FMT_DUCK}') AS session_end,
           n_events, sum_event_id
    FROM agg
    WHERE sess_end <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_session_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STREAMING session windows — the third streaming semantic
    pinned end-to-end (dedup: stream_dedup_recrawl; watermark
    drop/hold: stream_watermark_late_drop; here: cross-batch session
    MERGE). Events stream in event-time order as three mtime-pinned
    files (days 1–10 / 11–20 / 21–30); per-user sessions with a 2-day
    gap are aggregated in APPEND mode, so a session straddling a file
    boundary lives in the state store as an OPEN window after its
    first batch and must MERGE with the next batch's rows — the
    session_window state-merge path batch sessionization never
    exercises.

    A session closes when the watermark (1h delay) passes its end
    (last event + gap); availableNow's trailing flush batches run the
    final watermark forward (the stream_watermark_late_drop lesson),
    so the sink holds exactly the sessions with end ≤ max_ts − 1h —
    each user's final session stays OPEN in state and must NOT be
    emitted. FULL oracle: DuckDB sessionizes with the identical gap
    rule (lag/cumsum) and applies the same closed-session predicate;
    an engine that mis-merges across batches splits sessions and
    mismatches on n_events, one that flushes open state on shutdown
    emits extra rows.

    Scale shape: state is bounded by OPEN sessions (≤ active users),
    never input rows; the input is one pass, no pre-shuffle beyond
    the session-window aggregation's own exchange."""
    emitted = replay(
        spark,
        {"events": _day_split(load_table(spark, sf_dir, "events"))},
        lambda events: events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", _SESS_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").cast("long").alias("sum_event_id"),
        ),
    )
    return emitted.select(
        "user_id",
        ts_str(F.col("w.start")).alias("session_start"),
        ts_str(F.col("w.end")).alias("session_end"),
        "n_events",
        "sum_event_id",
    )


def _fetch_robots_join(
    spark: SparkSession,
    fetch: list[DataFrame],
    robots: list[DataFrame],
    how: str,
) -> DataFrame:
    """Replay the fetch and robots arrival batches as two 1h-watermarked
    streams and interval-join them per host on ``robots_ts ∈
    [fetch_ts − 2 days, fetch_ts]`` (the stream-stream join entries)."""
    def side(s: DataFrame, prefix: str) -> DataFrame:
        return s.select(
            F.col("user_id"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        ).withWatermark(f"{prefix}_ts", "1 hour")

    def join(fetch: DataFrame, robots: DataFrame) -> DataFrame:
        r = side(robots, "robots").withColumnRenamed("user_id", "r_user_id")
        return side(fetch, "fetch").join(
            r,
            (F.col("user_id") == F.col("r_user_id"))
            & (
                F.col("robots_ts")
                >= F.col("fetch_ts") - F.expr("INTERVAL 2 DAYS")
            )
            & (F.col("robots_ts") <= F.col("fetch_ts")),
            how,
        )

    emitted = replay(spark, {"fetch": fetch, "robots": robots}, join)
    return emitted.select(
        "user_id",
        "fetch_id",
        "robots_id",
        ts_str(F.col("fetch_ts")).alias("fetch_ts"),
        ts_str(F.col("robots_ts")).alias("robots_ts"),
    )


@register(
    "stream_stream_join",
    """
    SELECT f.user_id,
           f.event_id AS fetch_id,
           r.event_id AS robots_id,
           strftime(f.ts, '{fmt}') AS fetch_ts,
           strftime(r.ts, '{fmt}') AS robots_ts
    FROM events f
    JOIN events r
      ON r.user_id = f.user_id
     AND f.event_id % 2 = 0
     AND r.event_id % 2 = 1
     AND r.ts BETWEEN f.ts - INTERVAL 2 DAY AND f.ts
    """.format(fmt=TS_FMT_DUCK),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 STREAM-STREAM watermarked interval join, end to end — the
    fourth and last first-class Structured Streaming semantic (r4
    VERDICT #7; the others: stateful dedup, watermark drop/hold,
    session merge). The recrawl-pipeline shape: a crawl-FETCH stream
    (even event_ids) inner-joins a ROBOTS-CHANGE stream (odd
    event_ids) per host (user_id analog) on the interval
    ``robots_ts ∈ [fetch_ts − 2 days, fetch_ts]`` — "which robots
    revisions govern this fetch". Both sides carry a 1h watermark and
    stream as three mtime-pinned files each, split on the same day
    boundaries (days 1–10 / 11–20 / 21–30), so cross-batch matches
    (a fetch early in batch k matching robots late in batch k−1)
    exercise the join STATE STORE: Spark must buffer each side until
    the opposite watermark clears ``robots_ts + 2d`` / ``fetch_ts``.

    Late-input discipline: fetch batch 3 additionally replays fetches
    from days 1–7 (event_id % 14 == 0). Those are late under lag-0/1/2
    watermark semantics alike (the stream_watermark_late_drop
    construction — even the laggiest reachable watermark, max_ts(batch
    1) − 1h, sits past Jan 10 01:00 while the replays end Jan 7), AND
    their entire candidate-match window (robots_ts ≤ Jan 7 + 2d = Jan
    9) is below that same watermark, so whether the engine drops the
    late row on input or has already evicted the matching state, the
    replays must contribute ZERO pairs. An engine that leaks late
    inputs into the join emits duplicate pairs and fails on row count;
    one that evicts state too early drops cross-boundary matches and
    fails on count+hash. FULL oracle: a plain DuckDB interval join
    over the ORIGINAL rows — inner stream-stream join emits every
    in-watermark match exactly once, so no closed-window predicate is
    needed.

    Scale shape: the steady-state store holds only rows inside the
    2-day interval horizon per side (bounded by arrival rate × window,
    never by stream length); matches emit in the batch they are found,
    and the equi-key (user_id/host) partitions the state — the same
    plan a 100-TB recrawl pipeline runs continuously."""
    ev = load_table(spark, sf_dir, "events")
    fetches = ev.where(F.col("event_id") % 2 == 0)
    t1 = F.lit(_WM_T1).cast("timestamp")
    late_replays = fetches.where(
        (F.col("ts") < F.date_sub(t1, 3).cast("timestamp"))
        & (F.col("event_id") % 14 == 0)
    )
    fetch = _day_split(fetches)
    fetch[2] = fetch[2].unionAll(late_replays)
    robots = _day_split(ev.where(F.col("event_id") % 2 == 1))
    return _fetch_robots_join(spark, fetch, robots, "inner")


@register(
    "stream_stream_left_join",
    """
    WITH f AS (
        SELECT user_id, event_id AS fetch_id, ts AS fts
        FROM events WHERE event_id % 2 = 0
    ),
    r AS (
        SELECT user_id AS r_user_id, event_id AS robots_id, ts AS rts
        FROM events WHERE event_id % 2 = 1
    ),
    wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events),
    m AS (
        SELECT f.user_id, f.fetch_id, r.robots_id, f.fts, r.rts
        FROM f JOIN r
          ON r.r_user_id = f.user_id
         AND r.rts BETWEEN f.fts - INTERVAL 2 DAY AND f.fts
    ),
    unm AS (
        SELECT f.user_id, f.fetch_id, CAST(NULL AS BIGINT) AS robots_id,
               f.fts, CAST(NULL AS TIMESTAMP) AS rts
        FROM f
        WHERE NOT EXISTS (
            SELECT 1 FROM r
            WHERE r.r_user_id = f.user_id
              AND r.rts BETWEEN f.fts - INTERVAL 2 DAY AND f.fts
        )
          AND f.fts < (SELECT cut FROM wm)
    )
    SELECT user_id, fetch_id, robots_id,
           strftime(fts, '{fmt}') AS fetch_ts,
           strftime(rts, '{fmt}') AS robots_ts
    FROM m
    UNION ALL
    SELECT user_id, fetch_id, robots_id,
           strftime(fts, '{fmt}') AS fetch_ts,
           strftime(rts, '{fmt}') AS robots_ts
    FROM unm
    """.format(fmt=TS_FMT_DUCK),
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stream-stream LEFT OUTER watermarked interval join — the
    outer-emission semantic the inner entry (stream_stream_join)
    cannot exercise: a fetch with no governing robots revision must be
    emitted WITH NULLS, but only once the watermark proves no matching
    robots row can still arrive (robots_ts ≤ fetch_ts in the join
    condition ⇒ the left row's state expires when the watermark passes
    fetch_ts). Same two streams and 3-file mtime-pinned arrival as the
    inner entry, no late replays — this entry isolates outer-null
    timing.

    availableNow's trailing flush batches (the
    stream_watermark_late_drop lesson) run the final watermark to
    global max_ts − 1h, so the sink holds: every matched pair (outer
    joins emit matches as found, watermark-independent) PLUS one
    null-extended row per unmatched fetch with fetch_ts < final
    watermark. Unmatched fetches NEWER than the watermark must stay
    open in state and emit nothing — an engine that flushes open state
    on shutdown over-emits and fails on row count; one that expires
    left rows early (e.g. at watermark − join window) emits nulls for
    fetches that later batches DO match, double-counting those fetch
    ids. FULL oracle: batch interval join + the watermark-closed
    unmatched predicate.

    Scale shape: identical to the inner entry — per-side state bounded
    by arrival rate × the 2-day horizon, hash-partitioned on the host
    key; the outer rows add no state, only an emit-on-expiry path."""
    ev = load_table(spark, sf_dir, "events")
    fetch = _day_split(ev.where(F.col("event_id") % 2 == 0))
    robots = _day_split(ev.where(F.col("event_id") % 2 == 1))
    return _fetch_robots_join(spark, fetch, robots, "leftOuter")


# ---------------------------------------------------------------------------
# table profiling (ANALYZE-style column statistics)
# ---------------------------------------------------------------------------

_PROFILE_SQL = """
    WITH s AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(*) - COUNT(event_id) AS null_event_id,
               COUNT(DISTINCT event_id) AS ndv_event_id,
               CAST(MIN(event_id) AS VARCHAR) AS min_event_id,
               CAST(MAX(event_id) AS VARCHAR) AS max_event_id,
               COUNT(*) - COUNT(ts) AS null_ts,
               COUNT(DISTINCT ts) AS ndv_ts,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
               COUNT(*) - COUNT(user_id) AS null_user_id,
               COUNT(DISTINCT user_id) AS ndv_user_id,
               CAST(MIN(user_id) AS VARCHAR) AS min_user_id,
               CAST(MAX(user_id) AS VARCHAR) AS max_user_id,
               COUNT(*) - COUNT(event_type) AS null_event_type,
               COUNT(DISTINCT event_type) AS ndv_event_type,
               MIN(event_type) AS min_event_type,
               MAX(event_type) AS max_event_type,
               COUNT(*) - COUNT(value) AS null_value,
               COUNT(DISTINCT value) AS ndv_value,
               CAST(CAST(round(MIN(value) * 100) AS BIGINT) AS VARCHAR)
                   AS min_value,
               CAST(CAST(round(MAX(value) * 100) AS BIGINT) AS VARCHAR)
                   AS max_value
        FROM events
    )
    SELECT t.col, t.n_rows, t.n_null, t.n_distinct, t.min_repr, t.max_repr
    FROM s, LATERAL (
        VALUES
        ('event_id', n_rows, null_event_id, ndv_event_id, min_event_id, max_event_id),
        ('ts', n_rows, null_ts, ndv_ts, min_ts, max_ts),
        ('user_id', n_rows, null_user_id, ndv_user_id, min_user_id, max_user_id),
        ('event_type', n_rows, null_event_type, ndv_event_type, min_event_type, max_event_type),
        ('value', n_rows, null_value, ndv_value, min_value, max_value)
    ) AS t(col, n_rows, n_null, n_distinct, min_repr, max_repr)
"""


@register("stats_table_profile", _PROFILE_SQL)
def stats_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics for the events table — rows,
    nulls, exact NDV, min/max — unpivoted to one row per column (the
    stats a cost-based planner and a data-quality monitor both feed
    on). Numeric min/max render through integer scaling (value → x100
    BIGINT) and timestamps through a fixed microsecond format, so the
    representations are engine-exact — never raw float-to-string.

    ONE aggregation pass over the table computes every metric
    (exact NDV adds Expand ×5, the price of exactness — the approx
    ladder is agg_approx_distinct's job); the unpivot is a literal
    inline table over the 1-row aggregate. FULL oracle: DuckDB runs
    the same profile via LATERAL VALUES."""
    ev = load_table(spark, sf_dir, "events")
    n = F.count(F.lit(1))
    aggs = [n.alias("n_rows")]
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    for c in cols:
        aggs += [
            (n - F.count(c)).alias(f"null_{c}"),
            F.countDistinct(c).alias(f"ndv_{c}"),
        ]
    aggs += [
        F.min("event_id").cast("string").alias("min_event_id"),
        F.max("event_id").cast("string").alias("max_event_id"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("max_ts"),
        F.min("user_id").cast("string").alias("min_user_id"),
        F.max("user_id").cast("string").alias("max_user_id"),
        F.min("event_type").alias("min_event_type"),
        F.max("event_type").alias("max_event_type"),
        F.round(F.min("value") * 100).cast("long").cast("string").alias("min_value"),
        F.round(F.max("value") * 100).cast("long").cast("string").alias("max_value"),
    ]
    s = ev.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"ndv_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_repr"),
                F.col(f"max_{c}").alias("max_repr"),
            )
            for c in cols
        ]
    )
    return s.select(F.inline(rows))


_GSETS_SQL = """
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
"""


@register("rollup_grouping_sets", _GSETS_SQL)
def rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 family, explicit GROUPING SETS: per-language totals,
    per-source totals, and the grand total in ONE pass — the
    non-hierarchical slice list that neither ROLLUP (prefix-nested)
    nor CUBE (all 4 combos) expresses; Catalyst plans it as a single
    Expand + aggregate, not three scans.

    FULL oracle: DuckDB evaluates the same GROUPING SETS clause —
    NULL slice markers and all."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    return spark.sql(_GSETS_SQL)


@register(
    "window_ntile_deciles",
    """
    SELECT user_id,
           CAST(total_cents AS BIGINT) AS total_cents,
           CAST(NTILE(10) OVER (ORDER BY total_cents, user_id) AS BIGINT)
               AS decile
    FROM (
        SELECT user_id,
               SUM(CAST(round(value * 100) AS BIGINT)) AS total_cents
        FROM events GROUP BY user_id
    )
    """,
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 family, NTILE: users bucketed into spend deciles over a
    total order made deterministic by the (total, user_id) tie-break
    — the percentile-bucket assignment scoring pipelines use. The
    global-order window runs over the per-user AGGREGATE (user
    cardinality), never raw events; at extreme user counts a two-level
    prefix sum (per-partition totals, then a running offset per
    partition) would replace the single-partition window. FULL oracle:
    DuckDB's NTILE on the same integer totals."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    totals = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents")
    )
    w = Window.orderBy("total_cents", "user_id")
    return totals.select(
        "user_id",
        "total_cents",
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


@register(
    "set_except_all",
    """
    SELECT event_type FROM events WHERE user_id % 2 = 0
    EXCEPT ALL
    SELECT event_type FROM events WHERE user_id % 3 = 0
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7's multiset variant: EXCEPT ALL subtracts per-OCCURRENCE
    (a type appearing 10× left and 4× right survives 6×), which the
    distinct EXCEPT cannot express — the semantics that matter when
    reconciling event streams. Catalyst plans it as one aggregate
    with paired counts, no join. FULL oracle: DuckDB's EXCEPT ALL."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("user_id") % 2 == 0).select("event_type")
    right = ev.filter(F.col("user_id") % 3 == 0).select("event_type")
    return left.exceptAll(right)


@register(
    "set_intersect_all",
    """
    SELECT event_type FROM events WHERE user_id % 2 = 0
    INTERSECT ALL
    SELECT event_type FROM events WHERE user_id % 3 = 0
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7's multiset intersection: min-of-multiplicities semantics.
    FULL oracle: DuckDB's INTERSECT ALL."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("user_id") % 2 == 0).select("event_type")
    right = ev.filter(F.col("user_id") % 3 == 0).select("event_type")
    return left.intersectAll(right)


@register(
    "unpivot_user_measures",
    """
    WITH wide AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events GROUP BY user_id
    )
    SELECT user_id, measure, val
    FROM wide
    UNPIVOT (val FOR measure IN (n_events, n_types, total_cents))
    """,
)
def unpivot_user_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The melt direction of A2's pivot: the wide per-user measure
    matrix unpivots to (user_id, measure, val) long form — the shape
    metric stores and feature registries ingest — via the REAL
    DataFrame.unpivot API (Expand under the hood, one pass, no join).
    FULL oracle: DuckDB's UNPIVOT clause."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    return wide.unpivot(
        ids=["user_id"],
        values=["n_events", "n_types", "total_cents"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@register(
    "join_null_safe",
    """
    WITH keyed AS (
        SELECT event_id, NULLIF(user_id % 5, 0) AS k FROM events
    ),
    dim AS (
        SELECT NULLIF(n, 0) AS k, n * 100 AS payload
        FROM (SELECT unnest(generate_series(0, 4)) AS n)
    )
    SELECT e.event_id, e.k, d.payload
    FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics dimension
    tables with an explicit unknown bucket need, and still a HASHABLE
    equi key for Catalyst (EqualNullSafe joins hash-partition; a
    plain `=` would silently drop every NULL row). One fifth of
    events carries the NULL bucket here, so both match regimes fire.
    FULL oracle: DuckDB's IS NOT DISTINCT FROM join."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        "event_id", F.nullif(F.pmod("user_id", F.lit(5)), F.lit(0)).alias("k")
    )
    dim = spark.range(0, 5).select(
        F.nullif(F.col("id"), F.lit(0)).alias("k"),
        (F.col("id") * 100).alias("payload"),
    )
    return keyed.join(F.broadcast(dim), keyed["k"].eqNullSafe(dim["k"])).select(
        "event_id", keyed["k"].alias("k"), "payload"
    )


@register(
    "json_props_explode",
    """
    SELECT event_id, k AS prop_key,
           CAST(json_extract(props, '$.' || k) AS BIGINT) AS prop_value
    FROM (
        SELECT event_id, props, unnest(json_keys(props)) AS k FROM events
    )
    """,
)
def json_props_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 JSON family beyond scalar extraction: parse the props
    document into a MAP and explode every key/value pair — schema-
    on-read for semi-structured payloads whose key set is open (the
    from_json map type + explode, all JVM). FULL oracle: DuckDB's
    json_keys unnest + json_extract per key."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "map<string,long>").alias("m"),
    )
    return parsed.select(
        "event_id", F.explode("m").alias("prop_key", "prop_value")
    )
