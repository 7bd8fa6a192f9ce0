"""Temporal/analytic operator extensions: as-of join, cube grouping,
and the full window-rank family — each with a DuckDB oracle (including
DuckDB's native ASOF JOIN as the independent check of the Spark
window-based as-of implementation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# as-of join (the custom-operator shape Spark lacks natively)
# ---------------------------------------------------------------------------


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    time_col: str = "ts",
    suffix: str = "_asof",
) -> DataFrame:
    """For each probe row, the build row with the greatest
    ``time_col`` ≤ probe's time, per ``key`` — exact AS-OF semantics as
    a composition of existing ops (SURVEY.md custom-operator ladder,
    option (a)): union the tagged streams, one window sorted by (ts,
    side) per key, running-max over a (ts, id…) struct, filter back to
    probe rows. ONE shuffle on the key, no range join, no per-row
    Python; ties on ts break toward the larger build id
    (struct ordering), deterministically in both engines.
    """
    b_cols = [c for c in build.columns if c not in (key, time_col)]
    p = probe.withColumn("__side", F.lit(1))
    b = build.withColumn("__side", F.lit(0))
    for c in probe.columns:
        if c not in b.columns:
            b = b.withColumn(c, F.lit(None))
    for c in b_cols:
        if c not in p.columns:
            p = p.withColumn(c, F.lit(None))
    unioned = p.unionByName(b.select(*p.columns))
    # build rows sort before probe rows at equal ts (side 0 < 1), so a
    # build row AT the probe's timestamp is visible to it
    w = (
        Window.partitionBy(key)
        .orderBy(time_col, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = F.max(
        F.when(
            F.col("__side") == 0,
            F.struct(F.col(time_col).alias("t"), *[F.col(c).alias(c) for c in b_cols]),
        )
    ).over(w)
    out = unioned.withColumn("__m", carry).filter(F.col("__side") == 1)
    sel = [F.col(c) for c in probe.columns if c != "__side"]
    sel.append(F.col("__m.t").alias(f"{time_col}{suffix}"))
    sel.extend(F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in b_cols)
    return out.select(*sel)


@register(
    "asof_join_purchase_view",
    """
    SELECT p.event_id,
           p.user_id,
           p.ts,
           v.ts AS ts_asof,
           v.event_id AS event_id_asof
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent prior (or
    simultaneous) view. The oracle is DuckDB's NATIVE ASOF JOIN — an
    independent implementation of the semantics."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(purchases, views, key="user_id", time_col="ts")


# ---------------------------------------------------------------------------
# cube / grouping sets
# ---------------------------------------------------------------------------


@register(
    "cube_user_type",
    """
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY CUBE(user_id, event_type)
    """,
)
def cube_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 extension: CUBE — all 4 grouping sets in one pass (Catalyst
    Expand), counts per (user), (type), (user,type), and grand total."""
    ev = load_table(spark, sf_dir, "events")
    return ev.cube("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# extended window-rank family
# ---------------------------------------------------------------------------


@register(
    "window_rank_family",
    """
    SELECT event_id,
           user_id,
           rank()         OVER w AS rnk,
           dense_rank()   OVER w AS drnk,
           ntile(4)       OVER w AS quartile,
           CAST(floor(percent_rank() OVER w * 100000) AS BIGINT)
               AS pct_rank_x1e5,
           CAST(floor(cume_dist() OVER w * 100000) AS BIGINT)
               AS cume_x1e5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 extension: rank, dense_rank, ntile, percent_rank, cume_dist in
    one window (ties broken on event_id so every rank is total-order
    deterministic; the ratio ranks integer-floored for engine parity)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")

    def x1e5(c: Column) -> Column:
        return F.floor(c * 100000).cast("long")

    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        x1e5(F.percent_rank().over(w)).alias("pct_rank_x1e5"),
        x1e5(F.cume_dist().over(w)).alias("cume_x1e5"),
    )


# ---------------------------------------------------------------------------
# pure interval join (no equi key) — the bucketed scale pattern
# ---------------------------------------------------------------------------

WINDOW_H = 4


@register(
    "interval_join_bucketed",
    f"""
    WITH incidents AS (
        SELECT event_id AS inc_id, ts AS t0, ts + INTERVAL {WINDOW_H} HOUR AS t1
        FROM events WHERE event_type = 'error' AND event_id % 10 = 0
    )
    SELECT i.inc_id, count(e.event_id) AS n_in_window
    FROM incidents i LEFT JOIN events e
      ON e.ts >= i.t0 AND e.ts < i.t1
    GROUP BY i.inc_id
    """,
)
def interval_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 hard case: interval join with NO equi key. The naive plan is a
    broadcast-nested-loop over every (event, interval) pair; here each
    bounded interval explodes to the hour buckets it covers and events
    carry their hour, so the join is an EQUI join on the bucket with
    the exact BETWEEN as a refine — each pair meets in exactly one
    bucket (an event has one hour), so no dedup step is needed. The
    oracle is DuckDB's inequality join (an independent IEJoin plan)."""
    ev = load_table(spark, sf_dir, "events")
    incidents = (
        ev.filter((F.col("event_type") == "error") & (F.pmod("event_id", F.lit(10)) == 0))
        .select(
            F.col("event_id").alias("inc_id"),
            F.col("ts").alias("t0"),
            (F.col("ts") + F.expr(f"INTERVAL {WINDOW_H} HOURS")).alias("t1"),
        )
    )
    inc_buckets = incidents.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "t0"),
                F.date_trunc("hour", "t1"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    ev_b = ev.select(
        F.col("event_id"), F.col("ts"), F.date_trunc("hour", "ts").alias("__bucket")
    )
    pairs = inc_buckets.join(ev_b, "__bucket").filter(
        (F.col("ts") >= F.col("t0")) & (F.col("ts") < F.col("t1"))
    )
    counts = pairs.groupBy("inc_id").agg(F.count(F.lit(1)).alias("n_in_window"))
    # LEFT semantics: intervals with zero events still appear
    return (
        incidents.select("inc_id")
        .join(counts, "inc_id", "left")
        .fillna(0, subset=["n_in_window"])
    )


# ---------------------------------------------------------------------------
# keep-latest dedup (P3 at CDC semantics) + explicit null handling (P4)
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_latest",
    """
    SELECT event_id, user_id, ts, value FROM (
        SELECT event_id, user_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 at CDC semantics: latest row per key (the 'current state' view
    of an append-only log, SURVEY.md §1.1) — deterministic tie-break on
    (ts, event_id) descending."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "ts", "value")
    )


@register(
    "null_handling_fill",
    """
    WITH sparse AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_id,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS value
        FROM events
    )
    SELECT event_id,
           coalesce(user_id, -1) AS user_id_filled,
           CAST(coalesce(CAST(value AS DECIMAL(18,2)), 0) AS DOUBLE)
               AS value_filled,
           CAST(user_id IS NULL AS INT) + CAST(value IS NULL AS INT)
               AS n_nulls
    FROM sparse
    """,
)
def null_handling_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: nulls injected deterministically, then coalesce/fillna and a
    null-count audit column — the left-join zero-fill idiom of the
    reference's feature merge `[U: UserMetadataExtract]`, isolated."""
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.select(
        "event_id",
        F.when(F.pmod("event_id", F.lit(7)) == 0, None)
        .otherwise(F.col("user_id"))
        .alias("user_id"),
        F.when(F.pmod("event_id", F.lit(5)) == 0, None)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return sparse.select(
        "event_id",
        F.coalesce("user_id", F.lit(-1)).alias("user_id_filled"),
        F.coalesce(F.col("value").cast("decimal(18,2)"), F.lit(0))
        .cast("double")
        .alias("value_filled"),
        (
            F.col("user_id").isNull().cast("int") + F.col("value").isNull().cast("int")
        ).alias("n_nulls"),
    )


# ---------------------------------------------------------------------------
# value-based (RANGE) window frame — time-windowed running aggregate
# ---------------------------------------------------------------------------

_RANGE_SECONDS = 3600  # trailing 1h, inclusive frame bounds


@register(
    "window_range_trailing_sum",
    f"""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY (epoch_ms(ts) // 1000)
               RANGE BETWEEN {_RANGE_SECONDS} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_cents,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY (epoch_ms(ts) // 1000)
               RANGE BETWEEN {_RANGE_SECONDS} PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS trailing_events
    FROM events
    """,
)
def window_range_trailing_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family, RANGE frame: per user, the trailing-1-hour sum and
    count at every event — a VALUE-based frame over the epoch-seconds
    ordering (two events 30 min apart share window contents however
    many rows sit between them), which rows-based frames cannot
    express. Values sum as x100 integer cents so the running total is
    engine-exact regardless of accumulation order.

    One window, partitioned by user (hash-parallel); the frame is
    bounded by the 1h span so state per partition stays small even on
    dense users. FULL oracle: DuckDB runs the identical RANGE frame."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-_RANGE_SECONDS, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(cents).over(w).alias("trailing_cents"),
        F.count(F.lit(1)).over(w).alias("trailing_events"),
    )


# ---------------------------------------------------------------------------
# batch sessionization (gap-based session ids + per-session rollup)
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 1800  # 30 min


@register(
    "sessionize_events",
    f"""
    WITH marked AS (
        SELECT user_id, event_id, ts,
               CASE WHEN (epoch_ms(ts) // 1000)
                      - (epoch_ms(LAG(ts) OVER w) // 1000) > {_SESSION_GAP_S}
                      OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, event_id, ts,
               CAST(SUM(is_start) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           (epoch_ms(MAX(ts)) // 1000) - (epoch_ms(MIN(ts)) // 1000)
               AS duration_s
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based batch sessionization — the lag-mark-cumsum idiom: an
    event starts a new session when it follows its user's previous
    event by more than 30 minutes; the running sum of start marks
    numbers the sessions; one groupBy rolls each session up. (The
    streaming twin is stream_session_agg's session_window — this is
    the batch/backfill formulation of the same semantics.)

    Two windows + a groupBy, all partitioned by user_id — dense users
    sort within their partition, nothing global. Gap arithmetic runs
    on second-truncated epochs on BOTH engines (the RANGE-frame
    lesson: DuckDB's raw epoch is fractional). FULL oracle: DuckDB
    evaluates the identical idiom."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    prev_sec = F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            prev_sec.isNull() | ((sec - prev_sec) > _SESSION_GAP_S), 1
        ).otherwise(0).alias("is_start"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = marked.select(
        "user_id", "event_id", "ts", F.sum("is_start").over(wc).alias("session_seq")
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "duration_s"
        ),
    )


# ---------------------------------------------------------------------------
# ordered conversion funnel (view -> click -> purchase)
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion",
    """
    WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    ),
    flags AS (
        SELECT user_id,
               (t_view IS NOT NULL) AS viewed,
               (t_view IS NOT NULL AND t_click > t_view) AS clicked_after,
               (t_view IS NOT NULL AND t_click > t_view
                AND t_purchase > t_click) AS purchased_after
        FROM stages
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT)
               AS stage_view,
           CAST(SUM(CASE WHEN clicked_after THEN 1 ELSE 0 END) AS BIGINT)
               AS stage_click,
           CAST(SUM(CASE WHEN purchased_after THEN 1 ELSE 0 END) AS BIGINT)
               AS stage_purchase
    FROM flags
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: a user advances a stage only if its
    FIRST occurrence strictly follows the previous stage's first
    occurrence (view < click < purchase) — first-touch attribution,
    the standard product-analytics funnel. The conditional-min
    pivot computes all stage timestamps in ONE groupBy pass; NULL
    comparisons are three-valued (t_click > NULL is NULL, never
    true), which both engines share, so the boolean flags are exact.

    One per-user agg + one global 1-row rollup. FULL oracle: DuckDB
    repeats the conditional-min funnel (sums CAST to BIGINT)."""
    ev = load_table(spark, sf_dir, "events")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    purchased = clicked & (F.col("t_purchase") > F.col("t_click"))
    flags = stages.select(
        viewed.alias("viewed"),
        clicked.alias("clicked_after"),
        purchased.alias("purchased_after"),
    )
    one = F.lit(1)
    return flags.agg(
        F.count(one).alias("n_users"),
        F.sum(F.when(F.col("viewed"), one).otherwise(0)).alias("stage_view"),
        F.sum(F.when(F.col("clicked_after"), one).otherwise(0)).alias("stage_click"),
        F.sum(F.when(F.col("purchased_after"), one).otherwise(0)).alias(
            "stage_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# cohort retention (weekly signup cohorts x activity-week offsets)
# ---------------------------------------------------------------------------


@register(
    "cohort_retention",
    """
    WITH weekly AS (
        SELECT user_id,
               (epoch_ms(ts) // 1000) // 604800 AS week
        FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT w.user_id, f.cohort_week,
               w.week - f.cohort_week AS week_offset
        FROM weekly w JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM active GROUP BY cohort_week, week_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — the standard product-analytics
    triangle: each user joins the cohort of their first active epoch
    week; (cohort_week, week_offset) cells count distinct users still
    active that many weeks later. Week = epoch seconds div 604800 on
    BOTH engines (second-truncated, the RANGE-frame lesson), so the
    bucketing is integer-exact.

    One groupBy for first weeks, one distinct, one rollup — all
    hashed on user/cohort keys. FULL oracle: DuckDB repeats the
    triangle."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    weekly = ev.select("user_id", week.alias("week"))
    firsts = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = (
        weekly.join(firsts, "user_id")
        .select(
            "user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .distinct()
    )
    return active.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


# ---------------------------------------------------------------------------
# event-type transition matrix (sequence analytics)
# ---------------------------------------------------------------------------


@register(
    "events_markov_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over each user's event sequence
    (LEAD over the deterministic (ts, event_id) order, chain ends
    dropped) — the empirical Markov counts behind next-action
    prediction and anomaly scoring. One window partitioned by user +
    one tiny groupBy on the (from, to) pair — |types|² output rows
    whatever the event count. FULL oracle: DuckDB's identical LEAD."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# daily/weekly active users (engagement rollup)
# ---------------------------------------------------------------------------


@register(
    "events_active_users",
    """
    WITH days AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM days GROUP BY day
    ),
    wau AS (
        SELECT day,
               CAST((
                   SELECT COUNT(DISTINCT d2.user_id) FROM days d2
                   WHERE d2.day BETWEEN d.day - 6 AND d.day
               ) AS BIGINT) AS wau
        FROM (SELECT DISTINCT day FROM days) d
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
           (dau.dau * 1000) // wau.wau AS stickiness_x1000
    FROM dau JOIN wau USING (day)
    """,
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness — the engagement rollup
    every activity dashboard runs. The WAU side joins each day
    against the distinct (day, user) pairs of its trailing week and
    re-counts distinct users (NOT a sum of DAUs — users active twice
    in a week must count once); stickiness is integer permille. The
    trailing join spans 7 rows per day over the DAY-cardinality
    table, never raw events.

    FULL oracle: DuckDB computes the same trailing distinct via a
    correlated subquery (formulation differs from the Spark range
    join on purpose — the two check each other)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    dau = days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    d = days.select(F.col("day").alias("anchor")).distinct()
    wau = (
        d.join(
            days,
            (F.col("day") >= F.date_sub(F.col("anchor"), 6))
            & (F.col("day") <= F.col("anchor")),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau"))
        .withColumnRenamed("anchor", "day")
    )
    # DATE columns canonicalize differently through pandas on the two
    # engines (datetime64 vs datetime.date) — emit the ISO string
    return dau.join(wau, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dau",
        "wau",
        F.expr("dau * 1000 div wau").alias("stickiness_x1000"),
    )


# ---------------------------------------------------------------------------
# per-host crawl-volume anomaly detection (integer-exact MAD)
# ---------------------------------------------------------------------------


@register(
    "events_anomaly_mad",
    """
    WITH daily AS (
        SELECT user_id, date_trunc('day', ts) AS day, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT user_id, CAST(2 * median(n) AS BIGINT) AS med2
        FROM daily GROUP BY user_id
    ),
    devs AS (
        SELECT d.user_id, d.day, d.n, s.med2, abs(2 * d.n - s.med2) AS dev2
        FROM daily d JOIN stats s USING (user_id)
    ),
    mads AS (
        SELECT user_id, CAST(2 * median(dev2) AS BIGINT) AS mad4
        FROM devs GROUP BY user_id
    )
    SELECT v.user_id, strftime(v.day, '%Y-%m-%d') AS day,
           CAST(v.n AS BIGINT) AS n_events, v.med2, m.mad4,
           (2 * v.dev2 > 3 * m.mad4) AS is_anomaly
    FROM devs v JOIN mads m USING (user_id)
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-host crawl-volume anomaly detection: a day is
    anomalous when its event count deviates from the host's MEDIAN
    daily volume by more than 3× the MEDIAN absolute deviation — the
    crawl-trap / volume-spike detector that mean/stddev z-scores miss
    (one spike inflates the stddev and hides itself; the median pair
    is robust to it).

    Everything stays INTEGER-exact across engines: medians of integer
    sets interpolate to halves at worst, so med2 = 2·median and
    mad4 = 2·median(|2n − med2|) are exact BIGINTs in both engines
    (the doubled-median construction), and the 3-MAD test compares
    integers — no float ever reaches the output. Scale shape: one
    partial-combined daily rollup, two per-host median aggregations
    (exact percentile over the per-host day list — bounded by days,
    not events), two host-keyed equi-joins sharing one partitioning.
    FULL value oracle: DuckDB computes the identical doubled medians."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("user_id").agg(
        (2 * F.median("n")).cast("long").alias("med2")
    )
    devs = daily.join(stats, "user_id").withColumn(
        "dev2", F.abs(2 * F.col("n") - F.col("med2"))
    )
    mads = devs.groupBy("user_id").agg(
        (2 * F.median("dev2")).cast("long").alias("mad4")
    )
    return devs.join(mads, "user_id").select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("long").alias("n_events"),
        "med2",
        "mad4",
        (2 * F.col("dev2") > 3 * F.col("mad4")).alias("is_anomaly"),
    )
