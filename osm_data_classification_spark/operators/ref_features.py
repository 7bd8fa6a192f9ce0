"""Driver-gated catalog entries for the reference analytics chain.

The fixture suites (tests/test_reference_suites.py) gate features.py
against a pandas oracle; these entries ALSO gate it against the
driver's DuckDB oracle by deriving a deterministic element-history
table from the `events` table — same construction in the Spark plan
and the SQL — and running the real `features.py` operators over it.
One event becomes one element version:

    elem    = pmod(event_id, 3)  → node/way/relation
    id      = pmod(event_id, 500)           (≈20-version chains)
    version = row_number over (elem, id) ordered by (ts, event_id)
    visible = event_type <> 'error'
    uid     = user_id
    chgset  = user_id * 1000 + pmod(event_id, 7)
    editor  = event_type → messy editor string (for S3 normalization)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import features as feats
from ..io import load_table
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


EDITOR_MAP = {
    "click": "JOSM/1.5 (19000 en)",
    "signup": "iD 2.19.5",
    "error": "josm",
    "view": "StreetComplete 42.0",
    "purchase": "Potlatch 2",
}

_EDITOR_CASE_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in EDITOR_MAP.items())
    + " ELSE 'other' END"
)

HISTORY_SQL = f"""
    hist AS (
        SELECT CASE (event_id % 3) WHEN 0 THEN 'node' WHEN 1 THEN 'way'
               ELSE 'relation' END AS elem,
               event_id % 500 AS id,
               CAST(row_number() OVER (
                   PARTITION BY event_id % 3, event_id % 500
                   ORDER BY ts, event_id) AS INT) AS version,
               event_type <> 'error' AS visible,
               ts,
               user_id AS uid,
               user_id * 1000 + (event_id % 7) AS chgset,
               CAST(event_id % 8 AS INT) AS ntags,
               {_EDITOR_CASE_SQL} AS editor
        FROM events
    )
"""


def history_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    elem = (
        F.when(F.pmod("event_id", F.lit(3)) == 0, "node")
        .when(F.pmod("event_id", F.lit(3)) == 1, "way")
        .otherwise("relation")
    )
    editor = F.lit("other")
    for k, v in EDITOR_MAP.items():
        editor = F.when(F.col("event_type") == k, v).otherwise(editor)
    base = ev.select(
        elem.alias("elem"),
        F.pmod("event_id", F.lit(500)).alias("id"),
        "ts",
        "event_id",
        (F.col("event_type") != "error").alias("visible"),
        F.col("user_id").alias("uid"),
        (F.col("user_id") * 1000 + F.pmod("event_id", F.lit(7))).alias("chgset"),
        F.pmod("event_id", F.lit(8)).cast("int").alias("ntags"),
        editor.alias("editor"),
    )
    w = Window.partitionBy("elem", "id").orderBy("ts", "event_id")
    return base.withColumn("version", F.row_number().over(w).cast("int")).drop(
        "event_id"
    )


# DuckDB mirror of the features.py second-level constructs
_EPOCH = "CAST(floor(epoch({c})) AS BIGINT)"


@register(
    "ref_element_metadata",
    f"""
    WITH {HISTORY_SQL},
    last AS (
        SELECT elem, id, visible AS cur_visible,
               row_number() OVER (PARTITION BY elem, id ORDER BY version DESC)
                   AS rn
        FROM hist QUALIFY rn = 1
    ),
    agg AS (
        SELECT elem, id,
               count(*) AS n_versions,
               count(DISTINCT uid) AS n_uids,
               count(DISTINCT chgset) AS n_chgsets,
               min(ts) AS created_at,
               max(ts) AS lastmodif_at
        FROM hist GROUP BY elem, id
    )
    SELECT a.elem, a.id, a.n_versions, a.n_uids, a.n_chgsets,
           a.created_at, a.lastmodif_at, l.cur_visible,
           {_EPOCH.format(c='a.lastmodif_at')} - {_EPOCH.format(c='a.created_at')}
               AS lifespan_s,
           CASE WHEN a.n_versions > 1 THEN
               ({_EPOCH.format(c='a.lastmodif_at')} - {_EPOCH.format(c='a.created_at')})
                   // (a.n_versions - 1)
           ELSE 0 END AS mean_update_gap_s
    FROM agg a JOIN last l USING (elem, id)
    """,
)
def ref_element_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 over the events-derived history — the real features.py
    element_metadata, value-checked by the driver."""
    return feats.element_metadata(history_from_events(spark, sf_dir))


@register(
    "ref_changeset_metadata",
    f"""
    WITH {HISTORY_SQL},
    enr AS (
        SELECT *,
               version = min(version) OVER (PARTITION BY elem, id) AS init
        FROM hist
    )
    SELECT chgset,
           min(uid) AS uid,
           count(*) AS n_mods,
           CAST(sum(CASE WHEN elem = 'node' THEN 1 ELSE 0 END) AS BIGINT) AS n_node,
           CAST(sum(CASE WHEN elem = 'way' THEN 1 ELSE 0 END) AS BIGINT) AS n_way,
           CAST(sum(CASE WHEN elem = 'relation' THEN 1 ELSE 0 END) AS BIGINT) AS n_relation,
           CAST(sum(CASE WHEN init THEN 1 ELSE 0 END) AS BIGINT) AS n_created,
           CAST(sum(CASE WHEN NOT visible THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
           {_EPOCH.format(c='max(ts)')} - {_EPOCH.format(c='min(ts)')}
               AS duration_s
    FROM enr GROUP BY chgset
    """,
)
def ref_changeset_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 over the events-derived history (a changeset has one author
    by construction, so first(uid) ≡ min(uid))."""
    hist = history_from_events(spark, sf_dir)
    return feats.changeset_metadata(feats.enrich_history(hist))


@register(
    "ref_user_features",
    f"""
    WITH {HISTORY_SQL},
    enr AS (
        SELECT *,
               version = min(version) OVER (PARTITION BY elem, id) AS init,
               lead(uid) OVER w IS NOT NULL AND lead(uid) OVER w <> uid
                   AS willbe_corr,
               lead(uid) OVER w IS NOT NULL AND lead(uid) OVER w = uid
                   AS willbe_autocorr,
               lag(uid) OVER w IS NOT NULL AND lag(uid) OVER w <> uid
                   AS is_corr,
               lag(uid) OVER w IS NOT NULL AND lag(uid) OVER w = uid
                   AS is_autocorr
        FROM hist
        WINDOW w AS (PARTITION BY elem, id ORDER BY version)
    ),
    agg AS (
        SELECT uid,
               count(*) AS n_edits,
               count(DISTINCT chgset) AS n_chgsets,
               count(DISTINCT elem || '|' || CAST(id AS VARCHAR)) AS n_elements,
               CAST(sum(CASE WHEN elem = 'node' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_node_edits,
               CAST(sum(CASE WHEN elem = 'way' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_way_edits,
               CAST(sum(CASE WHEN elem = 'relation' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_relation_edits,
               CAST(sum(CASE WHEN init THEN 1 ELSE 0 END) AS BIGINT) AS n_init,
               CAST(sum(CASE WHEN willbe_corr THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_willbe_corr,
               CAST(sum(CASE WHEN willbe_autocorr THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_willbe_autocorr,
               CAST(sum(CASE WHEN is_corr THEN 1 ELSE 0 END) AS BIGINT) AS n_is_corr,
               CAST(sum(CASE WHEN is_autocorr THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_is_autocorr,
               CAST(sum(CASE WHEN NOT visible THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_deletions,
               min(ts) AS first_at,
               max(ts) AS last_at,
               count(DISTINCT CAST(ts AS DATE)) AS n_active_days,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dow_1,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dow_2,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS dow_3,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 4 THEN 1 ELSE 0 END) AS BIGINT) AS dow_4,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 5 THEN 1 ELSE 0 END) AS BIGINT) AS dow_5,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS dow_6,
               CAST(sum(CASE WHEN dayofweek(ts) + 1 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS dow_7
        FROM enr GROUP BY uid
    )
    SELECT *,
           {_EPOCH.format(c='last_at')} - {_EPOCH.format(c='first_at')}
               AS activity_s,
           (n_edits * 1000) // n_chgsets AS edits_per_chgset_x1000,
           CASE WHEN n_elements > 0 THEN (n_edits * 1000) // n_elements
                ELSE 0 END AS update_freq_x1000
    FROM agg
    """,
)
def ref_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+A5: the full wide user matrix from features.py, driver-gated."""
    hist = history_from_events(spark, sf_dir)
    return feats.user_metadata(feats.enrich_history(hist))


@register(
    "ref_editor_topk",
    f"""
    WITH {HISTORY_SQL},
    first_row AS (
        SELECT chgset, editor,
               row_number() OVER (PARTITION BY chgset
                                  ORDER BY ts, version, elem, id)
                   AS rn
        FROM hist QUALIFY rn = 1
    ),
    ed AS (
        SELECT chgset,
               regexp_extract(lower(trim(editor)), '^([a-z!]+)', 1) AS editor
        FROM first_row
    )
    SELECT editor, count(*) AS n_chgsets
    FROM ed GROUP BY editor
    ORDER BY n_chgsets DESC, editor ASC
    LIMIT 5
    """,
)
def ref_editor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+A6: editor normalization + top-K vocabulary, driver-gated.
    features.editor_table uses first(), which is order-nondeterministic
    in Spark, so both engines instead pin the chgset's editor to the
    row_number-1 row ordered by (ts, version, elem, id) — (elem, id)
    makes the order total (two elements can share ts+version within a
    chgset), so the pick is engine/partitioning-independent."""
    hist = history_from_events(spark, sf_dir)
    w = Window.partitionBy("chgset").orderBy("ts", "version", "elem", "id")
    ed = (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("chgset", feats.normalize_editor(F.col("editor")).alias("editor"))
    )
    return feats.top_editors(ed, 5)
