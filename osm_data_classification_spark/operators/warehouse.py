"""Warehouse-maintenance surface as DRIVER-GRADED catalog entries
(SURVEY.md §2.1 S2/S6).

Until round 5 the table-maintenance machinery (io.py: upsert,
snapshot log, time travel) was pytest-only — "by nature", since these
operators mutate table state rather than answer a query. The
streaming entries showed the way out: perform the real side-effecting
operations inside the catalog fn against TEMP directories, then
return a relational summary whose value-hash the driver can check
against a pure-SQL oracle. The output matches only if MERGE keeps
exactly the un-matched rows, the snapshot log isolates v1 from the
later rewrite, and time travel reads v1 byte-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, snapshot_read, snapshot_write, upsert
from .relational import QuerySpec, register

CATALOG: dict[str, QuerySpec] = {}


@register(
    "table_snapshot_merge",
    """
    SELECT doc_id,
           (doc_id % 3 <> 2) AS in_v1,
           (doc_id % 3 <> 2 OR doc_id % 2 = 0) AS in_latest,
           CASE WHEN doc_id % 3 <> 2 THEN md5(text) END AS v1_md5,
           CASE WHEN doc_id % 2 = 0 THEN md5(text || ' v2')
                WHEN doc_id % 3 <> 2 THEN md5(text) END AS latest_md5,
           (doc_id % 3 <> 2 AND doc_id % 2 = 0) AS updated
    FROM documents
    WHERE doc_id % 3 <> 2 OR doc_id % 2 = 0
    """,
)
def table_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end warehouse maintenance under a FULL value oracle:

    1. snapshot v1 = documents with doc_id % 3 ≠ 2 (immutable,
       manifest-logged);
    2. MERGE (io.upsert, the local MERGE INTO contract): batch 2 =
       every even doc_id with text || ' v2' — matched rows replaced,
       unmatched inserted, table atomically rewritten;
    3. snapshot v2 = the merged state;
    4. TIME TRAVEL back to v1 and full-outer-join it against v2,
       emitting per doc: membership flags, content digests on both
       sides, and the updated flag (present in both AND digest
       changed).

    The oracle is pure relational algebra over `documents`; the Spark
    side derives every value from ACTUAL table state on disk — an
    upsert that leaks a matched row, a snapshot log that lets the
    rewrite bleed into v1, or a time-travel read of the wrong version
    each flips digests or membership and hash-fails.

    Scale shape: upsert is one anti-join + union + atomic rewrite
    (Iceberg/Delta MERGE INTO in production — the local emulation
    keeps the same contract); the summary join is one full-outer on
    the table key. Temp dirs are removed in finally; the returned
    frame is localCheckpoint-materialized first (the streaming-entry
    lesson — a lazy plan over a deleted directory)."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = tempfile.mkdtemp(prefix="cat_whse_")
    snap = base + "/snap"
    tbl = base + "/tbl"
    try:
        v1_df = docs.filter(F.col("doc_id") % 3 != 2)
        ver1 = snapshot_write(v1_df, snap)
        upsert(spark, v1_df, tbl, keys=["doc_id"])
        batch2 = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", F.concat("text", F.lit(" v2")).alias("text")
        )
        merged = upsert(spark, batch2, tbl, keys=["doc_id"])
        ver2 = snapshot_write(merged, snap)
        assert (ver1, ver2) == (1, 2), (ver1, ver2)

        v1 = snapshot_read(spark, snap, version=1).select(
            "doc_id", F.md5("text").alias("v1_md5")
        )
        latest = snapshot_read(spark, snap).select(
            "doc_id", F.md5("text").alias("latest_md5")
        )
        joined = v1.join(latest, "doc_id", "full_outer").select(
            "doc_id",
            F.col("v1_md5").isNotNull().alias("in_v1"),
            F.col("latest_md5").isNotNull().alias("in_latest"),
            "v1_md5",
            "latest_md5",
            (
                F.col("v1_md5").isNotNull()
                & F.col("latest_md5").isNotNull()
                & (F.col("v1_md5") != F.col("latest_md5"))
            ).alias("updated"),
        )
        return joined.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "table_schema_evolution",
    """
    SELECT doc_id, lang,
           CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
           (doc_id % 2 = 1) AS has_chars
    FROM documents
    """,
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution (Iceberg add-column contract) under a FULL
    oracle: epoch 1 writes the even docs with the OLD schema
    (doc_id, lang); epoch 2 writes the odd docs with an ADDED column
    (doc_id, lang, n_chars); `read_evolved` (mergeSchema) unions the
    two directories so pre-evolution rows surface NULL for the column
    they predate. The oracle is the same projection over `documents`;
    a read that drops the old files, fails to merge the schemas, or
    backfills anything other than NULL hash-fails.

    Scale shape: mergeSchema reads each file with its own footer
    schema and projects to the union — no rewrite of old data, the
    exact add-column evolution a 100-TB table relies on (rewriting
    history to add a column is the thing Iceberg exists to avoid)."""
    import shutil
    import tempfile

    from ..io import read_evolved

    docs = load_table(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="cat_evo_")
    e1, e2 = base + "/epoch1", base + "/epoch2"
    try:
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang"
        ).write.parquet(e1)
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars"
        ).write.parquet(e2)
        evolved = read_evolved(spark, e1, e2).select(
            "doc_id",
            "lang",
            "n_chars",
            F.col("n_chars").isNotNull().alias("has_chars"),
        )
        return evolved.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
