"""Table IO: catalog-abstracted reads, checkpoint writes, lineage sink.

The reference pipeline hands data between luigi tasks as CSV files on
disk — the file IS the checkpoint (SURVEY.md §3.1 `[U: luigi targets]`).
The new engine's equivalent is: parquet/Iceberg snapshot per stage plus
a **lineage/metrics side table** with one row per output partition
``(partition_id, input_rows, output_rows, cell_range, checksum)``
(BASELINE.json:6), enabling exact resume-from-checkpoint. That pair,
written and validated by :func:`run_stage`, is the one checkpoint
format and the one resume path.

Locally the "catalog" is a directory of parquet tables; on a cluster
swap ``format("parquet")`` for ``format("iceberg")`` — the engine code
above this module is identical in both (SURVEY.md §7 M0/M4 note).

The per-partition checksum is **order-insensitive** (a sum of
xxhash64 over canonicalized rows) so it is stable across shuffle
nondeterminism and parallelism levels — the L4 invariance gate
(SURVEY.md §5.2) compares it between local[8] and local[32] runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql()."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# ---------------------------------------------------------------------------
# Lineage / metrics (SURVEY.md §2.1 S5)
# ---------------------------------------------------------------------------


def row_checksum(df: DataFrame) -> F.Column:
    """Order-insensitive per-row hash over every column.

    ``xxhash64`` runs JVM-side inside whole-stage codegen; summing it is
    commutative, so the aggregate is independent of row order and
    partitioning. Floats are canonicalized via their IEEE bits through
    the hash of the column value itself (Spark hashes the raw value).
    """
    return F.xxhash64(*[F.col(c) for c in df.columns])


def _lineage_agg(
    df: DataFrame, key: str, hashed: DataFrame, *extra: F.Column
) -> DataFrame:
    """``df`` grouped by ``key`` into ``output_rows``, the ``extra``
    aggregates and an order-insensitive ``checksum`` (Σ row_checksum of
    ``hashed``'s columns, mod 2^62) — the lineage a checkpoint stores
    and a resume re-derives, so both must build it here."""
    return (
        df.withColumn("__h", row_checksum(hashed))
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("output_rows"),
            *extra,
            _sum_mod_2_62(F.col("__h")).alias("checksum"),
        )
    )


def _sum_mod_2_62(col: F.Column) -> F.Column:
    """Σ ``col`` mod 2^62 as a long — how a lineage checksum adds up.
    The accumulator is decimal: ANSI mode would overflow a long sum."""
    return F.pmod(
        F.sum(col.cast("decimal(38,0)")), F.lit(2**62).cast("decimal(38,0)")
    ).cast("long")


def lineage_rows(df: DataFrame, cell_col: str | None = None) -> DataFrame:
    """Per-partition lineage rows (BASELINE.json:6).

    Schema: partition_id, input_rows, output_rows, cell_min, cell_max,
    checksum. ``input_rows`` is a null long: a checkpoint is written
    from its data alone, so no stage has an input count to record.
    Pure built-in aggregation — one narrow pass, no shuffle beyond the
    final tiny groupBy on partition_id (#partitions rows).
    """
    cell = F.col(cell_col) if cell_col else F.lit(None).cast("long")
    return (
        _lineage_agg(
            df.withColumn("__pid", F.spark_partition_id()),
            "__pid",
            df,
            F.min(cell).alias("cell_min"),
            F.max(cell).alias("cell_max"),
        )
        .select(
            F.col("__pid").alias("partition_id"),
            F.lit(None).cast("long").alias("input_rows"),
            "output_rows",
            "cell_min",
            "cell_max",
            "checksum",
        )
    )


def table_checksum(df: DataFrame) -> int:
    """Single order-insensitive checksum of a whole DataFrame — used by
    the L4 parallelism-invariance gate (local[8] output ≡ local[32])."""
    row = df.agg(
        F.sum(row_checksum(df).cast("decimal(38,0)")).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (int(row["c"] or 0) % (1 << 64)) ^ row["n"]


# ---------------------------------------------------------------------------
# Checkpoint / resume (SURVEY.md §4.1 "custom" row; M4)
# ---------------------------------------------------------------------------


def checkpoint_write(df: DataFrame, path: str, cell_col: str | None = None) -> None:
    """Materialize a stage result + its lineage side table.

    Layout: ``{path}/data`` (the rows) and ``{path}/_lineage`` (the
    metrics table). On Iceberg this maps to a snapshot append plus a
    row-append to a metrics table; the resume contract is identical.
    """
    df.write.mode("overwrite").parquet(os.path.join(path, "data"))
    spark = df.sparkSession
    data = spark.read.parquet(os.path.join(path, "data"))
    lineage_rows(data, cell_col=cell_col).write.mode("overwrite").parquet(
        os.path.join(path, "_lineage")
    )


def checkpoint_exists(spark: SparkSession, path: str) -> bool:
    """A checkpoint is valid iff data + lineage agree on the row count
    AND the checksum — the exact-resume gate: a partially-written
    stage (data present, lineage missing or mismatched) or data whose
    values changed under an intact row count is treated as absent and
    recomputed. Both sides are sums mod 2^62 (Σ of the per-partition
    lineage checksums vs :func:`_lineage_agg` over all the data read
    back), so the partition layout does not matter."""
    data_p = os.path.join(path, "data")
    lin_p = os.path.join(path, "_lineage")
    if not (os.path.isdir(data_p) and os.path.isdir(lin_p)):
        return False
    try:
        data = spark.read.parquet(data_p)
        actual = _lineage_agg(data.withColumn("__all", F.lit(0)), "__all", data).collect()
        expected = spark.read.parquet(lin_p).agg(
            F.sum("output_rows"), _sum_mod_2_62(F.col("checksum"))
        ).first()
        if not actual:  # an empty stage writes no lineage rows
            return expected[0] is None
        return (actual[0]["output_rows"], actual[0]["checksum"]) == tuple(expected)
    except Exception:
        return False


def run_stage(
    spark: SparkSession,
    path: str,
    build: "callable",
    cell_col: str | None = None,
    force: bool = False,
) -> DataFrame:
    """Resume-from-checkpoint: return the committed stage output if its
    lineage validates, else build → write → read back. This is the one
    way a stage is written and resumed; a damaged checkpoint (see
    :func:`checkpoint_exists`) is rebuilt whole."""
    if force or not checkpoint_exists(spark, path):
        checkpoint_write(build(), path, cell_col=cell_col)
    return spark.read.parquet(os.path.join(path, "data"))


# ---------------------------------------------------------------------------
# Upsert sink (Iceberg/Delta MERGE-INTO analog on plain parquet)
# ---------------------------------------------------------------------------


def upsert(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> DataFrame:
    """MERGE semantics on a parquet table: incoming rows replace
    existing rows with the same key; others are appended. Locally this
    is a read → anti-join → union → atomic rewrite (write to a temp dir
    then swap); on Iceberg/Delta it maps to the engine's native
    MERGE INTO with the same contract. Returns the new table state."""
    import shutil
    import uuid

    data_p = os.path.join(path, "data")
    if os.path.isdir(data_p):
        existing = spark.read.parquet(data_p)
        keep = existing.join(df.select(*keys).distinct(), keys, "left_anti")
        merged = keep.select(*df.columns).unionByName(df)
    else:
        merged = df
    tmp = os.path.join(path, f"_tmp_{uuid.uuid4().hex[:8]}")
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(data_p):
        shutil.rmtree(data_p)
    os.replace(tmp, data_p)
    return spark.read.parquet(data_p)


def snapshot_write(df: DataFrame, path: str) -> int:
    """Append a new immutable table SNAPSHOT and return its version —
    the local emulation of Iceberg's snapshot log (time travel,
    reproducible training-set pinning, safe rollback). Layout:
    ``{path}/v=N/`` holds version N's full data; ``{path}/_snapshots.
    json`` is the manifest (version, row count, schema). Old versions
    are never touched, so a training run that pinned v=3 re-reads
    byte-identical data forever — the property a mutable parquet dir
    cannot give. On a real cluster this maps 1:1 onto
    ``df.writeTo(t).createOrReplace()`` + ``VERSION AS OF``."""
    import json as _json

    man_p = os.path.join(path, "_snapshots.json")
    manifest = []
    if os.path.exists(man_p):
        with open(man_p) as f:
            manifest = _json.load(f)
    version = (manifest[-1]["version"] + 1) if manifest else 1
    dest = os.path.join(path, f"v={version}")
    df.write.mode("error").parquet(dest)
    rows = df.sparkSession.read.parquet(dest).count()
    manifest.append(
        {"version": version, "rows": rows, "schema": df.schema.jsonValue()}
    )
    tmp = man_p + ".tmp"
    with open(tmp, "w") as f:
        f.write(_json.dumps(manifest))
    os.replace(tmp, man_p)  # atomic: readers see old or new, never half
    return version


def snapshot_history(path: str) -> list[dict]:
    import json as _json

    man_p = os.path.join(path, "_snapshots.json")
    if not os.path.exists(man_p):
        return []
    with open(man_p) as f:
        return _json.load(f)


def snapshot_read(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot: latest by default, or ``VERSION AS OF`` a
    specific one. Raises KeyError for a version that never existed —
    loudly, not as an empty frame."""
    hist = snapshot_history(path)
    if not hist:
        raise KeyError(f"no snapshots at {path}")
    versions = [m["version"] for m in hist]
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise KeyError(f"snapshot v={version} not in {versions} at {path}")
    return spark.read.parquet(os.path.join(path, f"v={version}"))


def cluster_write(
    df: DataFrame, path: str, col: str, n_files: int, mode: str = "overwrite"
) -> None:
    """Z-order-clustered parquet write (the OPTIMIZE ZORDER analog,
    SURVEY.md §4.1). The cell id already IS a Morton code (geo/
    cells.py), so spatial clustering is range-partitioning on it:
    `repartitionByRange` samples the key distribution and cuts n_files
    balanced, DISJOINT key ranges; the within-file sort tightens every
    parquet row-group's min/max to a narrow key band. A spatial box
    query is a contiguous Morton range (any parent cell's descendants
    are consecutive ids), so file- and row-group-level stats pruning
    skips everything outside the box — the difference between reading
    ~box/world of the table and reading all of it. At 100 TB this is
    the table-maintenance job that makes the tile store queryable;
    locally tests/test_layout.py proves the skipping with parquet
    footer stats."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )


def read_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet directories written with
    DIFFERENT (compatible) schemas — older files surface NULL for
    columns they predate (``mergeSchema``), exactly Iceberg's
    add-column evolution contract. One call, no manual casting."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)
