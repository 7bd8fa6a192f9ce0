"""Table IO: catalog-abstracted reads, checkpoint writes, lineage sink.

The reference pipeline hands data between luigi tasks as CSV files on
disk — the file IS the checkpoint (SURVEY.md §3.1 `[U: luigi targets]`).
The new engine's equivalent is: parquet/Iceberg snapshot per stage plus
a **lineage/metrics side table** with one row per output partition
``(partition_id, input_rows, output_rows, cell_range, checksum)``
(BASELINE.json:6), enabling exact resume-from-checkpoint.

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
            # decimal accumulator: ANSI mode would overflow a long sum
            F.pmod(
                F.sum(F.col("__h").cast("decimal(38,0)")),
                F.lit(2**62).cast("decimal(38,0)"),
            )
            .cast("long")
            .alias("checksum"),
        )
    )


def lineage_rows(
    df: DataFrame,
    cell_col: str | None = None,
    input_rows: int | None = None,
) -> DataFrame:
    """Per-partition lineage rows (BASELINE.json:6).

    Schema: partition_id, input_rows, output_rows, cell_min, cell_max,
    checksum. Pure built-in aggregation — one narrow pass, no shuffle
    beyond the final tiny groupBy on partition_id (#partitions rows).
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
            F.lit(input_rows).cast("long").alias("input_rows"),
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


def checkpoint_write(
    df: DataFrame,
    path: str,
    cell_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a stage result + its lineage side table.

    Layout: ``{path}/data`` (the rows) and ``{path}/_lineage`` (the
    metrics table). On Iceberg this maps to a snapshot append plus a
    row-append to a metrics table; the resume contract is identical.
    """
    df.write.mode(mode).parquet(os.path.join(path, "data"))
    spark = df.sparkSession
    data = spark.read.parquet(os.path.join(path, "data"))
    lineage_rows(data, cell_col=cell_col).write.mode(mode).parquet(
        os.path.join(path, "_lineage")
    )


def checkpoint_exists(spark: SparkSession, path: str) -> bool:
    """A checkpoint is valid iff data + lineage agree on row counts —
    the exact-resume gate: a partially-written stage (data present,
    lineage missing or mismatched) is treated as absent and recomputed."""
    data_p = os.path.join(path, "data")
    lin_p = os.path.join(path, "_lineage")
    if not (os.path.isdir(data_p) and os.path.isdir(lin_p)):
        return False
    try:
        n_data = spark.read.parquet(data_p).count()
        n_lin = (
            spark.read.parquet(lin_p).agg(F.sum("output_rows").alias("n")).collect()[0]["n"]
        )
        return n_data == (n_lin or 0)
    except Exception:
        return False


def checkpoint_read(spark: SparkSession, path: str) -> DataFrame:
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


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Bin-pack small-file compaction — the local emulation of
    Iceberg's ``rewrite_data_files`` maintenance action (SURVEY.md
    §4.1). Streaming sinks and fine-grained upserts leave a table as
    thousands of tiny parquet files; at 100 TB that is the classic
    small-file problem (every file is a scan task + a name-node entry
    + a footer fetch). Compaction reads the fragmented table and
    rewrites it as ``ceil(total_bytes / target_bytes)`` files.

    Scale shape: ``coalesce`` (NOT ``repartition``) — pure bin-packing
    merges input splits without a shuffle, exactly like Iceberg's
    bin-pack strategy; a 100-TB compaction moves every byte once,
    map-only. The rewrite goes to a temp dir then swaps in atomically
    (same protocol as :func:`upsert`), so readers never observe a
    half-compacted table. Returns before/after stats; content
    equality is checksum-gated in tests/test_layout.py via
    :func:`table_checksum` (order-insensitive, so the merge order of
    coalesce cannot matter)."""
    import math
    import shutil
    import uuid

    def _data_files(p):
        out = []
        for root, _dirs, files in os.walk(p):
            out.extend(
                os.path.join(root, f)
                for f in files
                if f.endswith(".parquet") and not f.startswith("_")
            )
        return out

    before = _data_files(path)
    bytes_before = sum(os.path.getsize(f) for f in before)
    n_target = max(1, math.ceil(bytes_before / target_bytes))
    df = spark.read.parquet(path)
    tmp = os.path.join(
        os.path.dirname(path.rstrip("/")),
        f"_compact_{uuid.uuid4().hex[:8]}",
    )
    df.coalesce(n_target).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)
    after = _data_files(path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes_before": bytes_before,
        "bytes_after": sum(os.path.getsize(f) for f in after),
    }


# ---------------------------------------------------------------------------
# CSV / JSON checkpoint formats (SURVEY.md §2.1 S2)
#
# The reference hands data between luigi tasks as CSV files `[U: luigi
# targets]`; these helpers provide the same interchange surface with
# schema round-tripping (CSV carries no types, so the schema is saved
# alongside and re-applied on read — type-lossless, unlike the
# reference's stringly CSVs).
# ---------------------------------------------------------------------------


def write_csv_checkpoint(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    import json as _json

    df.write.mode(mode).option("header", True).csv(os.path.join(path, "data"))
    schema_path = os.path.join(path, "_schema.json")
    with open(schema_path, "w") as f:
        f.write(_json.dumps(df.schema.jsonValue()))


def read_csv_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    import json as _json

    from pyspark.sql.types import StructType

    with open(os.path.join(path, "_schema.json")) as f:
        schema = StructType.fromJson(_json.loads(f.read()))
    return (
        spark.read.option("header", True)
        .schema(schema)
        .csv(os.path.join(path, "data"))
    )


def write_json_checkpoint(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def read_json_checkpoint(
    spark: SparkSession, path: str, schema: "str | None" = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def run_stage(
    spark: SparkSession,
    path: str,
    build: "callable",
    cell_col: str | None = None,
    force: bool = False,
) -> DataFrame:
    """Resume-from-checkpoint: return the committed stage output if its
    lineage validates, else build → write → read back."""
    if not force and checkpoint_exists(spark, path):
        return checkpoint_read(spark, path)
    checkpoint_write(build(), path, cell_col=cell_col)
    return checkpoint_read(spark, path)


# ---------------------------------------------------------------------------
# Partition-granular resume (BASELINE.json:6 "exact resume-from-checkpoint")
# ---------------------------------------------------------------------------


def partitioned_checkpoint_write(df: DataFrame, path: str, part_col: str) -> None:
    """Checkpoint a stage partitioned by ``part_col`` (hive layout:
    ``data/{part_col}=v/``) plus a PER-VALUE lineage table
    ``(part, output_rows, checksum)`` — the unit of resume is one
    partition value, not the whole stage."""
    df.write.mode("overwrite").partitionBy(part_col).parquet(
        os.path.join(path, "data")
    )
    spark = df.sparkSession
    data = spark.read.parquet(os.path.join(path, "data")).select(*df.columns)
    lin = _lineage_agg(data, part_col, data.drop(part_col))
    lin.write.mode("overwrite").parquet(os.path.join(path, "_lineage"))


def resume_partitions(
    spark: SparkSession, path: str, part_col: str, recompute
) -> tuple[DataFrame, list]:
    """Heal a partitioned checkpoint: diff the on-disk data against
    the lineage table per partition value (missing directory, row
    count drift, or checksum drift → damaged) and recompute ONLY the
    damaged partitions via ``recompute(spark)`` filtered to them,
    rewriting each with dynamic partition overwrite. Healthy
    partitions are never re-read beyond the audit and never
    rewritten — resume cost is O(damage), not O(stage)
    (BASELINE.json:6: per-partition lineage enables exact resume).

    Returns (healed DataFrame, list of healed partition values)."""
    lin_p = os.path.join(path, "_lineage")
    data_p = os.path.join(path, "data")
    expected = {
        r[part_col]: (r["output_rows"], r["checksum"])
        for r in spark.read.parquet(lin_p).collect()
    }
    from pyspark.errors import AnalysisException

    try:
        data = spark.read.parquet(data_p)
    except AnalysisException:
        # data/ missing entirely (first run or total loss): every
        # lineage partition is damaged. Any OTHER read error must
        # propagate — a blanket except here made a transient IO
        # failure indistinguishable from total damage (r3 ADVICE).
        actual = {}
    else:
        actual = {
            r[part_col]: (r["output_rows"], r["checksum"])
            for r in _lineage_agg(data, part_col, data.drop(part_col)).collect()
        }
    # an on-disk partition the lineage never wrote is foreign data —
    # including it in the healed frame would silently launder it into
    # the checkpoint's contract (r3 ADVICE: fail loudly on extras)
    extras = sorted(set(actual) - set(expected), key=str)
    if extras:
        raise ValueError(
            f"resume_partitions: on-disk partitions not in lineage "
            f"{lin_p}: {extras} — foreign/corrupt data under {data_p}"
        )
    damaged = [p for p, exp in expected.items() if actual.get(p) != exp]
    if damaged:
        fresh = recompute(spark).filter(F.col(part_col).isin(damaged))
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            fresh.write.mode("overwrite").partitionBy(part_col).parquet(data_p)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.read.parquet(data_p), damaged


def snapshot_expire(path: str, keep_last: int) -> list[int]:
    """Expire old snapshots (Iceberg ``expire_snapshots`` analog):
    drop all but the newest ``keep_last`` versions from the manifest
    FIRST (atomic swap — readers can never resolve an expired
    version), then delete the orphaned ``v=N`` directories. Returns
    the expired version numbers. A version still in the manifest is
    never deleted, and a crash between manifest swap and directory
    removal only leaves unreferenced directories (safe garbage, swept
    by the next expire) — never a referenced-but-missing version."""
    import json as _json
    import shutil

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    hist = snapshot_history(path)
    if len(hist) <= keep_last:
        return []
    expired = [m["version"] for m in hist[:-keep_last]]
    man_p = os.path.join(path, "_snapshots.json")
    tmp = man_p + ".tmp"
    with open(tmp, "w") as f:
        f.write(_json.dumps(hist[-keep_last:]))
    os.replace(tmp, man_p)
    for v in expired:
        shutil.rmtree(os.path.join(path, f"v={v}"), ignore_errors=True)
    return expired


def read_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union parquet directories written with
    DIFFERENT (compatible) schemas — older files surface NULL for
    columns they predate (``mergeSchema``), exactly Iceberg's
    add-column evolution contract. One call, no manual casting."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)
