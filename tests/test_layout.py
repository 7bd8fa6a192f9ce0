"""Table-layout scale evidence (SURVEY.md §4.1 layout rows): bucketed
co-located joins eliminate the shuffle, and partition-by-date layout
prunes at the scan — the Iceberg-hidden-partitioning story, exercised
on plain parquet tables (io.py abstracts the catalog; swap the format
on a real cluster)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.io import load_table
from osm_data_classification_spark.plans import audit
from tests import plan_probes


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="wh_")
    old = spark.conf.get("spark.sql.warehouse.dir", None)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, sf_dir, warehouse):
    """Both sides bucketed by the join key → SortMergeJoin with ZERO
    shuffle exchanges: at 100 TB this is the difference between a
    co-located merge and moving both tables over the network."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(F.sum("value").alias("total"))
    for name, df in (("ev_b", ev.select("event_id", "user_id", "value")), ("agg_b", agg)):
        (
            df.write.mode("overwrite")
            .bucketBy(8, "user_id")
            .sortBy("user_id")
            .option("path", f"{warehouse}/{name}")
            .saveAsTable(name)
        )
    # the test tables are tiny, so disable auto-broadcast to expose the
    # bucketed sort-merge path (at real scale neither side broadcasts)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("ev_b").join(spark.table("agg_b"), "user_id")
        kinds = plan_probes.join_kinds(joined)
        n_ex = plan_probes.count_exchanges(joined)
        assert n_ex == 0, f"bucketed join still shuffles: {n_ex} exchanges"
        assert "SortMergeJoin" in kinds
        # and it computes the right thing
        plain = ev.select("event_id", "user_id", "value").join(agg, "user_id")
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS ev_b")
        spark.sql("DROP TABLE IF EXISTS agg_b")


def test_partitioned_layout_prunes_at_scan(spark, sf_dir):
    """date-partitioned layout: a day filter becomes a PartitionFilter
    (directories never listed), not a row filter."""
    d = tempfile.mkdtemp(prefix="part_")
    try:
        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", F.to_date("ts")
        )
        ev.write.mode("overwrite").partitionBy("day").parquet(d)
        back = spark.read.parquet(d).filter(F.col("day") == "2024-01-05")
        plan = audit.formatted_plan(back)
        assert "PartitionFilters" in plan
        import re

        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "day" in m.group(1), plan[:2000]
        exp = ev.filter(F.to_date("ts") == "2024-01-05").count()
        assert back.count() == exp
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cell_prefix_partition_pruning(spark, sf_dir):
    """Morton ids share prefixes within a parent cell, so writing
    partitioned by a coarse parent cell prunes spatial queries — the
    cell-prefix layout of SURVEY.md §4.1."""
    from osm_data_classification_spark.geo.cells import cell_parent_col
    from osm_data_classification_spark.sources.pages import geocoded_pages

    d = tempfile.mkdtemp(prefix="cellpart_")
    try:
        pages = geocoded_pages(spark, sf_dir, res=9).withColumn(
            "cell_r4", cell_parent_col(F.col("cell"), 9, 4)
        )
        pages.drop("html").write.mode("overwrite").partitionBy("cell_r4").parquet(d)
        some_cell = pages.select("cell_r4").first()["cell_r4"]
        back = spark.read.parquet(d).filter(F.col("cell_r4") == some_cell)
        plan = audit.formatted_plan(back)
        assert "PartitionFilters" in plan
        exp = pages.filter(F.col("cell_r4") == some_cell).count()
        assert back.count() == exp
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_zorder_cluster_write_skips_files_on_box_query(spark, sf_dir):
    """Z-order clustering evidence at the parquet-footer level: after
    cluster_write on the (Morton) cell id, a spatial box — any parent
    cell's descendant range, which is CONTIGUOUS in the id space —
    overlaps only the few files whose [min,max] band intersects it,
    while the same data written round-robin leaves every file's band
    spanning the whole world (no file can ever be skipped). This is
    the stats-pruning contract row-group skipping and Delta/Iceberg
    data skipping build on."""
    import pyarrow.parquet as pq

    from osm_data_classification_spark.geo.cells import cell_parent_col
    from osm_data_classification_spark.io import cluster_write
    from osm_data_classification_spark.sources.pages import geocoded_pages

    pages = geocoded_pages(spark, sf_dir, res=9).select("url", "cell")
    n_files = 16
    d_clu = tempfile.mkdtemp(prefix="zclu_")
    d_rr = tempfile.mkdtemp(prefix="zrr_")
    try:
        cluster_write(pages, d_clu, "cell", n_files)
        pages.repartition(n_files).write.mode("overwrite").parquet(d_rr)

        # query box: one res-4 parent cell -> contiguous res-9 id range
        parent = (
            pages.select(cell_parent_col(F.col("cell"), 9, 4).alias("p"))
            .groupBy("p").count().orderBy(F.desc("count")).first()["p"]
        )
        # descendants at res 9: morton prefix extended by 2*(9-4) bits
        delta = 2 * (9 - 4)
        pm = parent & ((1 << 56) - 1)
        res_tag = 9 << 56
        lo = res_tag | (pm << delta)
        hi = res_tag | ((pm + 1) << delta)

        def overlapping(dirname):
            files = [
                os.path.join(dirname, f)
                for f in os.listdir(dirname)
                if f.endswith(".parquet")
            ]
            assert len(files) >= n_files - 1, files
            hit = 0
            for fp in files:
                md = pq.ParquetFile(fp).metadata
                idx = {
                    md.schema.column(i).name: i
                    for i in range(md.schema.to_arrow_schema().__len__())
                }
                c = idx["cell"]
                fmin = min(
                    md.row_group(g).column(c).statistics.min
                    for g in range(md.num_row_groups)
                )
                fmax = max(
                    md.row_group(g).column(c).statistics.max
                    for g in range(md.num_row_groups)
                )
                if fmin < hi and fmax >= lo:
                    hit += 1
            return hit, len(files)

        hit_clu, n_clu = overlapping(d_clu)
        hit_rr, n_rr = overlapping(d_rr)
        # round-robin: every file spans ~the whole id space
        assert hit_rr == n_rr, (hit_rr, n_rr)
        # clustered: the contiguous box range lives in a few files
        assert hit_clu <= max(2, n_clu // 4), (hit_clu, n_clu)
        # and the data is intact: the box rows are identical either way
        a = spark.read.parquet(d_clu).filter(
            (F.col("cell") >= lo) & (F.col("cell") < hi)
        ).count()
        b = spark.read.parquet(d_rr).filter(
            (F.col("cell") >= lo) & (F.col("cell") < hi)
        ).count()
        exp = pages.filter((F.col("cell") >= lo) & (F.col("cell") < hi)).count()
        assert a == b == exp and exp > 0
    finally:
        shutil.rmtree(d_clu, ignore_errors=True)
        shutil.rmtree(d_rr, ignore_errors=True)


def test_read_evolved_merges_added_column(spark, sf_dir):
    """read_evolved: a directory written before a column existed
    surfaces NULL for it; values and counts line up across the union."""
    from osm_data_classification_spark.io import load_table, read_evolved

    d1 = tempfile.mkdtemp(prefix="evo1_")
    d2 = tempfile.mkdtemp(prefix="evo2_")
    try:
        ev = load_table(spark, sf_dir, "events")
        ev.select("event_id", "user_id").filter("event_id % 2 = 0").write.mode(
            "overwrite"
        ).parquet(d1)
        ev.select("event_id", "user_id", "event_type").filter(
            "event_id % 2 = 1"
        ).write.mode("overwrite").parquet(d2)
        got = read_evolved(spark, d1, d2)
        assert set(got.columns) == {"event_id", "user_id", "event_type"}
        assert got.count() == ev.count()
        nulls = got.filter(F.col("event_type").isNull()).count()
        assert nulls == ev.filter("event_id % 2 = 0").count()
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)
