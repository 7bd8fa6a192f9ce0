"""L4 invariance gates (SURVEY.md §5.2): results identical across
partitioning; salted ops identical to unsalted; checkpoints resume
exactly; lineage checksums replay identically."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.io import (
    checkpoint_exists,
    checkpoint_write,
    load_table,
    run_stage,
    table_checksum,
)
from osm_data_classification_spark.jobs_api import flagship
from osm_data_classification_spark.operators.skew import (
    hot_keys,
    salted_join,
)
from osm_data_classification_spark.sources.pages import geocoded_pages


def test_flagship_checksum_partitioning_invariant(spark, sf_dir):
    """The flagship tile table hashes identically however the input is
    partitioned — the in-one-JVM proxy for local[8] ≡ local[32]
    (cross-JVM evidence: tools/bench_scaling.py → BENCH/BASELINE.md)."""
    a = table_checksum(flagship(spark, sf_dir))
    b = table_checksum(
        flagship(spark, sf_dir).repartition(3)
    )
    assert a == b
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        c = table_checksum(flagship(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert a == c


def test_salted_join_equals_plain_join(spark, sf_dir):
    """J9: salting is a pure physical rewrite — row-for-row identical
    output on a skewed input (30% of pages in 5 mega cells)."""
    pages = geocoded_pages(spark, sf_dir, res=7)
    dim = (
        pages.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    )
    plain = pages.join(dim, "cell").select("url", "warc_ts", "cell", "cell_n")
    salted = salted_join(pages, dim, on=["cell"], nsalt=8).select(
        "url", "warc_ts", "cell", "cell_n"
    )
    assert plain.count() == salted.count()
    assert table_checksum(plain) == table_checksum(salted)


def test_hot_keys_sketch_finds_mega_cells(spark, sf_dir):
    pages = geocoded_pages(spark, sf_dir, res=7)
    top = hot_keys(pages, ["cell"], top_n=5).collect()
    total = pages.count()
    top_share = sum(r["n"] for r in top) / total
    assert top_share > 0.25  # the 5 mega tokens carry ~30% of pages


class TestCheckpointResume:
    @pytest.fixture()
    def tmp(self):
        d = tempfile.mkdtemp(prefix="ckpt_")
        yield d
        shutil.rmtree(d, ignore_errors=True)

    def test_resume_skips_completed_stage(self, spark, sf_dir, tmp):
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return load_table(spark, sf_dir, "events").groupBy("user_id").count()

        out1 = run_stage(spark, tmp, build)
        assert calls["n"] == 1 and checkpoint_exists(spark, tmp)
        out2 = run_stage(spark, tmp, build)
        assert calls["n"] == 1  # not rebuilt
        assert table_checksum(out1) == table_checksum(out2)

    def test_empty_stage_resumes_without_rebuild(self, spark, sf_dir, tmp):
        """A 0-row stage writes no lineage rows; its checkpoint is still
        valid, so a resume reuses it instead of rebuilding."""
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return load_table(spark, sf_dir, "events").filter("event_id < 0")

        out1 = run_stage(spark, tmp, build, cell_col="user_id")
        assert calls["n"] == 1 and out1.count() == 0
        assert checkpoint_exists(spark, tmp)
        out2 = run_stage(spark, tmp, build, cell_col="user_id")
        assert calls["n"] == 1  # not rebuilt
        assert out2.count() == 0 and out2.schema == out1.schema

    def test_invalid_checkpoint_recomputed(self, spark, sf_dir, tmp):
        df = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        checkpoint_write(df, tmp)
        # corrupt: drop the lineage table → stage must be treated as absent
        shutil.rmtree(f"{tmp}/_lineage")
        assert not checkpoint_exists(spark, tmp)
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return df

        run_stage(spark, tmp, build)
        assert calls["n"] == 1 and checkpoint_exists(spark, tmp)

    def test_changed_checkpoint_values_recomputed(self, spark, sf_dir, tmp):
        """Same row count, one value changed: the stage is invalid, so
        a resume must not reuse the wrong rows."""
        df = load_table(spark, sf_dir, "events").select("event_id", "user_id")
        checkpoint_write(df, tmp)
        assert checkpoint_exists(spark, tmp)
        data = spark.read.parquet(f"{tmp}/data")
        first = data.agg(F.min("event_id")).first()[0]
        data.withColumn(
            "user_id",
            F.when(F.col("event_id") == first, F.col("user_id") + 1).otherwise(
                F.col("user_id")
            ),
        ).write.parquet(f"{tmp}/changed")
        shutil.rmtree(f"{tmp}/data")
        shutil.move(f"{tmp}/changed", f"{tmp}/data")
        assert spark.read.parquet(f"{tmp}/data").count() == df.count()
        assert not checkpoint_exists(spark, tmp)

    def test_lineage_checksums_replay_identically(self, spark, sf_dir, tmp):
        """Re-writing the same stage yields the same per-partition
        lineage (partition layout is parquet-read-deterministic)."""
        df = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
        checkpoint_write(df, f"{tmp}/a")
        checkpoint_write(df, f"{tmp}/b")
        la = sorted(
            (r["partition_id"], r["output_rows"], r["checksum"])
            for r in spark.read.parquet(f"{tmp}/a/_lineage").collect()
        )
        lb = sorted(
            (r["partition_id"], r["output_rows"], r["checksum"])
            for r in spark.read.parquet(f"{tmp}/b/_lineage").collect()
        )
        assert la == lb


def test_pip_result_independent_of_cover_res(spark, sf_dir):
    """The cover resolution is ONLY a candidate pre-filter: the refined
    match set is identical at coarse and fine covers (correctness never
    depends on cover tightness — geo/pip.py)."""
    from osm_data_classification_spark.operators.geo_ops import pip_join
    from osm_data_classification_spark.sources.boundaries import packed_boundaries

    pages = geocoded_pages(spark, sf_dir, res=7)
    pk = packed_boundaries(50)
    sets = []
    for res in (5, 7, 9):
        rows = {
            (r["url"], r["warc_ts"], r["boundary_id"])
            for r in pip_join(pages, pk, res=res)
            .select("url", "warc_ts", "boundary_id")
            .collect()
        }
        sets.append(rows)
    assert sets[0] == sets[1] == sets[2]


def test_salted_join_independent_of_nsalt(spark, sf_dir):
    from osm_data_classification_spark.io import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    dim = ev.groupBy("user_id").count()
    ref = None
    for nsalt in (1, 4, 32):
        cs = table_checksum(
            salted_join(ev, dim, on=["user_id"], nsalt=nsalt).select(
                "event_id", "user_id", "count"
            )
        )
        ref = cs if ref is None else ref
        assert cs == ref, f"nsalt={nsalt} changed the result"


def test_entry_schema_stable(spark):
    """The driver smoke-checks entry() for a stable schema; pin it."""
    import __spark_entry__ as e

    df = e.entry(spark)
    assert [f.name for f in df.schema.fields] == [
        "cell", "n_edits", "n_contributors", "n_urls",
        "n_en", "n_es", "n_de", "n_fr", "n_zh",
        "activity_hist", "n_boundaries",
    ]
    assert df.count() > 0


def test_dedup_pairs_partitioning_invariant(spark, sf_dir):
    """MinHash LSH output is a pure function of the corpus — identical
    pair set under different shuffle-partition settings (the band
    bucket join and candidate verify must not leak partitioning)."""
    from osm_data_classification_spark.operators.dedup import dedup_minhash_lsh

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        a = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        b = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b and len(a) > 0
