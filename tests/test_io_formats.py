"""S2 interchange formats: CSV (the reference's luigi hand-off medium)
and JSON checkpoints round-trip with schema fidelity."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from osm_data_classification_spark.io import (
    load_table,
    read_csv_checkpoint,
    read_json_checkpoint,
    table_checksum,
    write_csv_checkpoint,
    write_json_checkpoint,
)


@pytest.fixture()
def tmp():
    d = tempfile.mkdtemp(prefix="iofmt_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_csv_checkpoint_roundtrip_schema_and_values(spark, sf_dir, tmp):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_csv_checkpoint(ev, tmp)
    back = read_csv_checkpoint(spark, tmp)
    assert back.schema == ev.schema  # CSV alone is typeless; sidecar restores
    assert back.count() == ev.count()
    assert table_checksum(back.select("event_id", "user_id", "event_type")) == \
        table_checksum(ev.select("event_id", "user_id", "event_type"))


def test_json_checkpoint_roundtrip(spark, sf_dir, tmp):
    docs = load_table(spark, sf_dir, "documents")
    write_json_checkpoint(docs, tmp)
    back = read_json_checkpoint(
        spark, tmp, "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert back.count() == docs.count()
    assert table_checksum(back) == table_checksum(docs)


def test_upsert_merge_semantics(spark, sf_dir, tmp):
    from osm_data_classification_spark.io import upsert

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = ev.filter("event_id < 500")
    state1 = upsert(spark, base, tmp, keys=["event_id"])
    assert state1.count() == base.count()

    # updates (overlapping keys, new values) + inserts (new keys)
    updates = ev.filter("event_id >= 400 AND event_id < 600").withColumn(
        "value", F.col("value") + 1000.0
    )
    state2 = upsert(spark, updates, tmp, keys=["event_id"])
    assert state2.count() == 600  # 0..599, each key exactly once
    assert state2.select("event_id").distinct().count() == 600
    # overlapped keys carry the NEW values
    overlap = state2.filter("event_id >= 400 AND event_id < 500")
    assert overlap.filter(F.col("value") < 1000.0).count() == 0
    # untouched keys keep their old values
    untouched = state2.filter("event_id < 400")
    assert untouched.filter(F.col("value") >= 1000.0).count() == 0


def test_upsert_idempotent(spark, sf_dir, tmp):
    from osm_data_classification_spark.io import table_checksum, upsert

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    upsert(spark, ev, tmp, keys=["event_id"])
    a = table_checksum(spark.read.parquet(f"{tmp}/data"))
    upsert(spark, ev, tmp, keys=["event_id"])  # same rows again
    b = table_checksum(spark.read.parquet(f"{tmp}/data"))
    assert a == b


def test_snapshot_time_travel_and_rollback(spark, sf_dir, tmp_path):
    """Snapshot log semantics: three versions written, every earlier
    version re-reads unchanged after later writes (time travel), the
    latest is the default, history is complete, and a never-existing
    version raises instead of returning an empty frame."""
    import pytest as _pytest

    from osm_data_classification_spark.io import (
        load_table,
        snapshot_history,
        snapshot_read,
        snapshot_write,
    )

    t = str(tmp_path / "snap")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    v1 = snapshot_write(ev, t)
    v2 = snapshot_write(ev.where(F.col("event_id") % 2 == 0), t)
    v3 = snapshot_write(ev.limit(10), t)
    assert (v1, v2, v3) == (1, 2, 3)

    n_all = ev.count()
    assert snapshot_read(spark, t, 1).count() == n_all
    assert snapshot_read(spark, t, 2).count() == ev.where(
        F.col("event_id") % 2 == 0
    ).count()
    assert snapshot_read(spark, t).count() == 10  # latest by default
    hist = snapshot_history(t)
    assert [m["version"] for m in hist] == [1, 2, 3]
    assert hist[0]["rows"] == n_all
    with _pytest.raises(KeyError):
        snapshot_read(spark, t, 99)
    # time travel is genuine: v1 bytes unchanged after v2/v3 writes
    a = sorted(r["event_id"] for r in snapshot_read(spark, t, 1).collect())
    b = sorted(r["event_id"] for r in ev.collect())
    assert a == b


def test_engine_zip_matches_tree(tmp_path):
    """r4 VERDICT "What's wrong" #2: engine.zip was built two commits
    before the final tree, so a --py-files deploy would have missed the
    last two operators. Gate: the zip that `tools/package.build` makes
    (the jobs build theirs the same way at submit time) holds every .py
    under the package tree byte-identically and no orphans."""
    import os
    import zipfile

    from tools.package import build

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "osm_data_classification_spark"
    zpath = build(str(tmp_path / "engine.zip"))

    tree = {}
    for dirpath, _dirs, files in os.walk(os.path.join(root, pkg)):
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, root)
                tree[rel] = open(full, "rb").read()

    with zipfile.ZipFile(zpath) as z:
        zipped = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}

    missing = sorted(set(tree) - set(zipped))
    orphans = sorted(set(zipped) - set(tree))
    assert not missing, f"engine.zip is stale — tree files absent: {missing}"
    assert not orphans, f"engine.zip has orphan files: {orphans}"
    diff = sorted(rel for rel in tree if tree[rel] != zipped[rel])
    assert not diff, f"engine.zip content differs from tree: {diff}"


def test_snapshot_merge_entry_membership_laws(spark, sf_dir):
    """table_snapshot_merge end-to-end laws: v1 membership is doc_id%3
    != 2, latest adds the even batch, updated = exactly (in both and
    even), and time travel preserved every v1 digest (an updated doc's
    v1_md5 equals the original text's md5, not the rewritten one)."""
    from pyspark.sql import functions as F

    from osm_data_classification_spark.io import load_table
    from osm_data_classification_spark.operators.warehouse import (
        CATALOG as WH,
    )

    out = WH["table_snapshot_merge"].fn(spark, sf_dir)
    bad = out.filter(
        (F.col("in_v1") != (F.col("doc_id") % 3 != 2))
        | (F.col("in_latest") != ((F.col("doc_id") % 3 != 2) | (F.col("doc_id") % 2 == 0)))
        | (F.col("updated") != (F.col("in_v1") & (F.col("doc_id") % 2 == 0)))
    ).count()
    assert bad == 0
    # time-travel isolation: v1 digests equal the ORIGINAL text md5
    orig = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("orig_md5")
    )
    leak = (
        out.filter(F.col("in_v1"))
        .join(orig, "doc_id")
        .filter(F.col("v1_md5") != F.col("orig_md5"))
        .count()
    )
    assert leak == 0, "the merge rewrite bled into snapshot v1"
