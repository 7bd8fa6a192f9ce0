"""Measure ACTUAL shuffle bytes per operator family (r3 VERDICT #7:
SCALE.md's 100-TB walk-throughs asserted exchange shapes; this tool
pins at least one MEASURED point per family next to each assertion).

Method: run each catalog query to completion, snapshot the Spark UI
REST API (/api/v1/applications/<id>/stages) before and after, and sum
the shuffle WRITE bytes and READ bytes of the stages the query added.
Shuffle write is the number that matters for the 100-TB claims — it is
what crosses the network and lands on shuffle disk at scale.

Usage::

    python tools/measure_shuffles.py [sf_dir] [query ...]

Prints one markdown table row per query:
    | query | input_rows | shuffle_write | shuffle_read | stages |
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
DEFAULT = [
    "dedup_minhash_lsh",
    "sample_global_shuffle",
    "geo_tile_agg",
    "agg_user_features",
    "sql_tpch_q5",
]
QUERIES = sys.argv[2:] or DEFAULT


def fetch(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def stage_stats(api: str) -> dict[int, tuple[int, int]]:
    """stageId -> (shuffle_write_bytes, shuffle_read_bytes); completed
    attempts only, newest attempt wins."""
    out: dict[int, tuple[int, int]] = {}
    for st in fetch(f"{api}/stages?status=complete"):
        out[st["stageId"]] = (
            int(st.get("shuffleWriteBytes", 0)),
            int(st.get("shuffleReadBytes", 0)),
        )
    return out


def human(n: int) -> str:
    for unit in ("B", "KiB", "MiB", "GiB"):
        if n < 1024 or unit == "GiB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024
    return f"{n} B"


def main() -> None:
    from osm_data_classification_spark.catalog import full_catalog
    from osm_data_classification_spark.session import get_spark

    spark = get_spark(
        "measure-shuffles",
        master=f"local[{os.cpu_count()}]",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    assert ui, "Spark UI disabled; shuffle metrics need spark.ui.enabled=true"
    app_id = spark.sparkContext.applicationId
    api = f"{ui}/api/v1/applications/{app_id}"
    cat = full_catalog()

    print(f"sf_dir={SF_DIR}")
    print("| query | result_rows | shuffle_write | shuffle_read | new_stages |")
    print("|---|---|---|---|---|")
    for name in QUERIES:
        # "flagship:<multiplier>" measures the end-to-end spatial-join
        # + tiling trace (jobs_api.flagship) — not a catalog entry.
        # Two multipliers a decade apart evidence shuffle LINEARITY in
        # the stated carrier (r4 VERDICT #5).
        if name.startswith("flagship"):
            from osm_data_classification_spark.jobs_api import flagship

            mult = int(name.split(":", 1)[1]) if ":" in name else 1000
            fn = lambda s, d, _m=mult: flagship(s, d, multiplier=_m)  # noqa: E731
        elif name in cat:
            fn = cat[name].fn
        else:
            print(f"| {name} | MISSING | | | |")
            continue
        spark.catalog.clearCache()
        # snapshot BEFORE fn(): iterative operators (dedup_clusters,
        # the stream entries) do their shuffling eagerly inside fn()
        # via localCheckpoint — measuring only the final action would
        # read 0 B for them
        before = stage_stats(api)
        df = fn(spark, SF_DIR)
        # noop sink, NOT count(): under count() Catalyst prunes every
        # column out of the exchanges (a 5k-row shuffle measured 59 B)
        # — the noop write materializes full rows, so the bytes are
        # what a real sink would shuffle
        df.write.format("noop").mode("overwrite").save()
        after = stage_stats(api)
        n = df.count()  # outside the measured span
        new = {k: v for k, v in after.items() if k not in before}
        w = sum(v[0] for v in new.values())
        r = sum(v[1] for v in new.values())
        print(f"| `{name}` | {n} | {human(w)} | {human(r)} | {len(new)} |")
    spark.stop()


if __name__ == "__main__":
    main()
