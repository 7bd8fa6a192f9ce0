"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on the engine's default master (``local[*]``, or
``local[$SPARK_GRAFT_CPUS]`` — see ``session.get_spark``) and prints
ONE compact JSON line last, short enough for a reader that keeps only
the tail of stdout::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "cpus": ..., ...}

The flagship query is the metric stage from BASELINE.json:2 — the
spatial-join + tiling trace — so the line also carries its throughput
in pages/sec. The per-query plan fingerprints, the noise-probe samples
and both parallelism-invariance checksums go to ``BENCH/profile.json``
(committed, so a plan change shows as a diff of that file).
Scaling-efficiency evidence (the same job at two parallelism levels)
is produced by ``tools/bench_scaling.py`` → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# fan-out factor for the synthesized pages table (sf0.1 documents ~5k
# rows -> 7.5M pages at 1000x incl. crawl chains); large enough that
# flagship throughput is measured in the compute-bound regime, not the
# ~2s stage-barrier floor. Override for scaling runs.
MULTIPLIER = int(os.environ.get("SPARK_GRAFT_MULTIPLIER", "1000"))

# catalog entries that exercise each heavy operator family at sf0.1
HEADLINE = [
    "agg_user_features",      # A3 wide per-user groupBy
    "window_version_chain",   # W1 partitioned sort + lead/lag
    "star_join_3way",         # J3 chained broadcast joins
    "agg_element_meta",       # A1 per-key hash agg over lineitem
    "geo_pip_join",           # J5 broadcast PIP (coarse + Arrow refine)
    "geo_knn_join",           # J6 grid kNN
    "geo_tile_agg",           # A7 two-phase tile aggregation
    "dedup_minhash_lsh",      # MinHash+LSH near-dup (training-data op)
    "ann_cosine_topk",        # similarity search over embeddings
    "text_quality_score",     # text-analysis pipeline op
    "sql_tpch_q5",            # deepest join chain (6-way, SQL surface)
    "gopher_quality_filter",  # scan-side doc filter (zip_with + HOFs)
    "embed_quantize_int8",    # map-only int8 vector recode
    "webgraph_host_degree",   # html parse -> host-graph rollup (s5)
    "bpe_pair_counts",        # tokenizer-training inner loop (s5)
    # round-4 breadth (r3 VERDICT #4): the heaviest round-3 families
    "dedup_paragraph_global", # CCNet global paragraph dedup (groupBy+join)
    "curate_corpus_funnel",   # end-to-end curation WITH-chain
    "pagerank_hosts_exact",   # bounded iterative joins on the host graph
    "geo_polyfill",           # polygon -> covering cells (center-in-poly)
    "sample_global_shuffle",  # shard-partitioned global shuffle (no sort)
]


def noise_probe() -> float:
    """Fixed CPU spin-loop, timed. The host has documented multi-minute
    hypervisor-steal events (NOTES_r2.md: loadavg 13 with zero local
    processes, every query uniformly 1.3–3× slower); this probe's wall
    time scales with exactly that steal, so interleaving it between
    queries makes a contaminated trial DETECTABLE in the JSON itself —
    compare probe samples across runs before comparing query times
    (round-2 VERDICT #6)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    if acc < 0:  # unreachable; keeps the loop from being elided
        print(acc)
    return time.perf_counter() - t0


def headline_line(
    timings: dict[str, float],
    n_pages: int,
    n_tiles: int,
    flagship_s: float,
    cpus: int,
    heap_mib: int,
    probes: list[float],
    identical: bool,
) -> str:
    """The bench record's last stdout line: the headline numbers only,
    kept compact (no fingerprints, no samples) so that it stays whole
    in a 2,000-character tail of stdout."""
    probes = sorted(probes)
    return json.dumps(
        {
            "metric": "headline-suite wall time (flagship spatial-join+tiling + operator suite)",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
            "flagship_pages": n_pages,
            "flagship_tiles": n_tiles,
            "flagship_pages_per_sec": round(n_pages / flagship_s, 1),
            "multiplier": MULTIPLIER,
            "cpus": cpus,
            "heap_mib": heap_mib,
            # interleaved fixed-work CPU probes: a contaminated trial
            # shows as an elevated median or max — check before reading
            # anything into cross-run deltas (samples in the side file)
            "noise_probe_s": {
                "median": round(probes[len(probes) // 2], 4),
                "max": round(probes[-1], 4),
            },
            "invariance_identical": identical,
            "runs_per_query": 3,
            "flagship_runs": 5,
        },
        separators=(",", ":"),
    )


def main() -> None:
    from osm_data_classification_spark.catalog import full_catalog
    from osm_data_classification_spark.jobs_api import flagship
    from osm_data_classification_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    heap_mib = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20
    cat = full_catalog()

    from osm_data_classification_spark.plans.audit import plan_fingerprint

    def best_of(n: int, build) -> tuple[float, int]:
        """Fastest of ``n`` timed build+count runs, and the row count."""
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            rows = build().count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best, rows

    def fingerprint(build) -> str:
        # fingerprint of the optimized logical plan (r4 VERDICT #4):
        # "code unchanged => plan unchanged" becomes a mechanical diff
        # of the side file instead of an ad-hoc noise argument. Built
        # twice: a Catalyst rewrite that is nondeterministic per
        # construction is recorded as "unstable", not as a plan change.
        fp1, fp2 = plan_fingerprint(build()), plan_fingerprint(build())
        return fp1 if fp1 == fp2 else "unstable"

    timings: dict[str, float] = {}
    fingerprints: dict[str, str] = {}
    probes: list[float] = [noise_probe()]

    # --- flagship: spatial-join + tiling (the BASELINE.json metric) ------
    # warm-up once so JVM/Python-worker startup isn't attributed to it
    flagship(spark, SF_DIR, multiplier=1).count()
    # best-of-5 for the flagship specifically: its multi-second
    # all-core stages cannot fit BETWEEN the host's steal bursts the way
    # the sub-2s suite queries can (BENCH/OBSERVED.md: in one run every
    # other query sat at its floor with clean probes while all three
    # flagship trials drew 40s+, and an isolated trial minutes later
    # ran 3.8s) — more trials raise the odds one lands in the fast mode
    def flagship_big():
        return flagship(spark, SF_DIR, multiplier=MULTIPLIER)

    flagship_s, n_tiles = best_of(5, flagship_big)
    probes.append(noise_probe())
    # pages processed = input rows of the trace (crawl fan-out included)
    from osm_data_classification_spark.sources.pages import synth_pages

    n_pages = synth_pages(spark, SF_DIR, multiplier=MULTIPLIER).count()
    timings["flagship_spatial_tiling"] = round(flagship_s, 3)
    fingerprints["flagship_spatial_tiling"] = fingerprint(flagship_big)

    warm_dir = SF_DIR.replace("sf0.1", "sf0.01")
    for name in HEADLINE:
        spec = cat.get(name)
        if spec is None:
            continue
        # operators persist their shared intermediates (kNN top-k,
        # shingle tables); drop them between queries so later timings
        # don't inherit another operator's cache-memory pressure
        spark.catalog.clearCache()
        # warm at the small SF first: whole-stage-codegen compiles once
        # per stage shape, so the timed run measures throughput, not
        # Janino (the shapes are identical across SFs)
        if warm_dir != SF_DIR and os.path.isdir(warm_dir):
            spec.fn(spark, warm_dir).count()
        # best-of-3: GC/scheduler/steal noise is real
        timings[name] = round(best_of(3, lambda: spec.fn(spark, SF_DIR))[0], 3)
        fingerprints[name] = fingerprint(lambda: spec.fn(spark, SF_DIR))
        probes.append(noise_probe())

    # --- L4 parallelism invariance as a per-run artifact (r3 VERDICT
    # #8): the same flagship tile table must checksum identically on
    # the default master and at local[8] — shuffle/partitioning
    # nondeterminism in any operator on the flagship path shows up
    # HERE, in the record the driver reads, not only in the pytest suite.
    from osm_data_classification_spark.io import table_checksum

    inv_df = flagship(spark, SF_DIR, multiplier=1).drop("activity_hist")
    main_sum = table_checksum(inv_df)
    spark.stop()
    spark8 = get_spark("bench-inv8", master="local[8]")
    spark8.sparkContext.setLogLevel("ERROR")
    inv_df8 = flagship(spark8, SF_DIR, multiplier=1).drop("activity_hist")
    sum8 = table_checksum(inv_df8)
    spark8.stop()

    profile = {
        # plans depend on the core count (pre-fan-out repartition)
        "cpus": cpus,
        "plan_fingerprints": fingerprints,
        "noise_probe_s": [round(p, 4) for p in probes],
        "invariance": {
            "query": "flagship_tiles",
            "main_checksum": main_sum,
            "local8_checksum": sum8,
        },
    }
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    with open(os.path.join(bench_dir, "profile.json"), "w") as f:
        json.dump(profile, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        headline_line(
            timings, n_pages, n_tiles, flagship_s, cpus, heap_mib, probes,
            main_sum == sum8,
        )
    )


if __name__ == "__main__":
    main()
