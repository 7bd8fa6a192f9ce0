"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default: every
core, ``os.cpu_count()``) and prints ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship query is the metric stage from BASELINE.json:2 — the
spatial-join + tiling trace — so the line also carries its throughput
in pages/sec. Scaling-efficiency evidence (same job at local[8] vs
local[32]) is produced by ``tools/bench_scaling.py`` → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
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


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", CPUS)
    from osm_data_classification_spark.catalog import full_catalog
    from osm_data_classification_spark.jobs_api import flagship
    from osm_data_classification_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    cat = full_catalog()

    from osm_data_classification_spark.plans.audit import plan_fingerprint

    timings: dict[str, float] = {}
    fingerprints: dict[str, str] = {}
    probes: list[float] = [noise_probe()]

    # --- flagship: spatial-join + tiling (the BASELINE.json metric) ------
    # warm-up once so JVM/Python-worker startup isn't attributed to it;
    # best-of-3 because the Arrow refine stage's wall time is noisy
    # under local[32] thread contention (and the host has phantom-steal
    # events — see noise_probe)
    flagship(spark, SF_DIR, multiplier=1).count()
    flagship_s = None
    n_tiles = 0
    # best-of-5 for the flagship specifically: its 20s+ all-32-thread
    # stages cannot fit BETWEEN the host's steal bursts the way the
    # sub-2s suite queries can (BENCH/OBSERVED.md: in one run every
    # other query sat at its floor with clean probes while all three
    # flagship trials drew 40s+, and an isolated trial minutes later
    # ran 3.8s) — more trials raise the odds one lands in the fast mode
    for _ in range(5):
        t0 = time.perf_counter()
        df = flagship(spark, SF_DIR, multiplier=MULTIPLIER)
        n_tiles = df.count()
        dt = time.perf_counter() - t0
        flagship_s = dt if flagship_s is None or dt < flagship_s else flagship_s
    probes.append(noise_probe())
    # pages processed = input rows of the trace (crawl fan-out included)
    from osm_data_classification_spark.sources.pages import synth_pages

    n_pages = synth_pages(spark, SF_DIR, multiplier=MULTIPLIER).count()
    timings["flagship_spatial_tiling"] = round(flagship_s, 3)
    _ffp = [
        plan_fingerprint(flagship(spark, SF_DIR, multiplier=MULTIPLIER))
        for _ in range(2)
    ]
    fingerprints["flagship_spatial_tiling"] = (
        _ffp[0] if _ffp[0] == _ffp[1] else "unstable"
    )

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
        best = None
        for _ in range(3):  # best-of-3: GC/scheduler/steal noise is real
            t0 = time.perf_counter()
            spec.fn(spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        # fingerprint of the optimized logical plan (r4 VERDICT #4):
        # "code unchanged => plan unchanged" becomes a mechanical
        # round-over-round diff instead of an ad-hoc noise argument.
        # Built twice: a handful of Catalyst rewrites are internally
        # nondeterministic (RewriteDistinctAggregates permutes gid
        # labels per construction) — those are recorded as "unstable"
        # rather than producing false round-over-round diffs.
        fp1 = plan_fingerprint(spec.fn(spark, SF_DIR))
        fp2 = plan_fingerprint(spec.fn(spark, SF_DIR))
        fingerprints[name] = fp1 if fp1 == fp2 else "unstable"
        probes.append(noise_probe())

    # --- L4 parallelism invariance as a per-round artifact (r3 VERDICT
    # #8): the same flagship tile table must checksum identically at
    # local[32] and local[8] — shuffle/partitioning nondeterminism in
    # any operator on the flagship path shows up HERE, in the file the
    # driver reads, not only in the pytest suite.
    from osm_data_classification_spark.io import table_checksum

    inv_df = flagship(spark, SF_DIR, multiplier=1).drop("activity_hist")
    sum32 = table_checksum(inv_df)
    spark.stop()
    spark8 = get_spark("bench-inv8", master="local[8]")
    spark8.sparkContext.setLogLevel("ERROR")
    inv_df8 = flagship(spark8, SF_DIR, multiplier=1).drop("activity_hist")
    sum8 = table_checksum(inv_df8)
    spark8.stop()
    invariance = {
        "query": "flagship_tiles",
        "local32_checksum": sum32,
        "local8_checksum": sum8,
        "identical": sum32 == sum8,
    }

    # round-over-round fingerprint diff vs the newest recorded BENCH_r*
    # that carries fingerprints (older rounds predate the field)
    import glob

    fp_diff: dict[str, object] = {"baseline": None, "changed": []}
    _root = os.path.dirname(os.path.abspath(__file__))
    for prior in sorted(
        glob.glob(os.path.join(_root, "BENCH_r*.json")), reverse=True
    ):
        try:
            prev = json.load(open(prior)).get("plan_fingerprints")
        except (OSError, json.JSONDecodeError):
            continue
        if prev:
            fp_diff["baseline"] = os.path.basename(prior)
            fp_diff["changed"] = sorted(
                q
                for q in fingerprints
                if q in prev
                and "unstable" not in (prev[q], fingerprints[q])
                and prev[q] != fingerprints[q]
            )
            break

    total = round(sum(timings.values()), 3)
    probes_r = [round(p, 4) for p in probes]
    print(
        json.dumps(
            {
                "metric": "headline-suite wall time (flagship spatial-join+tiling + operator suite)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
                "flagship_pages": n_pages,
                "flagship_tiles": n_tiles,
                "flagship_pages_per_sec": round(n_pages / flagship_s, 1),
                "cpus": int(CPUS),
                "multiplier": MULTIPLIER,
                # interleaved fixed-work CPU probes: a contaminated
                # trial shows here as elevated/ragged samples — check
                # before reading anything into cross-round deltas
                "noise_probe_s": {
                    "min": min(probes_r),
                    "max": max(probes_r),
                    "median": sorted(probes_r)[len(probes_r) // 2],
                    "samples": probes_r,
                },
                "runs_per_query": 3,
                "flagship_runs": 5,
                "invariance": invariance,
                "plan_fingerprints": fingerprints,
                "plan_fingerprint_diff": fp_diff,
            }
        )
    )


if __name__ == "__main__":
    main()
