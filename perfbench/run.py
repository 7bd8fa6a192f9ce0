"""spark-geotile benchmark: closed-loop workloads over the spatial core.

Usage (from the repository root)::

    python3 perfbench/run.py --workload flagship_tiles --seed 42 --seconds 10 --trace 0

Untraced (``--trace 0``): set up one Spark session on ``local[nproc]``
with the engine's defaults, run one cold iteration, two warm-up
iterations, then measured warm iterations back to back for ``--seconds``
(at least three; one client, no extra threads), checking every output.
Then stop the session and set up once more in a fresh JVM: ``setup_s``
is the median of the two set-ups. Prints each end-to-end metric by name
with its unit, then, as the last stdout line, one compact JSON record.

Traced (``--trace 1``): the same set-up, cold and warm-up iterations,
then untraced and traced iterations in the order U T T U (tracing
overhead = mean traced - mean untraced), then a layer profile of the
whole north-star trace. Prints every per-layer metric.

Spans, per-layer numbers, noise probes, the host record and plan
fingerprints go to a side file under ``.perfbench/results/``.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import observe as O  # noqa: E402
import workloads as W  # noqa: E402  (imports the engine: fails fast without it)
from checks import load_pinned  # noqa: E402

from pyspark import SparkContext  # noqa: E402

from osm_data_classification_spark.session import get_spark  # noqa: E402
from osm_data_classification_spark.sources.boundaries import packed_boundaries  # noqa: E402

# Two warm-up iterations, not measured, bring an iteration's wall time
# near its plateau; a longer warm-up does not fit in a run (README.md,
# "Load model"). The measured phase then runs for --seconds, at least
# MIN_MEASURED iterations. An untraced run sets up SETUPS times and
# reports the median.
WARMUP, MIN_MEASURED, SETUPS = 2, 3, 2


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    make the engine importable by the Python workers, and drop engine
    overrides so its own defaults apply."""
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """Runs iterations of one workload and keeps their outcomes."""

    def __init__(self, wl, procs, probes: list) -> None:
        self.wl, self.procs, self.probes = wl, procs, probes
        self.samples: list[dict] = []
        self.last_df = None

    def once(self, tr, kind: str) -> dict:
        cpu0 = self.procs.cpu_s()
        t0 = time.perf_counter()
        completed = False
        try:
            df, problems = self.wl.run(tr)
            self.last_df, completed = df, True
        except Exception as e:  # a failed iteration is counted, never retried
            traceback.print_exc(file=sys.stderr)
            problems = [f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"]
        wall = time.perf_counter() - t0
        cpu = self.procs.cpu_s() - cpu0
        self.procs.poll()
        self.probes.append(O.noise_probe())
        s = {"kind": kind, "wall_s": wall, "cpu_s": cpu, "completed": completed,
             "ok": not problems, "problems": problems}
        if problems:
            print(f"# {self.wl.name} {kind} iteration FAILED: {'; '.join(problems)}", file=sys.stderr)
        self.samples.append(s)
        return s


def setup(seed: int):
    """One set-up: session up, a first trivial action run, boundaries packed.
    Returns the session and the time of each part."""
    parts = {}
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{os.cpu_count()}]")
    parts["session.start_s"] = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    t = time.perf_counter()
    spark.range(1).count()
    parts["first_action_s"] = time.perf_counter() - t
    t = time.perf_counter()
    packed_boundaries(W.N_BOUNDARIES, seed)
    parts["sources.boundaries.pack_s"] = time.perf_counter() - t
    return spark, parts


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10,
                    help="length of the measured warm phase (at least %d iterations)" % MIN_MEASURED)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _isolate(work)
    try:
        # set-up: process start -> session up, first action run, boundaries
        # packed. Later set-ups start a fresh JVM from the same process and
        # add the import time measured here, so every sample covers the same.
        import_s = O.process_age_s()
        spark, parts = setup(args.seed)
        setups = [O.process_age_s()]
        try:
            res = measure(args, work, spark, parts)
        finally:
            _stop(spark)
        if res is None:
            return 1
        for _ in range(0 if args.trace else SETUPS - 1):
            t = time.perf_counter()
            spark, more = setup(args.seed)
            setups.append(import_s + time.perf_counter() - t)
            res["side"]["setup_parts_s"].append(more)
            _stop(spark)
        report(args, res, setups, import_s)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work, spark, parts):
    """Run the workload's iterations in the set-up session and check them.
    Returns the outcome, or None when an iteration raised and left no
    timing."""
    pinned = load_pinned()
    host = O.host_record(spark, args.seed)
    load0, ticks0 = O.loadavg(), O.cpu_ticks()
    procs, probes = O.ProcessTree(), [O.noise_probe()]
    procs.poll()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    off = O.Tracer(spark, run_id, enabled=False)
    tr = O.Tracer(spark, run_id, enabled=bool(args.trace))

    wl = W.WORKLOADS[args.workload](spark, work, args.seed, pinned)
    loop = Loop(wl, procs, probes)
    cold = loop.once(off, "cold")
    for _ in range(WARMUP):
        loop.once(off, "warmup")
    extra_checks, extra_failed, profile = 0, 0, {}
    references = {wl.name: wl.reference}
    if not args.trace:
        end, n = time.perf_counter() + args.seconds, 0
        while n < MIN_MEASURED or time.perf_counter() < end:
            loop.once(off, "warm")
            n += 1
    else:
        # U T T U: a drift along the warm-up curve cancels out of the overhead
        for kind in ("untraced", "traced", "traced", "untraced"):
            loop.once(tr if kind == "traced" else off, kind)
        profile, references, extra_checks, problems = layer_profile(
            args, work, spark, tr, off, pinned, wl)
        extra_failed = len(problems)
        for p in problems:
            print(f"# layer profile check FAILED: {p}", file=sys.stderr)
    procs.poll()
    load1, ticks1 = O.loadavg(), O.cpu_ticks()

    fingerprint = None
    try:
        from osm_data_classification_spark.plans.audit import plan_fingerprint

        if loop.last_df is not None:
            fingerprint = plan_fingerprint(loop.last_df)
    except ImportError as e:
        fingerprint = f"unavailable: {e}"

    # an iteration that raised has no meaningful time; a wrong output is
    # timed like any other and counted in `failed`
    def walls(kind):
        return [s["wall_s"] for s in loop.samples if s["kind"] == kind and s["completed"]]

    timed = walls("untraced" if args.trace else "warm")
    attempted = len(loop.samples) + extra_checks
    failed = sum(not s["ok"] for s in loop.samples) + extra_failed
    correct = failed == 0 and not wl.reference_problems
    for p in wl.reference_problems:
        print(f"# reference check FAILED: {p}", file=sys.stderr)
    if not timed or not cold["completed"] or (args.trace and not walls("traced")):
        print("an iteration raised and left no timing; no metrics", file=sys.stderr)
        return None
    warm_med = statistics.median(timed)

    # gated (with setup_s); the rest is printed and kept in the side file,
    # cold time and memory being less steady between runs (README.md)
    e2e = {"items_per_s": (wl.items / warm_med, "items/s")}
    named = {
        "cold_s": (cold["wall_s"], "s"),
        f"{wl.item}_per_s": (wl.items / warm_med, f"{wl.item}/s"),
        "peak_rss_mb": (procs.peak_rss_mib(), "MiB"),
        "failed_frac": (failed / attempted, "ratio"),
    }
    per_layer = {}
    if args.trace:
        untraced, traced = statistics.mean(timed), statistics.mean(walls("traced"))
        per_layer = profile
        per_layer["session.start_s"] = (parts["session.start_s"], "s")
        per_layer["sources.boundaries.pack_s"] = (parts["sources.boundaries.pack_s"], "s")
        per_layer["trace.untraced_iter_s"] = (untraced, "s")
        per_layer["trace.traced_iter_s"] = (traced, "s")
        per_layer["trace.overhead_s"] = (traced - untraced, "s")

    side = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "run_seconds": args.seconds, "host": host,
        "loadavg_before": load0, "loadavg_after": load1,
        "steal_share": O.steal_share(ticks0, ticks1),
        "noise_probe_s": probes, "setup_parts_s": [parts],
        "iterations": loop.samples, "items": wl.items, "item": wl.item,
        "plan_fingerprint": fingerprint, "references": references, "spans": tr.spans,
    }
    return {"side": side, "e2e": e2e, "named": named, "per_layer": per_layer,
            "correct": correct, "attempted": attempted, "failed": failed,
            "run_id": run_id, "n_timed": len(timed), "warm_med": warm_med}


def report(args, res, setups: list[float], import_s: float) -> None:
    """Write the side file, print every metric with its unit and sample
    count, and print the compact JSON record as the last line."""
    side, e2e, named, per_layer = res["side"], res["e2e"], res["named"], res["per_layer"]
    setup_s = statistics.median(setups)
    e2e = {"setup_s": (setup_s, "s"), **e2e}
    side.update({
        "import_s": import_s, "setup_s": setups,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **named}.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
    })
    res_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(res_dir, exist_ok=True)
    side_path = os.path.join(res_dir, f"{res['run_id']}-trace{args.trace}.json")
    with open(side_path, "w") as f:
        json.dump(side, f, indent=1, default=str)

    host, probes, item = side["host"], side["noise_probe_s"], side["item"]
    print(f"# host: {host['nproc']} cpus, {host['master']}, heap {host['driver_heap_max_mib']:.0f} MiB, "
          f"shuffle.partitions {host['shuffle_partitions']}, defaultParallelism {host['default_parallelism']}, "
          f"Spark {host['spark']}, Java {host['java']}, Python {host['python']}")
    print(f"# seed {args.seed}; loadavg {side['loadavg_before']} -> {side['loadavg_after']}; "
          f"steal {side['steal_share']:.3f}; noise probe median {statistics.median(probes):.4f} s (n={len(probes)})")
    print(f"setup_s = {setup_s:.4f} s (median of n={len(setups)} set-ups, process start to session ready)")
    print(f"cold_s = {named['cold_s'][0]:.4f} s (n=1, first iteration in the fresh session)")
    timed = "untraced warm" if args.trace else "measured warm"
    for k in ("items_per_s", f"{item}_per_s"):
        v, u = {**e2e, **named}[k]
        print(f"{k} = {v:.1f} {u} ({side['items']} {item} / median of n={res['n_timed']} "
              f"{timed} iterations, {res['warm_med']:.4f} s)")
    print(f"peak_rss_mb = {named['peak_rss_mb'][0]:.1f} MiB (n=1, JVM + Python workers)")
    print(f"failed_frac = {named['failed_frac'][0]:.4f} ({res['failed']} of {res['attempted']} checked outputs)")
    for k, (v, u) in sorted(per_layer.items()):
        print(f"{k} = {v:.6g} {u}")
    print(f"# side file: {os.path.relpath(side_path, ROOT)}")
    chosen = per_layer if args.trace else e2e
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }, separators=(",", ":")))


def layer_profile(args, work, spark, tr, off, pinned, wl):
    """Per-layer metrics of the whole north-star trace, from spans. The
    flagship prefix chain and the fused flagship run back to back on a
    warm flagship in both workloads; the kNN metrics come from the named
    workload's last traced iteration, or from one traced iteration here.
    Returns the metrics, the reference values, the number of outputs
    checked here, and the problems found."""
    problems: list[str] = []
    checked = 0
    fl_wl = wl if wl.name == "flagship_tiles" else W.FlagshipTiles(spark, work, args.seed, pinned)
    knn = wl if wl.name == "knn_enrich" else W.KnnEnrich(spark, work, args.seed, pinned)
    if wl is not fl_wl:  # warm the flagship as far as its own workload's measured phase
        for _ in range(1 + WARMUP):
            problems += fl_wl.run(off)[1]
            checked += 1
    counts = W.flagship_prefixes(spark, tr, fl_wl.docs)
    fused, p = fl_wl.run(tr)
    problems += p + fl_wl.checksum_problems(fused)
    checked += 2
    if wl is not knn:
        problems += knn.run(tr)[1] + knn.reference_problems
        checked += 1
    io, io_problems = W.checkpoint_pass(spark, tr, work, fl_wl.docs, args.seed, pinned)
    problems += io_problems + knn.duckdb_problems()
    checked += 2
    references = {o.name: o.reference for o in (fl_wl, knn)}
    references["checkpoint_tiles_checksum"] = io["tiles_checksum"]

    w = lambda n: tr.find(n)["wall_s"]  # noqa: E731
    fl = tr.find("jobs_api.flagship")
    kn = tr.combined(["geo_ops.knn_join.call", "geo_ops.knn_join.action"])
    shuffle = lambda n: tr.find(n)["shuffle_write_bytes"]  # noqa: E731
    m = {
        "sources.pages.synth_s": (w("prefix.synth"), "s"),
        "sources.pages.geocode_encode_s": (w("prefix.pages") - w("prefix.synth"), "s"),
        "sources.pages.rows": (counts["pages"], "count"),
        "geo.pip.cell_cover_s": (w("geo.pip.cell_cover"), "s"),
        "geo.pip.cover_pairs": (counts["cover_pairs"], "count"),
        "geo_ops.pip_join.call_s": (w("geo_ops.pip_join.call"), "s"),
        "geo_ops.pip_join.coarse_s": (w("prefix.coarse") - w("prefix.pages"), "s"),
        "geo_ops.pip_join.refine_s": (w("prefix.refine") - w("prefix.coarse"), "s"),
        "geo_ops.pip_join.candidates": (counts["candidates"], "count"),
        "geo_ops.pip_join.matched": (counts["matched"], "count"),
        "geo_ops.pip_join.refine_yield": (counts["matched"] / max(1, counts["candidates"]), "ratio"),
        "geo_ops.tile_aggregate.s": (w("prefix.tiles") - w("prefix.refine"), "s"),
        "geo_ops.tile_aggregate.shuffle_bytes": (shuffle("prefix.tiles") - shuffle("prefix.refine"), "B"),
        "jobs_api.flagship.bhits_s": (w("prefix.bhits") - w("prefix.refine_cells"), "s"),
        "jobs_api.flagship.jobs": (fl["jobs"], "count"),
        "jobs_api.flagship.stages": (fl["stages"], "count"),
        "jobs_api.flagship.exec_s": (fl["exec_s"], "s"),
        "jobs_api.flagship.driver_gap_s": (fl["driver_gap_s"], "s"),
        "jobs_api.flagship.spill_bytes": (fl["spill_disk_bytes"], "B"),
        "geo_ops.knn_join.call_s": (w("geo_ops.knn_join.call"), "s"),
        "geo_ops.knn_join.action_s": (w("geo_ops.knn_join.action"), "s"),
        "geo_ops.knn_join.jobs": (kn["jobs"], "count"),
        "geo_ops.knn_join.stages": (kn["stages"], "count"),
        "geo_ops.knn_join.exec_s": (kn["exec_s"], "s"),
        "geo_ops.knn_join.driver_gap_s": (kn["driver_gap_s"], "s"),
        "geo_ops.knn_join.shuffle_bytes": (kn["shuffle_write_bytes"], "B"),
        "geo_ops.knn_join.cached_rdds_left": (knn.persistent_left, "count"),
        "io.write_s": (w("io.write"), "s"),
        "io.resume_s": (w("io.resume"), "s"),
        "io.stored_bytes_per_page": (
            sum(io[f"bytes.{s}"] for s in ("pages", "matched", "tiles")) / io["pages"], "B/page"),
        "io.lineage_rows_s": (w("io.lineage_rows"), "s"),
        "io.checkpoint_exists_s": (w("io.checkpoint_exists"), "s"),
        "io.table_checksum_s": (w("io.table_checksum"), "s"),
    }
    for s in ("pages", "matched", "tiles"):
        m[f"io.run_stage.write_s.{s}"] = (w(f"io.run_stage.{s}"), "s")
        m[f"io.checkpoint.bytes.{s}"] = (io[f"bytes.{s}"], "B")
        m[f"io.checkpoint.files.{s}"] = (io[f"files.{s}"], "count")
    # each self time is measured on its own prefix action; their sum is
    # compared with the fused flagship's wall time measured right after
    self_times = ("sources.pages.synth_s", "sources.pages.geocode_encode_s",
                  "geo_ops.pip_join.coarse_s", "geo_ops.pip_join.refine_s",
                  "geo_ops.tile_aggregate.s", "jobs_api.flagship.bhits_s")
    m["trace.prefix_sum_s"] = (sum(m[k][0] for k in self_times), "s")
    m["trace.fused_flagship_s"] = (fl["wall_s"], "s")
    m["trace.prefix_gap_s"] = (m["trace.prefix_sum_s"][0] - fl["wall_s"], "s")
    m["trace.bookkeeping_s"] = (tr.bookkeeping_s, "s")
    return m, references, checked, problems


if __name__ == "__main__":
    sys.exit(main())
