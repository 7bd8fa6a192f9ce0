"""Outside-in observation: host record, noise probes, peak RSS, spans.

Nothing here reaches into the engine. Spans wrap the benchmark's own
calls into the engine's public functions; Spark work is attributed to a
span through a job group the span sets, read back from the status
tracker and the application status store (both live with the UI off).
"""

from __future__ import annotations

import os
import platform
import time
from contextlib import contextmanager


def noise_probe() -> float:
    """Wall time of a fixed CPU spin loop (bench.py's probe, quarter size).
    Hypervisor steal or a busy neighbour inflates it, so a contaminated
    run shows in its own record."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(500_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> dict[str, int]:
    """Host-wide busy, idle and steal clock ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": sum(v[:3]) + sum(v[5:7]), "idle": v[3] + v[4], "steal": v[7]}


def steal_share(before: dict[str, int], after: dict[str, int]) -> float:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values())
    return d["steal"] / total if total else 0.0


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class ProcessTree:
    """This process and its descendants (the driver JVM and the Python
    workers it forks), read from /proc: the sum of each process's peak RSS
    (VmHWM, polled between iterations; a poll only misses workers that
    start and exit between polls) and the CPU time they have used."""

    def __init__(self) -> None:
        self.peak_kb: dict[int, int] = {}

    def _descendants(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        todo, seen = list(children.get(os.getpid(), [])), []
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo.extend(children.get(pid, []))
        return seen

    def poll(self) -> None:
        for pid in self._descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))
            except OSError:
                continue

    def peak_rss_mib(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def cpu_s(self) -> float:
        """User + system CPU seconds used so far by the live tree,
        including children it has already reaped (exited Python workers)."""
        ticks = 0
        for pid in [os.getpid(), *self._descendants()]:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += sum(int(x) for x in fields[11:15])
            except OSError:
                continue
        return ticks / os.sysconf("SC_CLK_TCK")


def host_record(spark, seed: int) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    return {
        "nproc": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "driver_memory_conf": spark.conf.get("spark.driver.memory", "unset"),
        "driver_heap_max_mib": jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
    }


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Each span sets
    its own Spark job group, so the jobs an action or call launches are
    attributed to the innermost open span. Disabled, it records nothing
    and touches no Spark state."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent reading Spark's status back

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans) + len(self._open),
            "name": name,
            "run": self.run_id,
            "parent": self._open[-1]["id"] if self._open else None,
        }
        group = f"{self.run_id}/{rec['id']}"
        self.sc.setJobGroup(group, name)
        self._open.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(f"{self.run_id}/{self._open[-1]['id']}", self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            t1 = time.perf_counter()
            rec.update(self._spark_work(group, rec["start"], rec["end"]))
            self.bookkeeping_s += time.perf_counter() - t1
            self.spans.append(rec)

    def _spark_work(self, group: str, start: float, end: float) -> dict:
        """Jobs, stages, executor time, shuffle and spill of one job group,
        plus the span's driver gap: wall time with none of its jobs running."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"jobs": 0, "stages": 0, "skipped_stages": 0, "exec_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_disk_bytes": 0, "spill_memory_bytes": 0}
        intervals = []
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                t1 = done.get().getTime() / 1000 if done.isDefined() else end
                intervals.append((max(start, sub.get().getTime() / 1000), min(end, t1)))
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else [])
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            out["exec_s"] += st.executorRunTime() / 1000
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_disk_bytes"] += st.diskBytesSpilled()
            out["spill_memory_bytes"] += st.memoryBytesSpilled()
        out["driver_gap_s"] = _idle_s(start, end, intervals)
        out["job_intervals"] = intervals
        return out

    def find(self, name: str) -> dict:
        """The latest closed span of that name."""
        return next(s for s in reversed(self.spans) if s["name"] == name)

    def combined(self, names: list[str]) -> dict:
        """Work of several sibling spans taken as one: counts add up, and
        the driver gap is measured over their joint interval."""
        spans = [self.find(n) for n in names]
        out = {k: sum(s[k] for s in spans) for k in (
            "jobs", "stages", "exec_s", "shuffle_write_bytes", "spill_disk_bytes")}
        start, end = min(s["start"] for s in spans), max(s["end"] for s in spans)
        out["driver_gap_s"] = _idle_s(start, end, [iv for s in spans for iv in s["job_intervals"]])
        return out


def _idle_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Time in [start, end] covered by none of the (job) intervals."""
    busy, covered_to = 0.0, start
    for a, b in sorted(intervals):
        a = max(a, covered_to)
        if b > a:
            busy += b - a
            covered_to = b
    return max(0.0, (end - start) - busy)
