"""Measurement plumbing owned by the benchmark: summary statistics, the
``/proc`` sampler for the process tree, the Spark status-store reader and
the in-memory span recorder.  Nothing here runs a Spark job."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- statistics --------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, never
    below the median; returns ``(value, percentile)``."""
    values = sorted(values)
    n = len(values)
    if not n:
        return 0.0, 50
    pct = max(50, math.floor(100 * (1 - 10 / n)))
    if pct == 50:
        return median(values), pct
    # nearest-rank percentile
    rank = max(1, math.ceil(pct / 100 * n))
    return float(values[rank - 1]), pct


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def peak_overlap(intervals) -> int:
    """Maximum number of ``(start, end)`` intervals open at once."""
    events = sorted(
        [(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
        key=lambda x: (x[0], x[1]),
    )
    cur = peak = 0
    for _, d in events:
        cur += d
        peak = max(peak, cur)
    return peak


# -- /proc --------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def process_start_s() -> float:
    """This process's start, on the CLOCK_BOOTTIME scale."""
    return int(_stat(os.getpid())[19]) / CLK_TCK


def since_process_start() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME) - process_start_s()


def tree_pids(root: int, exclude: set[int]) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                children[int(fields[1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, exclude: set[int]) -> float:
    """CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root, exclude):
        fields = _stat(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class MemorySampler:
    """Samples the resident memory (PSS) of the whole process tree (driver,
    JVM, Python workers) on a background thread; ``stop`` returns the peak
    of the tree's total."""

    def __init__(self, exclude: set[int], interval_s: float = 0.2):
        self.exclude = exclude
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = sum(_pss_mb(pid) for pid in tree_pids(os.getpid(), self.exclude))
        self.peak_mb = max(self.peak_mb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak_mb


# -- Spark status store ----------------------------------------------------------

#: per-call Spark totals read from the status store
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class SparkProbe:
    """Reads job/stage metrics for one job group from the AppStatusStore,
    which Spark keeps with the UI off.  Reads only; it submits no job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._tracker = self.sc.statusTracker()
        # epoch ms -> monotonic seconds
        self._offset = time.time() - time.monotonic()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()  # noqa: SLF001

    def jvm_heap_mb(self) -> float:
        rt = self.sc._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
        return rt.totalMemory() / 2**20

    def group_metrics(self, group: str) -> dict:
        """Totals over every job of ``group`` plus one span per job."""
        self._bus.waitUntilEmpty()
        jobs = sorted(self._tracker.getJobIdsForGroup(group))
        out = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "gc_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "job_spans": [], "job_tasks": [],
        }
        seen: set[int] = set()
        for job_id in jobs:
            info = self._tracker.getJobInfo(job_id)
            job_tasks = 0
            for stage_id in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue  # never submitted (skipped)
                tasks = sd.numCompleteTasks()
                job_tasks += tasks
                if stage_id in seen or tasks == 0:
                    continue
                seen.add(stage_id)
                out["stages"] += 1
                out["tasks"] += tasks
                out["executor_run_s"] += sd.executorRunTime() / 1000
                out["gc_s"] += sd.jvmGcTime() / 1000
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["job_tasks"].append(job_tasks)
            jd = self._store.job(job_id)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                out["job_spans"].append(
                    (
                        f"spark:job{job_id}",
                        jd.submissionTime().get().getTime() / 1000 - self._offset,
                        jd.completionTime().get().getTime() / 1000 - self._offset,
                    )
                )
        if len(self._tracker.getJobIdsForGroup(group)) != len(jobs):
            raise RuntimeError(f"a Spark job ran in {group} while it was read")
        return out


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    when the run ends.  The layer of a span is its name up to the first
    colon."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "run": self.run_id,
                           **attrs})
        return len(self.spans) - 1

    def nest(self, parent: int | None, candidates: list[int], items: list[int]) -> None:
        """Give each span in ``items`` the shortest span in ``candidates``
        that contains its start as parent, else ``parent``."""
        for iid in items:
            s = self.spans[iid]["start"]
            best = None
            for cid in candidates:
                c = self.spans[cid]
                if c["start"] <= s <= c["end"] and (
                    best is None
                    or c["end"] - c["start"]
                    < self.spans[best]["end"] - self.spans[best]["start"]
                ):
                    best = cid
            self.spans[iid]["parent"] = best if best is not None else parent

    def self_times(self, roots: set[int]) -> dict[str, float]:
        """Self time per layer over the subtrees under ``roots``: a span's
        duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]].append(sp)
        out: dict[str, float] = defaultdict(float)
        todo = list(roots)
        while todo:
            sp = self.spans[todo.pop()]
            kids = children.get(sp["id"], [])
            covered = union_length(
                (max(k["start"], sp["start"]), min(k["end"], sp["end"]))
                for k in kids
                if k["end"] > sp["start"] and k["start"] < sp["end"]
            )
            out[sp["name"].split(":")[0]] += sp["end"] - sp["start"] - covered
            todo.extend(k["id"] for k in kids)
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")
