"""Measurement plumbing: spans around layer calls, Spark job groups and
their counters, storage-memory polling and process-tree RSS sampling.

Spans are recorded only in a traced run. Each span has a name, start,
end, parent and the id of the request (query, build or epoch) it belongs
to. A request span also tags its Spark jobs with a job group named after
the request, so the status tracker and the event log attribute jobs,
stages, tasks, rows and bytes to it.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        """Record a span; ``rid`` starts a request and its job group."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if rid is not None:
            self.sc.setJobGroup(rid, name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if rid is not None:
                outer = self._stack[-1]["rid"] if self._stack else None
                if outer is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(outer, self._stack[-1]["name"])

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total seconds and self seconds (duration
        minus the time covered by child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            d["n"] += 1
            d["total_s"] += dur
            d["self_s"] += dur - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the status tracker holds for a job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            stages += 1
            si = st.getStageInfo(s)
            tasks += si.numTasks if si is not None else 0
    return len(jobs), stages, tasks


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from the Spark event log, summed per job group:
    shuffle bytes written, bytes spilled to disk, input rows, tasks."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=_log_order):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    t = totals[g]
                    t["tasks"] += 1
                    t["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    t["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
    return totals


def _log_order(path: str) -> tuple[str, int]:
    """Rolled event-log files are named events_<n>_<app id>."""
    name = os.path.basename(path)
    return os.path.dirname(path), int(name.split("_")[1])


class _Poller:
    """Background thread calling ``sample()`` every ``interval`` seconds
    and keeping the peak."""

    def __init__(self, interval: float):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> float:
        raise NotImplementedError

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            if self._thread.is_alive():
                raise RuntimeError(f"{type(self).__name__} thread did not stop")
        return self.peak


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def cpu_times() -> list[int]:
    """The host's summed CPU times from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests: a run on a contended host is slower."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


class RssSampler(_Poller):
    """Resident memory of this process and all its descendants (the JVM
    and the Python workers), in MB. Each process counts its proportional
    share (PSS), so pages that forked workers share are counted once.
    ``peak_by_kind`` keeps the peak per program name (java, python3, ...)."""

    def __init__(self, interval: float):
        super().__init__(interval)
        self.peak_by_kind: dict[str, float] = defaultdict(float)

    def sample(self) -> float:
        by_kind: dict[str, float] = defaultdict(float)
        for p in descendants(os.getpid()):
            try:
                with open(f"/proc/{p}/comm") as f:
                    kind = f.read().strip()
                with open(f"/proc/{p}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            by_kind[kind] += int(line.split()[1]) / 1024
                            break
            except OSError:
                continue
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind[k], v)
        return sum(by_kind.values())


class StoragePoller(_Poller):
    """Spark storage memory held by cached relations, in MB."""

    def __init__(self, sc, interval: float = 0.1):
        super().__init__(interval)
        self._jsc = sc._jsc.sc()

    def sample(self) -> float:
        return sum(i.memSize() for i in self._jsc.getRDDStorageInfo()) / 2**20
