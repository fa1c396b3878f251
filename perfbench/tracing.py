"""Measurement plumbing of the benchmark: spans, Spark event-log folding,
process-tree memory sampling and the box-state record.

Spans are recorded around calls into the library from the benchmark's own
files; the library itself is not instrumented. Each span sets the Spark job
group to its own name, so the stages in the event log fold onto spans.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path

MIB = 1 << 20
SPARK_METRICS = (
    "shuffle_write_mb", "executor_cpu_s", "gc_s", "fetch_wait_s", "spill_mb", "failed_tasks",
)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    leaves the job group alone, so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def _set_group(self, name: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", name)
            self._sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def subtree(self, root_name: str) -> set[str]:
        """Names of the spans under (and including) every ``root_name`` span."""
        ids = {s["id"] for s in self.spans if s["name"] == root_name}
        for s in self.spans:  # parents precede children in recording order
            if s["parent"] in ids:
                ids.add(s["id"])
        return {self.spans[i]["name"] for i in ids}

    def with_self_time(self) -> list[dict]:
        """Spans plus ``self_s``: duration minus the union of child spans."""
        out = []
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_end = 0.0, s["start"]
            for a, b in kids:
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
        return out


def fold_event_log(log_dir: Path) -> dict[str | None, dict[str, float]]:
    """Task metrics of every Spark event log under ``log_dir``, summed per
    job group (None: jobs run without a group)."""
    out: dict[str | None, dict[str, float]] = {}
    for path in sorted(log_dir.rglob("events_*")):
        if path.name.endswith(".inprogress"):
            continue
        stage_group: dict[int, str | None] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    acc = out.setdefault(
                        stage_group.get(ev.get("Stage ID")), dict.fromkeys(SPARK_METRICS, 0.0)
                    )
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MIB
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    acc["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / MIB
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        acc["failed_tasks"] += 1
    return out


def _session_rss(sid: int) -> dict[str, int]:
    """RSS bytes and process count per command name over every live process
    in session ``sid`` (this process, the Spark JVM it launched and the
    JVM's Python workers).

    A child caught between fork and exec, with the same virtual size and
    RSS as its parent, is the parent's address space seen twice (the JVM
    spawns helpers that way) and is not counted."""
    page = os.sysconf("SC_PAGE_SIZE")
    procs: dict[int, tuple[str, int, int, int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        if int(fields[3]) == sid:
            comm = head.split("(", 1)[1]
            procs[int(pid)] = (comm, int(fields[1]), int(fields[20]), int(fields[21]))
    out: dict[str, int] = {}
    for comm, ppid, vsize, rss in procs.values():
        if ppid in procs and procs[ppid][2:] == (vsize, rss):
            continue
        out[comm] = out.get(comm, 0) + rss * page
        out[f"n_{comm}"] = out.get(f"n_{comm}", 0) + 1
    return out


class RssSampler:
    """Peak summed RSS of the session's process tree while active, and the
    per-command split at that peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._sid = os.getsid(0)

    def _sample(self) -> None:
        by = _session_rss(self._sid)
        total = sum(v for k, v in by.items() if not k.startswith("n_"))
        if total > self.peak:
            self.peak = total
            self.at_peak = {k: v if k.startswith("n_") else v / MIB for k, v in by.items()}

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def pinned_storage_mb(spark) -> float:
    """Executor storage (memory + disk) held by persisted or checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MIB


def membw_probe() -> float:
    """Single-core streaming memory bandwidth in GB/s, best of 3 (100 MB
    read + 100 MB write per pass, past any cache) — bench.py's probe at a
    quarter of its size."""
    import numpy as np

    a = np.zeros(12_500_000, dtype=np.int64)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        a *= 1
        best = min(best, time.perf_counter() - t)
    return 0.2 / best


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def box_state() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "membw_gbps": membw_probe(), "cpu_ticks": cpu_ticks()}
