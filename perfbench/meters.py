"""Meters read from outside the program under test.

* ``ProcTree`` samples ``/proc`` for the benchmark's own process tree: the
  driver Python, the Spark JVM it launches and the Python workers the JVM
  forks. CPU is user+sys including reaped children, so a worker that exits
  between samples keeps its seconds; RSS is summed over the live tree and
  sampled every ``_INTERVAL`` seconds, so a job's peak is the largest
  sample taken while it ran.
* ``job_counts`` reads Spark's ``statusTracker`` for one job group.
* ``event_log_counters`` sums task metrics from a Spark event log for the
  jobs of one job group.
"""

from __future__ import annotations

import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_INTERVAL = 0.05


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its closing paren
    return raw[raw.rfind(")") + 2:].split()


class ProcTree:
    """CPU seconds and RSS of this process and all its descendants."""

    def __init__(self):
        self.root = os.getpid()
        self.samples: list[tuple[float, int]] = []  # (perf_counter, bytes)
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, list[str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        keep, frontier = {}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in keep:
                keep[pid] = stats[pid]
                frontier.extend(children.get(pid, ()))
        return keep

    def cpu_s(self) -> float:
        """user+sys seconds of the live tree, reaped children included."""
        # fields after the paren: utime=11 stime=12 cutime=13 cstime=14
        return sum(int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
                   for st in self._tree().values()) / _TICK

    def rss_bytes(self) -> int:
        """Summed RSS of the tree. A child with its parent's vsize still
        shares the parent's pages: the JVM between a vfork and an exec, or
        a Python worker just forked. It is skipped, or they would count
        twice; the JVM's vfork child alone would add its whole heap."""
        tree = self._tree()
        # fields after the paren: ppid=1 vsize=20 rss=21
        return sum(int(st[21]) for st in tree.values()
                   if st[20] != tree.get(int(st[1]), (None,) * 21)[20]
                   ) * _PAGE

    def _run(self) -> None:
        while not self._stop.wait(_INTERVAL):
            self.samples.append((time.perf_counter(), self.rss_bytes()))

    def peak_rss(self, t0: float, t1: float) -> int:
        """Largest RSS sampled between ``t0`` and ``t1`` (perf_counter)."""
        return max((r for t, r in self.samples if t0 <= t <= t1),
                   default=self.rss_bytes())

    def start(self) -> None:
        self.samples = []
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numTasks
    return len(jobs), tasks


def event_log_counters(log_dir: str, group: str) -> dict[str, float]:
    """Task metrics summed over the stages of ``group``'s jobs."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.endswith(".inprogress")]
    stages: set[int] = set()
    tasks = []
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == group:
                        stages.update(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics")))
    out = {"shuffle_write_bytes": 0.0, "shuffle_read_bytes": 0.0,
           "spill_bytes": 0.0, "gc_s": 0.0, "executor_run_s": 0.0}
    for stage, m in tasks:
        if stage not in stages or not m:
            continue
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
        out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
    return out
