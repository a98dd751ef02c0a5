"""Spark job-group counters and process-tree sampling.

Each benchmark op runs under its own Spark job group. After the op
returns, :func:`group_metrics` reads the group's jobs from
``statusTracker()`` and each stage's totals from the status store
(``statusStore().lastStageAttempt``), which works with the UI disabled.

:class:`ProcessSampler` follows the driver's Python process, the JVM and
the JVM's Python workers through ``/proc`` (Linux only) for peak RSS and
for the CPU time of the Python workers.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Optional, Tuple

from py4j.protocol import Py4JError

from stats import union_ms

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def group_metrics(sc, group: str, t0_ms: float, t1_ms: float) -> dict:
    """Counters of every job the op ran under job group ``group``.

    ``driver_only_ms`` is the op's wall time not covered by the union of
    its jobs' [submission, completion] intervals: time the driver spent
    with no job of this op running."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "executor_run_ms": 0.0,
           "executor_cpu_ms": 0.0, "input_mb": 0.0,
           "shuffle_write_mb": 0.0}
    intervals: List[Tuple[float, float]] = []
    seen = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        try:
            jd = store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            a = sub.get().getTime() if sub.isDefined() else t0_ms
            b = done.get().getTime() if done.isDefined() else t1_ms
            intervals.append((float(a), float(b)))
        except Py4JError:  # evicted from the store: count it, no interval
            pass
        for stage_id in (info.stageIds if info is not None else ()):
            if stage_id in seen:
                continue
            seen.add(stage_id)
            try:
                sd = store.lastStageAttempt(stage_id)
            except Py4JError:  # evicted, or no attempt recorded
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["input_mb"] += sd.inputBytes() / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
    out["driver_only_ms"] = max(
        0.0, (t1_ms - t0_ms) - union_ms(intervals, t0_ms, t1_ms))
    return out


def _proc_table() -> Dict[int, tuple]:
    """pid -> (ppid, cpu_ticks incl. reaped children, rss_bytes, comm)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rparen = raw.rfind(")")
        comm = raw[raw.find("(") + 1:rparen]
        f = raw[rparen + 2:].split()
        # fields after ")": state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21
        table[int(entry)] = (int(f[1]),
                             int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]),
                             int(f[21]) * _PAGE, comm)
    return table


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of ``pid``; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def children(pid: int) -> List[int]:
    out: List[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _descendants(table: Dict[int, tuple], root: int) -> List[int]:
    kids: Dict[int, list] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class ProcessSampler:
    """Samples RSS of driver + JVM + JVM descendants every ``interval``
    seconds on a daemon thread; keeps the peak."""

    def __init__(self, jvm_pid: Optional[int], interval: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_rss = 0
        self._daemon: Optional[int] = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "ProcessSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def _pids(self, table) -> List[int]:
        pids = [os.getpid()]
        if self.jvm_pid and self.jvm_pid in table:
            pids.append(self.jvm_pid)
            pids.extend(_descendants(table, self.jvm_pid))
        return pids

    def sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][2] for p in self._pids(table) if p in table)
        self.peak_rss = max(self.peak_rss, rss)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the driver's main thread, the JVM
        (all threads) and the JVM's Python workers, reaped ones included.
        The sampling thread's own CPU is left out."""
        total = time.thread_time()
        if not self.jvm_pid:
            return total
        total += _cpu_ticks(self.jvm_pid) / _HZ
        if self._daemon is None or not os.path.exists(
                f"/proc/{self._daemon}"):
            self._daemon = next(
                (p for p in children(self.jvm_pid)
                 if _comm(p).startswith("python")), None)
        if self._daemon is not None:
            total += sum(_cpu_ticks(p) for p in
                         [self._daemon] + children(self._daemon)) / _HZ
        return total

    def worker_cpu_s(self) -> float:
        """CPU seconds used so far by the JVM's Python worker processes
        (the daemon's count includes workers it has reaped)."""
        if not self.jvm_pid:
            return 0.0
        table = _proc_table()
        return sum(table[p][1] for p in _descendants(table, self.jvm_pid)
                   if table[p][3].startswith("python")) / _HZ
