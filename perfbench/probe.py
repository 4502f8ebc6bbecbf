"""Measurement probes that need no change to the program under test.

- ``ProcSampler``: one background thread that samples the resident
  memory of this process's whole tree (driver, JVM, Python workers) from
  ``/proc`` and keeps the peak.
- ``python_worker_cpu_s``: CPU seconds used so far by the PySpark worker
  processes, which the JVM's executor CPU time does not include.
- ``JobGroupStats``: per-job-group stage metrics read from the JVM status
  store over py4j (``statusTracker().getJobIdsForGroup`` ->
  ``statusStore().job(id).stageIds()`` -> ``stageData(...)``). No UI port
  or network is needed.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) from /proc/<pid>/stat, or None if
    the process ended while being read."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses; it ends at the last ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    return raw[lpar + 1:rpar], int(rest[1]), rest


def _snapshot() -> dict[int, tuple[str, int, list[str]]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _descendants(stats: dict, root: int) -> dict[int, tuple[str, int, list[str]]]:
    """``root`` and every live descendant of it, with their stats."""
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return tree


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root``'s process tree with shared pages
    counted once (the sum of each process's proportional set size). A
    plain RSS sum would count a child the JVM has just forked, and not
    yet replaced by exec, as a second copy of the JVM."""
    return sum(_pss_bytes(pid) for pid in _descendants(_snapshot(), root))


def python_worker_cpu_s(root: int) -> float:
    """User+system CPU of the Python processes under the JVM (the pyspark
    daemon and its forked workers), including workers that have already
    exited: their time is in the daemon's children counters.

    Only meaningful as a difference between two readings taken while one
    SparkContext is up (stopping the context ends the daemon)."""
    stats = _snapshot()
    ticks = 0
    for jvm, (comm, _, _) in _descendants(stats, root).items():
        if comm != "java":
            continue
        for comm2, _, rest in _descendants(stats, jvm).values():
            if comm2.startswith("python"):
                # utime, stime, cutime, cstime: fields 14-17 (indexes 11-14).
                ticks += sum(int(x) for x in rest[11:15])
    return ticks / _CLK_TCK


class ProcSampler:
    """Samples the process-tree RSS every ``interval`` seconds on one
    thread and keeps the peak. Use as a context manager."""

    def __init__(self, root: int | None = None, interval: float = 0.25):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def _loop(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        rss = tree_rss_bytes(self.root)
        self.samples += 1
        if rss > self.peak_bytes:
            self.peak_bytes = rss

    def reset_peak(self) -> None:
        self.peak_bytes = 0

    def __enter__(self) -> ProcSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


STAGE_FIELDS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
)


class JobGroupStats:
    """Reads the stage metrics of the jobs in one Spark job group.

    Adaptive query execution submits extra jobs (broadcast and subquery
    stages) from the thread that set the group; they carry the group's
    local property and are counted too (pinned by the benchmark's tests).
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._to_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def read(self, group: str) -> dict:
        """Sums over every stage attempt of every job in ``group``. Also
        returns ``intervals``: (submit_ms, complete_ms) per stage attempt."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out.update(jobs=0, stages=0, intervals=[])
        seen: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            for stage_id in self._to_java(self._store.job(job_id).stageIds()):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                attempts = self._to_java(self._store.stageData(
                    stage_id, False, self._no_status, False, self._no_quantiles))
                for sd in attempts:
                    if str(sd.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["input_bytes"] += sd.inputBytes()
                    out["output_bytes"] += sd.outputBytes()
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        out["intervals"].append(
                            (sub.get().getTime(), done.get().getTime()))
        return out

