"""Counters read from outside the package: process CPU and memory from
/proc, and per-call Spark counters from the in-process status store
(the Spark UI stays off).

A call's Spark counters are those of the jobs and stages created while
the call ran: the window between the scheduler's next job and stage id
before and after it.  This also catches jobs submitted from the
package's own thread pools, which do not carry the caller's job group.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")
MB = 1024 * 1024


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we looked
        return None
    # comm may hold spaces; the fields after it start past the last ')'.
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including children they reaped."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5).
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (/proc/stat); it inflates wall times."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class ProcessTree:
    """The benchmark process, the Spark JVM it launched and the PySpark
    worker processes below the JVM."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        return descendants(self.root)

    def jvm_pid(self) -> int | None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        return pid
            except OSError:
                pass
        return None

    def cpu_s(self) -> float:
        return cpu_s(self.pids())

    def python_workers_cpu_s(self, jvm: int | None) -> float:
        """CPU of the PySpark daemon and workers: the JVM's
        descendants, without the JVM itself."""
        if jvm is None:
            return 0.0
        return cpu_s(descendants(jvm)[1:])

    def peak_rss_mb(self) -> float:
        return peak_rss_mb(self.pids())


def jit_s(spark) -> float:
    """Seconds the JVM's JIT compilers have spent compiling: the
    CompilationMXBean's total, which keeps the time of compiler threads
    the JVM has already retired."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return bean.getTotalCompilationTime() / 1e3


SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "shuffle_write_mb",
    "spill_mb",
    "idle_core_s",
    "python_workers_cpu_s",
)


class SparkProbe:
    """Per-call Spark counters from the status store, by id window."""

    def __init__(self, spark, tree: ProcessTree, cores: int):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._tree = tree
        self._jvm = tree.jvm_pid()
        self.cores = cores

    def mark(self) -> tuple[int, int, float]:
        return (
            self._dag.nextJobId(),
            self._dag.nextStageId(),
            self._tree.python_workers_cpu_s(self._jvm),
        )

    def since(self, mark: tuple[int, int, float], wall_s: float) -> dict[str, float]:
        """Counters of the jobs and stages created after ``mark``."""
        job0, stage0, py0 = mark
        self._bus.waitUntilEmpty()
        job1, stage1 = self._dag.nextJobId(), self._dag.nextStageId()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = job1 - job0
        run_ms = 0
        for sid in range(stage0, stage1):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the store has no such stage
                continue  # created, never submitted
            if s.status().toString() == "SKIPPED":
                continue
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            run_ms += s.executorRunTime()
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_mb"] += s.inputBytes() / MB
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += s.diskBytesSpilled() / MB
        out["idle_core_s"] = wall_s * self.cores - run_ms / 1e3
        out["python_workers_cpu_s"] = self._tree.python_workers_cpu_s(self._jvm) - py0
        return out
