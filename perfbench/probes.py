"""Measurement from outside the program: process counters, spans, and
Spark's own per-job counters.

Nothing here edits the engine. Layer timings come from wrapping the public
functions the benchmark calls (or, for ``catalog.table``, from rebinding
the module attribute the engine resolves at call time). Spark counters come from one job group per
(operation, phase): ``sc.statusTracker()`` maps a group to its jobs and
stages, and the status store gives each stage's task metrics.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: StageData task-metric getters, summed per layer as <layer>.<key>
_STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "input_bytes": "inputBytes",
    "executor_run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
}


# --------------------------------------------------------------- /proc

def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds of pid plus its reaped children) from /proc."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks / _CLK_TCK


def tree_cpu_s(root_pid: int | None = None) -> float:
    """CPU seconds used so far by ``root_pid`` and every live descendant.

    Covers the Python driver, the driver JVM (driver and executor threads in
    local mode) and the Python workers it forks. Each process's figure
    includes the children it has reaped, so short-lived workers count too.
    """
    root = root_pid or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[ppid].append(pid)
    total, stack = 0.0, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            total += stats[pid][1]
        stack.extend(children.get(pid, ()))
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


# --------------------------------------------------------------- spans

class Tracer:
    """In-memory spans plus per-phase Spark counters.

    ``enabled`` (the run's ``--trace``) installs the layer wrappers;
    ``active`` switches recording per pass. An inactive tracer records
    nothing and sets no job groups, so the same workload code runs traced
    and untraced.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None
        self._groups: list[tuple[str, str]] = []  # (job group, layer)
        self._t0 = time.perf_counter()

    # -- spans
    def span(self, name: str):
        return _Span(self, name)

    def begin_op(self, op_id: str) -> None:
        self._op = op_id
        self._groups = []

    def end_op(self) -> None:
        self._op = None

    # -- job groups: each phase of an operation gets its own group
    def phase(self, layer: str):
        return _Phase(self, layer)

    def set_context(self, sc) -> None:
        """Point at a new SparkContext after a session restart."""
        self.sc = sc

    def harvest(self) -> None:
        """Fold the finished operation's job groups into layer counters.

        Waits for Spark's listener bus first: task-end events are delivered
        asynchronously, so the status store may lag the action's return.
        """
        if not self.active:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for group, layer in self._groups:
            for job_id in tracker.getJobIdsForGroup(group):
                self.counts[f"{layer}.jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 - py4j NoSuchElement: stage never ran
                        continue
                    if st.numCompleteTasks() == 0:
                        continue  # skipped: its shuffle output was reused
                    self.counts[f"{layer}.stages"] += 1
                    self.counts[f"{layer}.tasks"] += st.numCompleteTasks()
                    self.counts[f"{layer}.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    self.counts[f"{layer}.spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
                    for key, getter in _STAGE_FIELDS.items():
                        self.counts[f"{layer}.{key}"] += getattr(st, getter)()
        self._groups = []
        rdds = self.sc._jsc.getPersistentRDDs()
        infos = store.rddList(True)  # a Scala Seq
        cached_bytes = sum(
            infos.apply(i).memoryUsed() + infos.apply(i).diskUsed()
            for i in range(infos.size())
        )
        self.counts["cache.rdds_left"] = max(self.counts["cache.rdds_left"], rdds.size())
        self.counts["cache.bytes_left"] = max(self.counts["cache.bytes_left"], cached_bytes)

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Rebind ``module.attr`` to a traced wrapper (no-op when disabled).

        Jobs the call runs count under ``layer``.
        """
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name), self.phase(layer):
                out = orig(*args, **kwargs)
            self.counts[f"{name}.calls"] += 1
            return out

        setattr(module, attr, traced)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        self.start = time.perf_counter()
        self.recorded = tr.active
        if self.recorded:
            self.id = len(tr.spans)
            tr.spans.append(
                {
                    "id": self.id,
                    "name": self.name,
                    "op": tr._op,
                    "parent": tr._stack[-1] if tr._stack else None,
                    "start": self.start - tr._t0,
                    "end": None,
                }
            )
            tr._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        self.seconds = time.perf_counter() - self.start
        if self.recorded:
            tr._stack.pop()
            tr.spans[self.id]["end"] = tr.spans[self.id]["start"] + self.seconds
            tr.counts[f"{self.name}.s"] += self.seconds
        return False


class _Phase:
    """Run the body under the job group ``<op>.<layer>``, restoring the
    enclosing group afterwards (catalog reads nest inside build)."""

    def __init__(self, tracer: Tracer, layer: str):
        self.tracer, self.layer = tracer, layer

    def __enter__(self):
        tr = self.tracer
        self.recorded = tr.active
        if not self.recorded:
            return self
        self.prev = tr.sc.getLocalProperty("spark.jobGroup.id")
        group = f"{tr._op or 'setup'}.{self.layer}.{len(tr._groups)}"
        tr._groups.append((group, self.layer))
        tr.sc.setJobGroup(group, group)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        if self.recorded:
            if self.prev:
                tr.sc.setJobGroup(self.prev, self.prev)
            else:
                tr.sc.setLocalProperty("spark.jobGroup.id", None)
        return False
