"""Spans around the benchmark's calls into grisp_spark, Spark's own
stage metrics for the jobs each call launched, and process-level
samplers (resident memory, hypervisor steal).

Nothing here reaches into grisp_spark: spans wrap the calls the
benchmark makes, and stage metrics come from the driver's status store
(``sc._jsc.sc().statusStore()``), which Spark fills even with the UI off.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from contextlib import contextmanager

# A stage whose tasks ran at least this long while the JVM spent less
# than STALL_CPU_RATIO of it on CPU is flagged: the lockstep-stall
# signature (tasks parked on a monitor or on I/O, not computing). The
# CPU of Python workers is not in executorCpuTime, so a stage whose
# work is a Python UDF reads low as well; the flag marks stages for a
# look, it does not prove a stall.
STALL_MIN_RUN_MS = 1000
STALL_CPU_RATIO = 0.25


def _opt(o, default=None):
    """Value of a Scala Option, or ``default``."""
    return o.get() if o.isDefined() else default


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


class Span:
    __slots__ = (
        "name", "group", "parent", "t0", "t1", "w0", "w1", "jobs", "stages"
    )

    def __init__(self, name: str, group: str, parent: "Span | None"):
        self.name = name
        self.group = group
        self.parent = parent
        self.jobs: list[dict] = []
        self.stages: list[dict] = []
        self.t0 = self.t1 = 0.0  # monotonic
        self.w0 = self.w1 = 0.0  # epoch, to match Spark job timestamps

    @property
    def s(self) -> float:
        return self.t1 - self.t0

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "group": self.group,
            "parent": self.parent.group if self.parent else None,
            "start": self.w0,
            "end": self.w1,
            "s": self.s,
            "jobs": self.jobs,
            "stages": self.stages,
        }


class Tracer:
    """Spans kept in memory; ``dump`` writes them out at the end.

    Each span sets a Spark job group, and the jobs of that group (or,
    for jobs launched from threads that do not inherit the group, the
    jobs submitted inside the span's interval) are attributed to it.
    """

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0
        self._seen_jobs: set[int] = set()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._n += 1
        sp = Span(name, f"pb{self._n}:{name}", parent)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name, False)
        sp.w0, sp.t0 = time.time(), time.monotonic()
        try:
            yield sp
        finally:
            sp.t1, sp.w1 = time.monotonic(), time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def collect_stages(self, spans: list[Span]) -> None:
        """Attach the stage metrics of every job launched inside
        ``spans`` (innermost span wins) to those spans."""
        store = self.sc._jsc.sc().statusStore()
        by_group = {sp.group: sp for sp in spans}
        owner: dict[int, tuple[Span, int]] = {}
        for job in _seq(store.jobsList(self.sc._gateway.jvm.java.util.ArrayList())):
            jid = job.jobId()
            if jid in self._seen_jobs:
                continue
            sub = _opt(job.submissionTime())
            t = sub.getTime() / 1000.0 if sub is not None else None
            sp = by_group.get(_opt(job.jobGroup()))
            if sp is None and t is not None:
                inside = [s for s in spans if s.w0 <= t <= s.w1]
                # innermost: the latest start among the enclosing spans
                sp = max(inside, key=lambda s: s.w0, default=None)
            if sp is None:
                continue
            self._seen_jobs.add(jid)
            for sid in _seq(job.stageIds()):
                owner[sid] = (sp, jid)
            sp.jobs.append({"job": jid, "submitted": t})
        if not owner:
            return
        for st in stage_metrics(self.sc, set(owner)):
            sp, st["job"] = owner[st["stage"]]
            sp.stages.append(st)

    def dump(self) -> list[dict]:
        return [sp.to_dict() for sp in self.spans]


def stage_metrics(sc, stage_ids: set[int] | None = None) -> list[dict]:
    """Metrics of the stages in the status store (all, or ``stage_ids``)."""
    gw = sc._gateway
    empty = gw.jvm.java.util.ArrayList()
    quantiles = gw.new_array(gw.jvm.double, 0)
    out = []
    store = sc._jsc.sc().statusStore()
    for st in _seq(store.stageList(empty, False, False, quantiles, empty)):
        if stage_ids is not None and st.stageId() not in stage_ids:
            continue
        sub, done = _opt(st.submissionTime()), _opt(st.completionTime())
        out.append(
            {
                "stage": st.stageId(),
                "attempt": st.attemptId(),
                "name": st.name(),
                "status": st.status().toString(),
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "cpu_ms": st.executorCpuTime() / 1e6,
                "gc_ms": st.jvmGcTime(),
                "input_bytes": st.inputBytes(),
                "shuffle_read_bytes": st.shuffleReadBytes(),
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.diskBytesSpilled(),
                "start": sub.getTime() / 1000.0 if sub is not None else None,
                "end": done.getTime() / 1000.0 if done is not None else None,
            }
        )
    return out


def stage_totals(stages: list[dict]) -> dict[str, float]:
    run = sum(s["run_ms"] for s in stages)
    cpu = sum(s["cpu_ms"] for s in stages)
    return {
        "run_s": run / 1000.0,
        "cpu_s": cpu / 1000.0,
        "cpu_ratio": cpu / run if run else 0.0,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "input_mb": sum(s["input_bytes"] for s in stages) / 1e6,
        "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) / 1e6,
        "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / 1e6,
        "spill_mb": sum(s["spill_bytes"] for s in stages) / 1e6,
    }


def stalled(stages: list[dict]) -> list[dict]:
    return [
        s
        for s in stages
        if s["run_ms"] >= STALL_MIN_RUN_MS
        and s["cpu_ms"] < STALL_CPU_RATIO * s["run_ms"]
    ]


# -- process-level samplers -------------------------------------------------


def steal_ticks() -> int:
    """Hypervisor steal ticks: column 9 of the aggregate cpu line of
    /proc/stat (as bench.py samples it); ticks/100 = CPU-seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, str]]:
    """Children of every process and the command name of each, from /proc."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        pid = int(d)
        comm[pid] = head.split("(", 1)[1]
        children.setdefault(int(tail.split()[1]), []).append(pid)
    return children, comm


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants: the driver
    Python process, the JVM it launched and the JVM's Python workers.

    Only the root, java and python processes count. The JVM starts
    processes with posix_spawn, whose child shares the JVM's memory
    under the spawning thread's name (or "java") until it execs, and
    counting it would count the JVM twice."""
    children, comm = _proc_table()

    def counted(pid: int, parent: int | None) -> bool:
        name = comm.get(pid, "")
        return (
            parent is None
            or name.startswith("python")
            or (name == "java" and comm.get(parent) != "java")
        )

    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root_pid, None)]
    while todo:
        pid, parent = todo.pop()
        todo.extend((c, pid) for c in children.get(pid, ()))
        if not counted(pid, parent):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


def _start_ticks(pid: int) -> int | None:
    """Start time of a running process (None once it has ended or is a
    zombie); with the pid it names one process even if the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else int(fields[19])


def descendants(root_pid: int) -> dict[int, int]:
    """Every live descendant of ``root_pid``: pid -> start time."""
    children, _comm = _proc_table()
    out: dict[int, int] = {}
    todo = list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        start = _start_ticks(pid)
        if start is not None:
            out[pid] = start
    return out


def end_processes(procs: dict[int, int], grace_s: float = 30.0) -> None:
    """Waits until every process in ``procs`` (pid -> start time) has
    ended, reaping those that are children of this one. A process still
    running after ``grace_s`` is sent SIGKILL and waited for."""

    def alive() -> list[int]:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        return [p for p, t in procs.items() if _start_ticks(p) == t]

    for sig in (None, signal.SIGKILL):
        if sig is not None:
            for pid in alive():
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.monotonic() + grace_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
    left = alive()
    if left:
        raise RuntimeError(f"processes {left} did not end")


class RssSampler:
    """Peak summed RSS of this process tree, sampled on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
