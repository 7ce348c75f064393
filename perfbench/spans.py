"""Measurement plumbing for the benchmark: layer spans tagged with Spark
job groups, a process-tree peak-memory sampler, and process cleanup.

Spans are recorded by the benchmark around its own calls into the
program's layers; nothing here reaches inside ``graphrag_spark``. Each
span owns a unique Spark job group, so the jobs and tasks a span ran
are read back from ``SparkContext.statusTracker()`` (this works with
``spark.ui.enabled=false``). The tracker only retains the most recent
jobs and stages, so counts are read as each span closes.
"""

from __future__ import annotations

import itertools
import os
import signal
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    request: str | None
    sid: int
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    rows: int | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. With ``enabled=False`` a span is a plain
    pass-through unless ``always`` is set: setup calls outside the
    timed phase keep their job counts in untraced runs too."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)

    @contextmanager
    def span(self, name: str, request: str | None = None, always: bool = False):
        if not (self.enabled or always):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name, time.perf_counter(), parent.sid if parent else None,
            request if request is not None else (parent.request if parent else None),
            next(self._ids),
        )
        group = f"perfbench-{os.getpid()}-{sp.sid}"
        self.sc.setJobGroup(group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{os.getpid()}-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            sp.jobs, sp.tasks = self._job_counts(group)
            self.spans.append(sp)

    def _job_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(job_ids), tasks

    def inclusive(self, sp: Span) -> tuple[int, int]:
        """Jobs and tasks of a span including its descendants."""
        jobs, tasks = sp.jobs, sp.tasks
        for child in self.spans:
            if child.parent == sp.sid:
                j, t = self.inclusive(child)
                jobs, tasks = jobs + j, tasks + t
        return jobs, tasks


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak of the summed proportional set size (PSS) of this process
    and every descendant (the Spark JVM and its Python workers), sampled
    from /proc every ``interval`` seconds on a daemon thread. PSS, not
    RSS: Python workers are forked from one daemon, and RSS would count
    the pages they share with it once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = _pss_kb(me) + sum(_pss_kb(p) for p in descendants(me))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then close the py4j gateway and wait for the
    JVM it launched; the JVM's Python daemon and workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid has exited; SIGKILL what outlives ``timeout``.

    Takes the pids up front because workers orphaned by the JVM's exit
    are re-parented away and no longer show up as descendants."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes still running after SIGKILL: {left}")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + timeout
        time.sleep(0.1)
