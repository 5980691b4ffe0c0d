"""Spans around calls into each layer, Spark job counts, and process RSS.

The benchmark records spans from its own code only, around each call it
makes into a layer of the engine; nothing inside the package is traced.
Spans are kept in memory and written out as JSON when the run ends.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields.

    A span opened with ``spark_calls=True`` puts every Spark job started
    inside it (from this thread or threads it starts) into its own job
    group, and afterwards reads job, stage and task counts for that
    group from ``SparkContext.statusTracker()``."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # set once the session is up
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        """Id of the innermost span open in the calling thread."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, spark_calls: bool = False,
             parent: int | None = None):
        """A span under ``parent``, or else under the innermost span open
        in this thread (callbacks from Spark run on other threads)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None:
            parent = self.current()
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id,
                 next(self._ids))
        group = f"{self.run_id}:{s.id}"
        if spark_calls:
            self.sc.setJobGroup(group, name)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if spark_calls:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(s, group)
            self.spans.append(s)

    def _count_jobs(self, s: Span, group: str) -> None:
        # the status store learns of jobs from the asynchronous listener
        # bus; drain it first, or the last jobs of the span may be missed
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(group):
            s.jobs += 1
            info = st.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                s.stages += 1
                stage = st.getStageInfo(stage_id)
                s.tasks += stage.numTasks if stage else 0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its child spans cover (children of one span run one
        after another, so their durations add)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            own = s.end - s.start - child.get(s.id, 0.0)
            out[s.name] = out.get(s.name, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def _is_python(pid: int) -> bool:
    """A Python worker, not a shell command the JVM forks: a child caught
    between fork and exec still reports the JVM's resident set."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return os.path.basename(argv0).startswith(b"python")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Polls the peak resident set (VmHWM) of the JVM and of every Python
    worker below it.  Workers can exit before the run ends, so their
    peaks are sampled while they live."""

    def __init__(self, jvm_pid: int, period_s: float = 0.5):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.jvm_kb = 0
        self.worker_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.jvm_kb = max(self.jvm_kb, _status_kb(self.jvm_pid, "VmHWM"))
        for pid in _descendants(self.jvm_pid):
            if _is_python(pid):
                self.worker_kb = max(self.worker_kb, _status_kb(pid, "VmHWM"))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
