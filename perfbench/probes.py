"""Outside-in instruments: spans around public calls, a /proc sampler for
the benchmark's process tree, and Spark job/stage/task counts."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans ``[name, start, end, parent, request]``.  The layer of
    a span is its name up to the last dot (``operators.merge.merge_indexes``
    -> ``operators.merge``).  Disabled, ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.request: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        i = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self.request])
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i][2] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span observed after the fact (e.g. a pipeline stage);
        returns its index."""
        self.spans.append([name, start, end, parent, self.request])
        return len(self.spans) - 1

    def last(self, name: str) -> int:
        return max(i for i, s in enumerate(self.spans) if s[0] == name)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by child spans (children may run
        concurrently, so coverage is the union of their intervals)."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, s, e, parent, _ in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _, _) in enumerate(self.spans):
            out[name.rsplit(".", 1)[0]] += (e - s) - union_length(children[i])
        return dict(out)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _proc_stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, for every process."""
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
    return stat


def descendants(root: int, stat: dict[int, list[str]] | None = None) -> set[int]:
    stat = _proc_stats() if stat is None else stat
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, f in stat.items():
            if int(f[1]) in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {root}


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes that map it, so the Python workers forked
    from one daemon do not count the daemon's pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited
    return 0


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants: the Spark driver
    JVM and its Python workers all run below the benchmark process."""
    stat = _proc_stats()
    return sum(
        (int(stat[p][11]) + int(stat[p][12])) / _TICK  # utime + stime
        for p in descendants(root, stat) | {root} if p in stat
    )


def tree_pss(root: int) -> int:
    return sum(_pss(p) for p in descendants(root) | {root})


def reap(pids: set[int], timeout: float = 20.0) -> None:
    """Wait until every pid has exited; SIGKILL what outlives ``timeout``."""
    import signal

    def running(pid: int) -> bool:  # a zombie has ended; its parent reaps it
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if running(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


class ProcSampler:
    """Samples the process tree's memory every ``interval`` seconds on a
    daemon thread; ``peak_pss`` is the largest summed PSS seen since
    ``start``, ``busy_s`` the time spent sampling."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_pss = 0
        self.busy_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            t0 = time.perf_counter()
            self.peak_pss = max(self.peak_pss, tree_pss(os.getpid()))
            self.busy_s += time.perf_counter() - t0
            self._stop.wait(self.interval)

    def start(self) -> None:
        self.peak_pss = 0
        self.busy_s = 0.0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


class SparkCounter:
    """Jobs, stages and tasks run by one call.  The call runs under its own
    job group; jobs that engine-side worker threads submit carry no group,
    so every job with an id above the last one seen is counted (one client
    thread drives Spark, so nothing else submits jobs meanwhile)."""

    def __init__(self, sc):
        self.sc = sc
        self.last_job = -1
        self.n = 0

    def _settle(self) -> None:
        try:  # job status reaches the tracker through the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.2)

    @contextmanager
    def count(self, out: dict):
        self.n += 1
        group = f"perfbench-{self.n}"
        self._settle()
        st = self.sc.statusTracker()
        self.last_job = max([self.last_job, *st.getJobIdsForGroup(None)])
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._settle()
            st = self.sc.statusTracker()
            ids = set(st.getJobIdsForGroup(group)) | set(st.getJobIdsForGroup(None))
            new = sorted(j for j in ids if j > self.last_job)
            stages = tasks = 0
            for j in new:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
            if new:
                self.last_job = new[-1]
            out.update(jobs=len(new), stages=stages, tasks=tasks)
