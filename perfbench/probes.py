"""Measurement helpers that look at the program from outside.

- ``RssSampler``: peak summed RSS of every descendant process (the driver
  JVM and the Python workers it forks), sampled through ``/proc``.
- ``StageMeter``: Spark stage metrics for the jobs one labelled call runs,
  read from the driver's status store by job group (works with the UI
  disabled).
"""

from __future__ import annotations

import contextlib
import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        # the command name sits in parentheses and may hold spaces
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return b""  # the process ended


def _walk(kids: dict[int, list[int]], root: int):
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        yield pid


def descendant_pids(root: int) -> list[int]:
    return list(_walk(_children_map(), root))


def descendants_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s descendants. A process that one of
    ``root``'s children (the JVM) spawns runs that child's program until it
    calls exec, and ``/proc`` reports the child's whole memory for it in the
    meantime; such copies are skipped so a spawn does not count the JVM
    twice."""
    kids = _children_map()
    direct = kids.get(root, [])
    images = {_read(f"/proc/{pid}/cmdline") for pid in direct}
    total = 0
    for pid in _walk(kids, root):
        if pid not in direct and _read(f"/proc/{pid}/cmdline") in images:
            continue
        statm = _read(f"/proc/{pid}/statm").split()
        if statm:
            total += int(statm[1]) * _PAGE
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants,
    each including its waited-for children."""
    total = 0
    for pid in [root, *_walk(_children_map(), root)]:
        stat = _read(f"/proc/{pid}/stat")
        if stat:
            # utime, stime, cutime, cstime follow the command name
            total += sum(int(x) for x in stat[stat.rindex(b")") + 2 :].split()[11:15])
    return total / _TICK


class RssSampler:
    """Samples the summed RSS of this process's descendants every
    ``interval`` seconds while active; ``peak_bytes`` is the maximum seen."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, descendants_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


STAGE_FIELDS = {
    "executor_run_s": lambda s: s.executorRunTime() / 1000.0,
    "tasks": lambda s: s.numTasks(),
    "failed_tasks": lambda s: s.numFailedTasks(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.diskBytesSpilled(),
}


class StageMeter:
    """``with meter.measure(label) as m:`` runs the body under its own job
    group; on exit ``m`` holds the summed stage metrics of every stage its
    jobs ran (skipped stages contribute nothing)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextlib.contextmanager
    def measure(self, label: str):
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        self.sc.setJobGroup(group, label)
        try:
            yield totals
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        totals.update(self._stage_totals(group))

    def _stage_totals(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        # stage metrics arrive through the listener bus after the action
        # returns; drain it so the status store has the final numbers
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        totals = dict.fromkeys(STAGE_FIELDS, 0)
        for sid in stage_ids:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never attempted: skipped because its output was reused
            for key, get in STAGE_FIELDS.items():
                totals[key] += get(stage)
        return totals
