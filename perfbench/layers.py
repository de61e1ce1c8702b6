"""Probes the benchmark reads from outside the engine: Spark job counts per
job group, process-tree memory, files written, and the box's own state.

Nothing here changes how the engine runs; every probe reads public Spark
status APIs or ``/proc``.
"""

from __future__ import annotations

import os
import threading
import time

import duckdb

# A fixed DuckDB workload on generated ranges. Its wall time tells a slow
# box apart from a slow engine: it does not depend on the engine or the seed.
_CONTROL_QUERIES = [
    "SELECT sum(hash(i) % 1000) FROM range(4000000) t(i)",
    "SELECT count(*) FROM (SELECT i % 50000 AS k, count(*) FROM range(3000000) t(i) GROUP BY k)",
    "SELECT sum(a.i) FROM range(400000) a(i) JOIN range(400000) b(i) ON a.i = b.i",
    "SELECT max(s) FROM (SELECT i, sum(i) OVER (ORDER BY i ROWS 50 PRECEDING) AS s FROM range(500000) t(i))",
]


def control_query_s(threads: int) -> float:
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        t0 = time.perf_counter()
        for sql in _CONTROL_QUERIES:
            con.execute(sql).fetchall()
        return time.perf_counter() - t0
    finally:
        con.close()


def cpu_steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def descendants(root_pid: int) -> list[int]:
    """All live descendants of ``root_pid``, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def is_running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples the resident memory of this process plus all descendants (the
    Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak_bytes = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def file_state(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every regular file under ``roots``."""
    state = {}
    for root in roots:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if d != ".git"]
            for name in filenames:
                path = os.path.join(dirpath, name)
                try:
                    st = os.stat(path, follow_symlinks=False)
                except OSError:
                    continue
                state[path] = (st.st_size, st.st_mtime_ns)
    return state


def written_since(before: dict[str, tuple[int, int]], after: dict[str, tuple[int, int]]) -> tuple[int, int]:
    """(bytes, files) of files that are new or changed between two states."""
    changed = [v[0] for p, v in after.items() if before.get(p) != v]
    return sum(changed), len(changed)


class JobCounter:
    """Counts the Spark jobs, stages and tasks launched under a job group.

    Reads ``statusTracker()``, which works with the Spark UI off. The status
    store is fed by an asynchronous listener bus, so each read first waits
    for the bus to drain."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()

    def start(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    def count(self, *groups: str) -> dict[str, int]:
        """Totals over ``groups``. A stage that a later job reuses is listed
        by both jobs, so stages are counted once by id."""
        self._bus.waitUntilEmpty()
        jobs, stage_ids = 0, set()
        for group in groups:
            for job_id in self._tracker.getJobIdsForGroup(group):
                info = self._tracker.getJobInfo(job_id)
                if info is not None:
                    jobs += 1
                    stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for stage_id in stage_ids:
            stage = self._tracker.getStageInfo(stage_id)
            if stage is None:
                continue
            if stage.numCompletedTasks or stage.numFailedTasks:
                stages += 1  # a skipped stage ran no task
            tasks += stage.numCompletedTasks
            failed += stage.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}
