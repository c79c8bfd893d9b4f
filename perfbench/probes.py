"""Readings taken from outside the program: host load, the CPU and memory
of this process tree (the Python driver, the JVM and its Python
workers), Spark's job/stage/task counts and the files under a directory.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_state() -> dict:
    """1-minute loadavg and the host's cumulative steal ticks."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return {"loadavg_1m": os.getloadavg()[0], "steal_ticks": int(cpu[8])}


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    pids, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        pids.extend(frontier)
    return pids


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(CPU seconds, resident MB) summed over `root` and its descendants.
    CPU includes reaped children, so it only grows while the tree lives."""
    cpu_ticks, rss_pages = 0, 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu_ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        rss_pages += int(f[21])
    return cpu_ticks / _TICK, rss_pages * _PAGE / 2**20


def dir_usage(path: str) -> tuple[int, int]:
    """(file count, total bytes) under `path`."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return files, size


class JobCounter:
    """Jobs, stages and tasks run during one op, read through Spark's
    public status tracker. Spark numbers jobs 0, 1, 2, ... as they are
    submitted and the benchmark runs one op at a time, so an op's jobs
    are the ids that appear between its start() and finish(): those run
    under the op's job group, those of threads that do not inherit it,
    and the micro-batches of the streaming queries it runs, which Spark
    runs under each query's own group. Jobs run outside a counted op,
    such as the warm-up's, are skipped at the next start()."""

    SETTLE_S = 0.02  # lets the status listener take in the last task ends

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.next_id = self._scan(max(self.tracker.getJobIdsForGroup(None), default=-1) + 1)

    def _scan(self, job_id: int) -> int:
        """The first id from `job_id` on that no job has yet."""
        while self.tracker.getJobInfo(job_id) is not None:
            job_id += 1
        return job_id

    def start(self, op: str) -> None:
        self.next_id = self._scan(self.next_id)
        self.sc.setJobGroup(op, op)

    def finish(self, op: str) -> tuple[int, int, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        time.sleep(self.SETTLE_S)
        first, self.next_id = self.next_id, self._scan(self.next_id)
        stages: dict[int, int] = {}  # stage id -> tasks run (0: skipped)
        for j in range(first, self.next_id):
            for s in self.tracker.getJobInfo(j).stageIds:
                st = self.tracker.getStageInfo(s)
                stages[s] = st.numCompletedTasks if st is not None else 0
        ran = [n for n in stages.values() if n > 0]
        return self.next_id - first, len(ran), sum(ran)
