"""Per-layer attribution, measured from outside the engine.

Nothing under ``lucene_solr_spark/`` is edited. A :class:`Tracer` wraps
calls into the engine's public functions and records, per call:

- wall time;
- CPU time of the whole process tree (driver Python, the JVM, the PySpark
  daemon and its Arrow-UDF workers), read from ``/proc``;
- Spark jobs, executed stages and completed tasks, from a job group set
  around the call and ``statusTracker``;
- executor CPU time and shuffle bytes written, folded per job group from
  the Spark event log after the session stops (:func:`fold_event_log`).

With tracing off every method is a no-op, so the untraced run measures the
engine alone.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _tree(root_pid: int) -> dict[int, int]:
    """pid → CPU ticks (user+system, plus reaped children) of ``root_pid``
    and every process descended from it."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue  # the process ended while we scanned
        pid = int(raw[: raw.index(" ")])
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[1] = ppid; fields[11..14] = utime stime cutime cstime
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    out = {}
    for pid, t in ticks.items():
        p = pid
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            out[pid] = t
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and all its descendants."""
    return sum(_tree(root_pid).values()) / _CLK_TCK


def descendants(root_pid: int) -> set[int]:
    return set(_tree(root_pid)) - {root_pid}


def wait_gone(pids: set[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` is running (processes whose parent died
    are re-parented, so they are followed by pid, not by ancestry)."""
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


class Call:
    """One traced call: inclusive wall/CPU time and the job groups of the
    call and of every traced call nested in it."""

    __slots__ = ("layer", "wall_s", "cpu_s", "groups", "jobs", "stages", "tasks")

    def __init__(self, layer: str) -> None:
        self.layer = layer
        self.wall_s = self.cpu_s = 0.0
        self.groups: list[str] = []
        self.jobs = self.stages = self.tasks = 0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext if enabled else None
        self.calls: list[Call] = []
        self._stack: list[Call] = []
        self._n = 0

    @contextlib.contextmanager
    def call(self, layer: str):
        if not self.enabled:
            yield None
            return
        self._n += 1
        gid = f"perfbench-{self._n}"
        rec = Call(layer)
        for outer in self._stack:
            outer.groups.append(gid)
        rec.groups.append(gid)
        self._stack.append(rec)
        self.sc.setJobGroup(gid, layer)
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            rec.cpu_s = tree_cpu_s(os.getpid()) - cpu0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].groups[0], self._stack[-1].layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(rec)
            self.calls.append(rec)

    def _count_jobs(self, rec: Call) -> None:
        st = self.sc.statusTracker()
        for gid in rec.groups:
            for job in st.getJobIdsForGroup(gid):
                rec.jobs += 1
                info = st.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    s = st.getStageInfo(sid)
                    if s is not None and s.numCompletedTasks > 0:
                        rec.stages += 1
                        rec.tasks += s.numCompletedTasks

    def patch(self, module, name: str, layer: str) -> None:
        """Trace every call of ``module.name`` (engine-internal callers
        included) by rebinding the module attribute for this process."""
        if not self.enabled:
            return
        fn = getattr(module, name)

        def traced(*args, **kwargs):
            with self.call(layer):
                return fn(*args, **kwargs)

        setattr(module, name, traced)

    def of(self, layer: str) -> list[Call]:
        return [c for c in self.calls if c.layer == layer]


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor CPU seconds and shuffle bytes written, summed
    over the tasks of the group's stages."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not files:
        return {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if gid:
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerTaskEnd":
                gid = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if gid is None or not m:
                    continue
                agg = out.setdefault(gid, {"executor_cpu_s": 0.0, "shuffle_write_bytes": 0.0})
                agg["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                w = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
    return out
