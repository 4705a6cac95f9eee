"""Measurement helpers: process-tree memory and Spark job attribution.

``RssSampler`` polls ``/proc`` for the resident memory of this process and
every descendant (the driver JVM and the Python workers it forks).

``JobLog`` reads finished jobs and stages from the driver's in-memory
status store (the data behind Spark's status REST API, present even with
the UI off). Jobs are attributed to the benchmark's call spans by
*submission time*: ``ingest`` submits some jobs from its own thread pool,
and those threads carry no job group or call site the benchmark could
key on.
"""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ memory
def _tree_rss(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited between listdir and open
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total * PAGE


class RssSampler:
    """Peak summed RSS of the process tree rooted at this process."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    """Aggregate jiffies from ``/proc/stat``: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between —
    context for reading a noisy run, not a metric."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


# -------------------------------------------------------------------- jobs
def _opt_s(opt):
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class JobLog:
    """Finished Spark jobs, with their stages' task metrics summed."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def jobs(self, first: int, last: int) -> list[dict]:
        """Jobs with ids in [first, last), once every listener event of
        theirs has reached the status store."""
        self._sc.listenerBus().waitUntilEmpty()
        out, owner = [], {}
        for jid in range(first, last):
            jd = self._store.job(jid)
            sids = jd.stageIds()
            job = {
                "id": jid,
                "name": jd.name(),
                "submitted": _opt_s(jd.submissionTime()),
                "completed": _opt_s(jd.completionTime()),
                "stages": [sids.apply(i) for i in range(sids.size())],
            }
            for sid in job["stages"]:
                owner.setdefault(sid, job)  # a stage runs in the first job that lists it
            for k in ("task_cpu_s", "run_s", "gc_s", "shuffle_bytes", "spill_bytes"):
                job[k] = 0
            out.append(job)
        for sid, job in owner.items():
            sd = self._store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused, no tasks ran
            job["task_cpu_s"] += sd.executorCpuTime() / 1e9
            job["run_s"] += sd.executorRunTime() / 1e3
            job["gc_s"] += sd.jvmGcTime() / 1e3
            job["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            job["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def attribute(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per-call totals for one pass: each job belongs to the call span in
    which it was submitted. Returns {call name: metrics}."""
    out: dict[str, dict] = {}
    for sp in spans:
        mine = [j for j in jobs if j["submitted"] is not None and sp["start"] <= j["submitted"] < sp["end"]]
        wall = sp["end"] - sp["start"]
        busy = _covered([(j["submitted"], min(j["completed"] or sp["end"], sp["end"])) for j in mine])
        m = out.setdefault(sp["name"], dict.fromkeys(
            ("wall_s", "call_s", "driver_gap_s", "task_cpu_s", "offcpu_s", "gc_s",
             "shuffle_bytes", "spill_bytes", "jobs"), 0))
        m["wall_s"] += wall
        m["call_s"] += sp["returned"] - sp["start"]
        m["driver_gap_s"] += wall - busy
        m["jobs"] += len(mine)
        for j in mine:
            m["task_cpu_s"] += j["task_cpu_s"]
            m["offcpu_s"] += j["run_s"] - j["task_cpu_s"]
            m["gc_s"] += j["gc_s"]
            m["shuffle_bytes"] += j["shuffle_bytes"]
            m["spill_bytes"] += j["spill_bytes"]
    return out


def materializations(jobs: list[dict]) -> tuple[int, float]:
    """Eager materializations in a pass: jobs whose Python call site is
    ``plans/checkpoint.py`` or a raw ``localCheckpoint`` in an operator.
    Time is the wall time of those final jobs; the shuffle-map jobs AQE
    runs ahead of them carry no call site and are not included."""
    hits = [
        j for j in jobs
        if "/plans/checkpoint.py:" in j["name"] or j["name"].startswith("localCheckpoint at ")
    ]
    secs = sum((j["completed"] or j["submitted"]) - j["submitted"] for j in hits)
    return len(hits), secs

