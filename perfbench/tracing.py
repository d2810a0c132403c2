"""Spans around the package's public functions, and per-job counters read
from Spark's status store.

Ops run one at a time (a closed loop with one client), so every Spark job
submitted between an op's start and end belongs to that op, whatever thread
submitted it. Jobs from ``ThreadPoolExecutor`` threads (overlapped writes,
MultiFile's intermediate pool) carry no job group, so attribution is by job
id window, not by group: job ids are sequential, and the DAG scheduler's
``numTotalJobs`` gives the window's end. Inside an op, a job goes to the most
recently opened span that was open when the job was submitted.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

STAGE_COUNTERS = ("run_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                  "output_mb", "tasks")


def job_count(sc) -> int:
    """Jobs the session has submitted so far (the next job id)."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def persisted_rdds(sc) -> set[int]:
    """Ids of the RDDs the session holds persisted."""
    return set(sc._jsc.getPersistentRDDs().keySet())


class JobHarvester:
    """Reads finished jobs and their stages from the status store. Each
    stage is counted once, by the first job that lists it and ran it
    (a skipped stage has no attempt, or belongs to an earlier job)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.to_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.seen_stages: set[int] = set()
        self.next_job = job_count(sc)

    def harvest(self) -> tuple[list[dict], int]:
        """Jobs submitted since the last call, in id order, and how many
        were submitted (a job the store no longer holds is missing from
        the list but counted)."""
        end = job_count(self.sc)
        jobs = [self._job(j) for j in range(self.next_job, end)]
        submitted, self.next_job = end - self.next_job, end
        return [j for j in jobs if j is not None], submitted

    def _job(self, jid: int) -> dict | None:
        try:
            jd = self.store.job(jid)
        except Exception:  # noqa: BLE001 — py4j error: evicted from the store
            return None
        sub = jd.submissionTime()
        done = jd.completionTime()
        job = {"id": jid, "stages": 0,
               "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
               "end": done.get().getTime() / 1e3 if done.isDefined() else None,
               **{k: 0.0 for k in STAGE_COUNTERS}}
        for sid in self.to_java(jd.stageIds()):
            if sid in self.seen_stages:
                continue
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j error: never attempted
                continue
            if str(st.status()) in ("PENDING", "SKIPPED"):
                continue
            self.seen_stages.add(sid)
            job["stages"] += 1
            job["tasks"] += st.numTasks()
            job["run_s"] += st.executorRunTime() / 1e3
            job["cpu_s"] += st.executorCpuTime() / 1e9
            job["gc_s"] += st.jvmGcTime() / 1e3
            job["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
            job["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 1e6
            job["output_mb"] += st.outputBytes() / 1e6
        return job


class Tracer:
    """In-memory spans: (id, name, parent, op, thread, start, end).

    Create it on the thread that runs the ops. A span opened on another
    thread with no open span of its own (a pool thread) is a child of the
    op thread's innermost open span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: int | None = None
        #: RDDs persisted by the benchmark's own forced checkpoints
        self.forced_rdds: set[int] = set()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack = self._stack()

    def _stack(self) -> list[dict]:
        return self._local.__dict__.setdefault("stack", [])

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack or self._op_stack
        with self._lock:  # ids are list positions
            sp = {"id": len(self.spans), "name": name,
                  "parent": parent[-1]["id"] if parent else None,
                  "op": self.op, "thread": threading.get_ident(),
                  "start": time.time(), "end": None}
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs in a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Give each job to the latest-opened span that was open at the job's
    submission (``job['span']``; None = outside every span)."""
    for job in jobs:
        best = None
        for sp in spans:
            if sp["start"] <= job["start"] <= sp["end"]:
                if best is None or sp["start"] >= best["start"]:
                    best = sp
        job["span"] = best["id"] if best else None


def subtree(spans: list[dict], names: set[str]) -> set[int]:
    """Ids of the spans named in ``names`` and all their descendants
    (spans are listed parents first)."""
    ids: set[int] = set()
    for sp in spans:
        if sp["name"] in names or sp["parent"] in ids:
            ids.add(sp["id"])
    return ids


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
