"""Outside-in accounting: spans around benchmark calls, Spark work read
from the status store, and peak memory.

Calls are issued one at a time from one thread, so every Spark job a call
launches (thread-pool jobs included, which a job group misses) has an id
between the DAG scheduler's next job id at span start and at span end.
Jobs are credited to the innermost span whose id range holds them; the
status store (``statusStore()``, which works with the UI disabled) is read
once at the end, after the listener bus has drained.
"""

from __future__ import annotations

import resource
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = ("tasks", "run_s", "cpu_s", "input_bytes", "input_records",
                "shuffle_write_bytes")


def tail_stat(samples: list) -> dict:
    """Median, the highest percentile with at least ten samples beyond it
    (None below twenty samples, where it would not lie above the median),
    and the sample count."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None,
           "tail_q": None, "tail": None}
    if n >= 20:
        q = 1 - 10 / n
        out["tail_q"] = round(q * 100, 1)
        out["tail"] = xs[max(0, min(n - 1, int(q * n) - 1))]
    return out


def peak_rss_mb(spark) -> float:
    """JVM VmHWM plus this process's max RSS, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id) with the job-id
    range each one covers.  Disabled tracers cost one branch per span."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext._jsc.sc() if spark is not None else None
        self._jvm = spark.sparkContext._jvm if spark is not None else None
        self._gateway = spark.sparkContext._gateway if spark is not None else None
        self.bookkeeping_s = 0.0

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        s = {"id": len(self.spans), "name": name, "run": self.run_id,
             "parent": self._stack[-1]["id"] if self._stack else None,
             "j0": self._next_job(), **attrs}
        self.spans.append(s)
        self._stack.append(s)
        s["t0"] = time.perf_counter()
        self.bookkeeping_s += s["t0"] - b0
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            s["j1"] = self._next_job()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - s["t1"]

    # ------------------------------------------------------------ collect

    def collect(self) -> dict:
        """Attach Spark work to spans: per span ``jobs`` and the stage
        sums in :data:`STAGE_FIELDS`; returns the unattributed job ids."""
        self._sc.listenerBus().waitUntilEmpty(60_000)
        store = self._sc.statusStore()
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        empty = self._jvm.java.util.ArrayList
        jobs = {}
        for j in conv.asJava(store.jobsList(empty())):
            jobs[int(j.jobId())] = [int(s) for s in conv.asJava(j.stageIds())]
        stage_job = {}
        for jid in sorted(jobs):
            for sid in jobs[jid]:
                stage_job.setdefault(sid, jid)
        per_job = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
        quantiles = self._gateway.new_array(self._jvm.double, 0)
        for st in conv.asJava(store.stageList(empty(), False, False, quantiles, empty())):
            if st.status().toString() == "SKIPPED":
                continue
            jid = stage_job.get(int(st.stageId()))
            if jid is None:
                continue
            m = per_job[jid]
            m["tasks"] += st.numCompleteTasks()
            m["run_s"] += st.executorRunTime() / 1e3
            m["cpu_s"] += st.executorCpuTime() / 1e9
            m["input_bytes"] += st.inputBytes()
            m["input_records"] += st.inputRecords()
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
        for s in self.spans:
            s["jobs"] = 0
            s.update(dict.fromkeys(STAGE_FIELDS, 0.0))
        unattributed = []
        for jid in sorted(jobs):
            owner = self.owner(jid)
            if owner is None:
                unattributed.append(jid)
                continue
            owner["jobs"] += 1
            for k, v in per_job[jid].items():
                owner[k] += v
        return {"unattributed": unattributed, "jobs_total": len(jobs)}

    def owner(self, job_id: int):
        """Innermost span whose job-id range holds ``job_id``.  Ranges of
        siblings are disjoint and a child's lies inside its parent's, and a
        child is opened after its parent, so the innermost holder is the
        one with the largest (start job, span id)."""
        holders = [s for s in self.spans if s["j0"] <= job_id < s["j1"]]
        return max(holders, key=lambda s: (s["j0"], s["id"]), default=None)

    def subtree(self, s) -> list:
        """``s`` and every span below it."""
        out, frontier = [s], [s["id"]]
        while frontier:
            pid = frontier.pop()
            for c in self.spans:
                if c["parent"] == pid:
                    out.append(c)
                    frontier.append(c["id"])
        return out

    def self_time(self, s) -> float:
        """Duration minus the time its direct children cover."""
        kids = sum(c["t1"] - c["t0"] for c in self.spans if c["parent"] == s["id"])
        return (s["t1"] - s["t0"]) - kids

    def self_times(self) -> dict:
        """Span name -> summed self time."""
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += self.self_time(s)
        return dict(out)

    def totals(self, name: str) -> dict:
        """Sum over spans named ``name``: count, inclusive busy seconds,
        jobs and stage fields, each including descendants'."""
        out = {"count": 0, "busy_s": 0.0, "jobs": 0, **dict.fromkeys(STAGE_FIELDS, 0.0)}
        for s in self.spans:
            if s["name"] != name:
                continue
            out["count"] += 1
            out["busy_s"] += s["t1"] - s["t0"]
            for d in self.subtree(s):
                out["jobs"] += d.get("jobs", 0)
                for k in STAGE_FIELDS:
                    out[k] += d.get(k, 0.0)
        return out
