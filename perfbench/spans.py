"""Spans around calls into the engine's layers, with Spark counters.

A span is (id, name, parent, start, end). While a span is open, every
Spark job the driver submits carries the span id as its job group, so
after the run each job — and the SQL execution it belongs to — is
attributed to the innermost open span. Counters are read once, after the
run, from Spark's in-process status stores (the UI server stays off):

* ``sc._jsc.sc().statusStore()``: jobs, stages, tasks, executor run
  time, shuffle write, spill;
* ``sparkSession.sharedState().statusStore()``: SQL plan metrics, for
  the Python worker start/init/run times of pandas UDF nodes.

Spans live in memory and are written out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"

_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = ("time to run Python workers",)
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_DURATION = re.compile(r"([\d.,]+)\s*(ns|ms|s|m|h)\b")

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_init_s",
    "python_run_s",
)


def status_settings() -> dict[str, str]:
    """Session settings that keep every job, stage and SQL execution of a
    run in the status store (the defaults drop the oldest after 1000)."""
    keep = str(1_000_000)
    return {
        "spark.ui.retainedJobs": keep,
        "spark.ui.retainedStages": keep,
        "spark.ui.retainedTasks": keep,
        "spark.sql.ui.retainedExecutions": keep,
    }


def _duration_s(text: str) -> float:
    """Total of a formatted SQL timing metric ('1.2 s' or
    'total (min, med, max ...)\\n1.2 s (...)')."""
    m = _DURATION.search(text.splitlines()[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _wait_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next job id, next SQL execution id) — the run's lower bounds."""
        self._wait_listeners()
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        return jobs.size(), sql.executionsCount()

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{rec['id']}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = f"{GROUP_PREFIX}{self._stack[-1]}" if self._stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", parent)

    def attribute(self, since: tuple[int, int]) -> dict:
        """Fill each span's self counters from the jobs and SQL executions
        started at or after ``since``; return the run totals."""
        self._wait_listeners()
        for rec in self.spans:
            rec.update({c: 0 for c in COUNTERS})
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_span: dict[int, int] = {}
        seen_stages: set[int] = set()
        total = {"jobs": 0, "tasks": 0, "unattributed_jobs": 0, "executor_run_s": 0.0}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid < since[0]:
                continue
            total["jobs"] += 1
            total["tasks"] += job.numCompletedTasks()
            group = job.jobGroup()
            gid = group.get() if group.isDefined() else ""
            if not gid.startswith(GROUP_PREFIX):
                total["unattributed_jobs"] += 1
                continue
            rec = self.spans[int(gid[len(GROUP_PREFIX) :])]
            job_span[jid] = rec["id"]
            rec["jobs"] += 1
            rec["tasks"] += job.numCompletedTasks()
            rec["stages"] += job.numCompletedStages()
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stages may have no record
                    continue
                if str(st.status()) in ("SKIPPED", "PENDING"):
                    continue
                seen_stages.add(sid)
                run_s = st.executorRunTime() / 1000.0
                rec["executor_run_s"] += run_s
                total["executor_run_s"] += run_s
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.diskBytesSpilled()
        self._python_metrics(since[1], job_span)
        return total

    def _python_metrics(self, since_exec: int, job_span: dict[int, int]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        # a cached plan's nodes keep their accumulators, and every later
        # execution that scans the cache lists them again: count each once
        counted: set[int] = set()
        for i in range(execs.size()):
            ex = execs.apply(i)
            if ex.executionId() < since_exec:
                continue
            job_ids = ex.jobs().keys().toList()
            spans = {job_span.get(job_ids.apply(k)) for k in range(job_ids.size())}
            spans.discard(None)
            if len(spans) != 1:
                continue
            rec = self.spans[spans.pop()]
            plan = ex.metrics()
            wanted = {}
            for k in range(plan.size()):
                m = plan.apply(k)
                if m.accumulatorId() in counted:
                    continue
                counted.add(m.accumulatorId())
                if m.name() in _PY_INIT:
                    wanted[m.accumulatorId()] = "python_init_s"
                elif m.name() in _PY_RUN:
                    wanted[m.accumulatorId()] = "python_run_s"
            if not wanted:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc, key in wanted.items():
                v = values.get(acc)
                if v.isDefined():
                    rec[key] += _duration_s(v.get())

    def self_time(self, rec: dict) -> float:
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def dump(self, path: str, extra: dict) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": spans}, fh, indent=1)
