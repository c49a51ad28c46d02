"""Traced-run collector: spans, job groups, statusTracker counts, the Spark
event log and Catalyst phase times, all gathered from outside the program.

With tracing off, :meth:`Tracer.call` only times the call. With it on,
each call runs in its own Spark job group; exact job, stage and task
counts come from ``statusTracker`` right after the call, and bytes, GC,
CPU and spill come from the session's event log once the session stops.
Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass, field

PHASES = ("analysis", "optimization", "planning")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a traced run: one plain-JSON event log file, and
    enough retained jobs and stages for ``statusTracker`` to see them all."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000"}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.sc = None

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        return s

    def close(self, span: Span) -> Span:
        span.end = time.perf_counter()
        return span

    def call(self, name: str, fn, parent: Span | None = None, **attrs):
        """Run ``fn()`` as one span; returns (result, span, error) where
        error is the exception ``fn`` raised, or None."""
        span = self.open(name, parent, **attrs)
        if self.enabled:
            # the group id alone: a job description would replace the
            # SQL execution description that marks count() jobs
            span.group = f"{self.run_id}:{span.id}"
            self.sc.setLocalProperty("spark.jobGroup.id", span.group)
        result = err = None
        try:
            result = fn()
        except Exception as e:   # the caller counts it as a failed op
            err = e
        self.close(span)
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            span.attrs.update(self._status(span.group))
        return result, span, err

    def _status(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stages += 1
                s = st.getStageInfo(sid)
                if s is not None:
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "status_tasks": tasks,
                "failed_tasks": failed}

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            if extra:
                f.write(json.dumps({"run_id": self.run_id, **extra}) + "\n")
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "id": s.id, "name": s.name,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    **s.attrs})
                    + "\n")


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations recorded on ``df``'s QueryExecution;
    forces planning if the query has not been planned yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@dataclass
class JobCost:
    group: str | None = None
    count_job: bool = False
    wall_ms: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    spill_bytes: int = 0

    @property
    def writes(self) -> bool:
        return self.output_bytes > 0 or self.output_records > 0


def read_event_log(log_dir: str) -> dict[int, JobCost]:
    """Per-job costs from the newest completed event log in ``log_dir``."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*"))
            if not p.endswith(".inprogress")]
    if not logs:
        raise FileNotFoundError(f"no completed event log in {log_dir}")
    jobs: dict[int, JobCost] = {}
    stage_job: dict[int, int] = {}
    start: dict[int, int] = {}
    counts: set[str] = set()    # SQL executions run by count()
    with open(max(logs, key=os.path.getmtime)) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                if e["description"].startswith("count at"):
                    counts.add(str(e["executionId"]))
            elif ev == "SparkListenerJobStart":
                j = e["Job ID"]
                props = e.get("Properties", {})
                jobs[j] = JobCost(
                    group=props.get("spark.jobGroup.id"),
                    count_job=props.get("spark.sql.execution.id") in counts)
                start[j] = e["Submission Time"]
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, j)
            elif ev == "SparkListenerJobEnd":
                j = e["Job ID"]
                if j in jobs:
                    jobs[j].wall_ms = e["Completion Time"] - start[j]
            elif ev == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"], -1))
                m = e.get("Task Metrics")
                if job is None or m is None:
                    continue
                job.tasks += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    job.failed_tasks += 1
                job.cpu_ns += m["Executor CPU Time"]
                job.gc_ms += m["JVM GC Time"]
                job.input_bytes += m["Input Metrics"]["Bytes Read"]
                job.shuffle_write_bytes += \
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                job.output_bytes += m["Output Metrics"]["Bytes Written"]
                job.output_records += m["Output Metrics"]["Records Written"]
                job.spill_bytes += (m["Memory Bytes Spilled"]
                                    + m["Disk Bytes Spilled"])
    return jobs

