"""In-memory spans plus Spark event-log attribution.

The benchmark opens a span around each call it makes into the engine
(set-up, pass, query, build, execute, check). Spans are kept in memory
and written out once, when the run ends.

In a traced run Spark's own event-log writer is attached to the live
session (``EventLog``), and writes uncompressed JSON lines.
``Tracer.attach_jobs`` reads them back and hangs every job under the
innermost span that was open when the job was submitted, together with
the task metrics of the stages the job ran. Attribution is by
submission time only, so it stays correct whatever job groups or
threads the engine uses to submit work.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: int | None
    start_ms: float
    end_ms: float = 0.0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Collects a span tree: run > setup | pass | check > query >
    build | execute. Span ids are list indices."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Open a child of the innermost open span; yields the Span,
        whose ``seconds`` is valid once the block exits."""
        parent = self._open[-1] if self._open else None
        span = Span(name, parent, time.time() * 1000.0, attrs=attrs)
        self.spans.append(span)
        self._open.append(len(self.spans) - 1)
        try:
            yield span
        finally:
            span.end_ms = time.time() * 1000.0
            self._open.pop()

    def attach_jobs(self, jobs: list[dict]) -> int:
        """Attach each job to the latest-started closed span whose
        interval holds the job's submission time; returns how many jobs
        fell outside every span."""
        order = sorted(range(len(self.spans)), key=lambda i: self.spans[i].start_ms)
        orphans = 0
        for job in jobs:
            t = job["submit_ms"]
            owner = None
            for i in order:
                s = self.spans[i]
                # event-log times are whole milliseconds
                if int(s.start_ms) > t:
                    break
                if s.end_ms and t <= s.end_ms:
                    owner = i
            if owner is None:
                orphans += 1
            else:
                self.spans[owner].jobs.append(job)
        return orphans

    def dump(self, path: str, record: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "record": record,
                    "spans": [
                        {
                            "id": i, "name": s.name, "parent": s.parent,
                            "start_ms": s.start_ms, "end_ms": s.end_ms,
                            "attrs": s.attrs, "jobs": s.jobs,
                        }
                        for i, s in enumerate(self.spans)
                    ],
                },
                f,
            )


class EventLog:
    """Spark's ``EventLoggingListener`` for one session, attached to the
    listener bus only while tracing, so traced and untraced passes can
    alternate in one session. Writes one file per session."""

    def __init__(self, spark, log_dir: str) -> None:
        sc = spark.sparkContext
        ssc = sc._jsc.sc()
        jvm = sc._jvm
        conf = (ssc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        self._bus = ssc.listenerBus()
        self._writer = jvm.org.apache.spark.scheduler.EventLoggingListener(
            ssc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + log_dir), conf, sc._jsc.hadoopConfiguration(),
        )
        self._writer.start()
        self.on = False

    def attach(self) -> None:
        if not self.on:
            self._bus.addToEventLogQueue(self._writer)
            self.on = True

    def detach(self) -> None:
        """Deliver every queued event, then stop listening."""
        if self.on:
            self._bus.waitUntilEmpty()
            self._bus.removeListener(self._writer)
            self.on = False

    def close(self) -> None:
        self.detach()
        self._writer.stop()


TASK_FIELDS = (
    "tasks", "task_ms", "run_ms", "cpu_ns", "deser_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
    "spill_bytes", "input_bytes", "input_rows",
)


def _task_totals(metrics: dict, info: dict) -> dict:
    sr = metrics.get("Shuffle Read Metrics", {})
    sw = metrics.get("Shuffle Write Metrics", {})
    inp = metrics.get("Input Metrics", {})
    return {
        "tasks": 1,
        "task_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
        "run_ms": metrics.get("Executor Run Time", 0),
        "cpu_ns": metrics.get("Executor CPU Time", 0),
        "deser_ms": metrics.get("Executor Deserialize Time", 0),
        "gc_ms": metrics.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_records": sw.get("Shuffle Records Written", 0),
        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
        + metrics.get("Disk Bytes Spilled", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_rows": inp.get("Records Read", 0),
    }


def read_event_logs(log_dir: str) -> list[dict]:
    """One dict per Spark job in every event log under ``log_dir``:
    submission and completion time (epoch ms), the number of stages it
    ran, and the task totals of those stages."""
    jobs: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_job: dict[int, dict] = {}
        app_jobs: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = {"submit_ms": ev["Submission Time"], "end_ms": None,
                           "stages": 0, **{k: 0 for k in TASK_FIELDS}}
                    app_jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        # a stage listed by a later job was skipped there
                        stage_job.setdefault(sid, job)
                elif kind == "SparkListenerJobEnd":
                    job = app_jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    job = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if job is not None:
                        job["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is not None and "Task Metrics" in ev:
                        t = _task_totals(ev["Task Metrics"], ev.get("Task Info", {}))
                        for k, v in t.items():
                            job[k] += v
        jobs.extend(app_jobs.values())
    return jobs


def covered_ms(jobs: list[dict], start_ms: float, end_ms: float) -> float:
    """Milliseconds of [start_ms, end_ms] covered by at least one job."""
    ivs = sorted(
        (max(j["submit_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms))
        for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
