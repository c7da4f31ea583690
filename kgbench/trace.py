"""Layer spans recorded from outside the program, plus the Spark event
log that the traced session writes.

A span wraps one call into a layer's public function and forces its
output (see the replicas in ``kg.py`` and ``qc.py``), so layers run one
after another and each span's wall, process-tree CPU and Python-worker
CPU belong to that layer alone. Spark jobs, task GC time, shuffle bytes
and output records are read from the event log after the session stops
and attributed to the span whose time window holds the job's submission
time. The window, not the job group, decides: the program submits some
jobs from its own helper threads, which do not inherit the group that
``setJobGroup`` sets on the calling thread (the group still labels the
caller's jobs in the log).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

from .host import tree_sample


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    cpu_s: float
    py_cpu_s: float


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        s0, t0 = tree_sample(), time.time()
        try:
            yield
        finally:
            t1, s1 = time.time(), tree_sample()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, t0, t1, s1["cpu_s"] - s0["cpu_s"],
                                   s1["py_cpu_s"] - s0["py_cpu_s"]))


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class JobStats:
    submit_s: float
    gc_ms: int = 0
    shuffle_bytes: int = 0
    records_out: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task totals from the (closed) event log of one session.
    A stage's tasks count toward the first job that lists the stage."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                jobs[job] = JobStats(submit_s=ev["Submission Time"] / 1000.0)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                job = stage_job.get(ev["Stage ID"])
                if not m or job is None:
                    continue
                js = jobs[job]
                js.gc_ms += m.get("JVM GC Time", 0)
                js.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                js.records_out += m.get("Output Metrics", {}).get("Records Written", 0)
    return list(jobs.values())


def jobs_between(jobs: list[JobStats], t0: float, t1: float) -> list[JobStats]:
    return [j for j in jobs if t0 <= j.submit_s <= t1]


def layer_metrics(spans: list[Span], jobs: list[JobStats], cores: int,
                  py_layers: set[str]) -> dict[str, float]:
    """The per-layer metric values of one traced pass, by metric name."""
    out: dict[str, float] = {}
    for sp in spans:
        mine = jobs_between(jobs, sp.t0, sp.t1)
        wall = sp.t1 - sp.t0
        p = sp.name
        out[f"{p}.wall_s"] = wall
        out[f"{p}.cpu_s"] = sp.cpu_s
        out[f"{p}.idle_core_s"] = cores * wall - sp.cpu_s
        out[f"{p}.jobs"] = len(mine)
        out[f"{p}.rows_out"] = sum(j.records_out for j in mine)
        out[f"{p}.gc_s"] = sum(j.gc_ms for j in mine) / 1000.0
        out[f"{p}.shuffle_mb"] = sum(j.shuffle_bytes for j in mine) / 1e6
        if p in py_layers:
            out[f"{p}.py_cpu_s"] = sp.py_cpu_s
    return out
