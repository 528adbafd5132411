"""Parse an uncompressed Spark event log with stdlib ``json``.

Spark writes the log as JSON lines (a rolling ``eventlog_v2_*``
directory, or one file); with ``spark.eventLog.compress=false`` every
record is plain text. Only four record kinds matter here:

* ``SparkListenerJobStart`` / ``SparkListenerJobEnd`` — job intervals
  and the ``spark.jobGroup.id`` each job ran under;
* ``SparkListenerStageSubmitted`` — the stage's submission time and job
  group (stages are charged to the group they were submitted under);
* ``SparkListenerTaskEnd`` — executor CPU and run time, shuffle bytes,
  spill, input records and the Python-runner time SQL metric.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

#: SQL metric the Arrow/pandas Python exec nodes report per task (ms)
PYTHON_RUN_METRIC = "time to run Python workers"


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    stages: list = field(default_factory=list)


@dataclass
class GroupStats:
    tasks: int = 0
    exec_cpu_s: float = 0.0
    exec_run_s: float = 0.0
    gc_s: float = 0.0
    sched_wait_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    python_s: float = 0.0

    def add(self, other: "GroupStats") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)        # job id -> Job
    stage_group: dict = field(default_factory=dict)  # stage id -> group
    stage_submit_ms: dict = field(default_factory=dict)
    stage_first_job: dict = field(default_factory=dict)
    #: stage id -> GroupStats of its finished tasks
    stage_stats: dict = field(default_factory=dict)

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list:
        return [j for j in self.jobs.values() if t0_ms <= j.start_ms <= t1_ms]

    def stats_for_jobs(self, jobs) -> dict:
        """``{group: GroupStats}`` over the tasks of ``jobs``' stages;
        each stage counts once, under the first job that listed it."""
        out: dict = {}
        ids = {j.job_id for j in jobs}
        for sid, st in self.stage_stats.items():
            if self.stage_first_job.get(sid) not in ids:
                continue
            g = self.stage_group.get(sid)
            out.setdefault(g, GroupStats()).add(st)
        return out


def log_files(path: str) -> list:
    """The event-log files under ``path`` (a log dir, an
    ``eventlog_v2_*`` dir or one file), in write order."""
    if os.path.isfile(path):
        return [path]
    files = []
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("events_", "local-", "app-")) and not n.endswith(".crc"):
                files.append(os.path.join(dirpath, n))

    def order(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        seq = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return (os.path.dirname(p), seq, base)

    return sorted(files, key=order)


def _group(props) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def parse(path: str) -> EventLog:
    log = EventLog()
    for fn in log_files(path):
        with open(fn) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], _group(ev.get("Properties")),
                              ev["Submission Time"], stages=list(ev.get("Stage IDs", ())))
                    log.jobs[job.job_id] = job
                    for sid in job.stages:
                        log.stage_first_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = info["Stage ID"]
                    log.stage_group[sid] = _group(ev.get("Properties"))
                    log.stage_submit_ms[sid] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    _add_task(log, ev)
    return log


def _add_task(log: EventLog, ev: dict) -> None:
    sid = ev["Stage ID"]
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    st = log.stage_stats.setdefault(sid, GroupStats())
    st.tasks += 1
    st.exec_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
    st.exec_run_s += tm.get("Executor Run Time", 0) / 1e3
    st.gc_s += tm.get("JVM GC Time", 0) / 1e3
    sub = log.stage_submit_ms.get(sid)
    launch = info.get("Launch Time")
    if sub is not None and launch is not None:
        st.sched_wait_s += max(0, launch - sub) / 1e3
    rd = tm.get("Shuffle Read Metrics") or {}
    wr = tm.get("Shuffle Write Metrics") or {}
    st.shuffle_bytes += (
        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        + wr.get("Shuffle Bytes Written", 0)
    )
    st.spill_bytes += tm.get("Disk Bytes Spilled", 0)
    st.records_read += (tm.get("Input Metrics") or {}).get("Records Read", 0)
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == PYTHON_RUN_METRIC:
            try:
                st.python_s += float(acc.get("Update", 0)) / 1e3
            except (TypeError, ValueError):
                pass
