"""Reader for Spark's JSON event log (stdlib only).

Spark 4.1 writes a rolling log: ``eventlog_v2_<app>/events_<n>_<app>``
files, read in index order; a plain single-file log is read as is. The
log must be written uncompressed (``spark.eventLog.compress=false``).

Inside ``foreachBatch`` a job's call site is py4j's ``clientserver.py``,
so jobs are attributed by their ``spark.job.description`` property (set
by the tracer's spans) and tagged with the ``streaming.sql.batchId``
property where the stream set it. A job submitted from a thread that
did not inherit the property carries only its submission time.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.input.bytesRead": "input_bytes",
}


@dataclass
class Stage:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0


@dataclass
class Job:
    job_id: int
    description: str | None
    batch_id: int | None
    stage_ids: list = field(default_factory=list)
    submitted_ms: int | None = None
    succeeded: bool | None = None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    stages: dict = field(default_factory=dict)  # stage id -> completed Stage

    def job_stages(self, job: Job) -> list[Stage]:
        """The job's stages that ran (skipped stages never complete)."""
        return [self.stages[s] for s in job.stage_ids if s in self.stages]


def log_files(root: str) -> list[str]:
    """Every event-log file under ``root``, rolling parts in order."""
    out = []
    for dirpath, _, names in sorted(os.walk(root)):
        parts = [n for n in names if n.startswith("events_")]
        if parts:
            parts.sort(key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))
            out.extend(os.path.join(dirpath, n) for n in parts)
        else:
            out.extend(
                os.path.join(dirpath, n)
                for n in sorted(names)
                if not n.startswith(".") and not n.endswith(".inprogress")
                and not n.startswith("appstatus_")
            )
    return out


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(root: str) -> EventLog:
    log = EventLog()
    for path in log_files(root):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    bid = props.get("streaming.sql.batchId")
                    log.jobs[ev["Job ID"]] = Job(
                        ev["Job ID"],
                        props.get("spark.job.description"),
                        None if bid is None else int(bid),
                        list(ev.get("Stage IDs") or []),
                        ev.get("Submission Time"),
                    )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.succeeded = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = Stage(tasks=_int(info.get("Number of Tasks")))
                    for acc in info.get("Accumulables") or []:
                        attr = ACCUMS.get(acc.get("Name"))
                        if attr:
                            setattr(st, attr, getattr(st, attr) + _int(acc.get("Value")))
                    log.stages[info["Stage ID"]] = st
    return log
