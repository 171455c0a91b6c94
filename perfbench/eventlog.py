"""Spark event-log reader and span attribution.

Reads an uncompressed, non-rolling event log (one JSON object per line)
and assigns each job, and the stages it ran, to the innermost benchmark
span whose interval contains the job's submission time. Stage metrics
are the sums of the per-task ``Update`` values in each
``SparkListenerTaskEnd`` event, for both the task metrics
(``internal.metrics.*``) and the SQL metrics (e.g. "time to run Python
workers"). The ``Value`` a stage reports is its accumulators' running
total, which for a SQL metric spans every stage its plan node ran in.

Spark's "time to initialize Python workers" starts its clock when the
worker begins waiting for a task, so for a reused worker it also counts
the idle time before the task. ``python_init_s`` is therefore clipped,
per task, to the task's run time not spent running the Python worker.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# accumulable name → (metric key, scale to SI units)
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("task_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "time to run Python workers": ("python_run_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
}
METRIC_KEYS = sorted({k for k, _ in _TASK_METRICS.values()})


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class Stage:
    stage_id: int
    tasks: int
    metrics: dict[str, float]


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]  # completed stages only (skipped ones never run)


def task_metrics(accumulables: list[dict]) -> dict[str, float]:
    """One task's metrics from its ``Task Info`` accumulables."""
    m = dict.fromkeys(METRIC_KEYS, 0.0)
    for acc in accumulables:
        spec = _TASK_METRICS.get(acc.get("Name"))
        if spec is not None and acc.get("Update") is not None:
            m[spec[0]] += float(acc["Update"]) * spec[1]
    m["python_init_s"] = min(m["python_init_s"], max(m["task_s"] - m["python_run_s"], 0.0))
    return m


def read(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    per_stage: dict[int, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, stage_ids=list(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = per_stage.setdefault(ev["Stage ID"], dict.fromkeys(METRIC_KEYS, 0.0))
                for k, v in task_metrics(ev["Task Info"].get("Accumulables", [])).items():
                    m[k] += v
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                # a retried stage reports each attempt; keep the last
                stages[info["Stage ID"]] = Stage(info["Stage ID"], info["Number of Tasks"], {})
    for sid, st in stages.items():
        # every attempt's tasks ran, so all of them count
        st.metrics = per_stage.get(sid, dict.fromkeys(METRIC_KEYS, 0.0))
    return EventLog(jobs, stages)


def _innermost(spans: list[dict], t: float, slack: float = 1e-3) -> dict | None:
    best = None
    for s in spans:
        if s["start"] - slack <= t <= s["end"] and (
            best is None or s["end"] - s["start"] < best["end"] - best["start"]
        ):
            best = s
    return best


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(log: EventLog, spans: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks, job_busy_s (union of the job
    intervals clipped to the span) and the summed stage metrics of the
    jobs whose submission time falls inside that span and no inner one.
    A stage is charged to the first job that lists it, the job that
    ran it; later jobs that reuse its shuffle output skip it."""
    out = {
        s["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "job_busy_s": 0.0,
                  **dict.fromkeys(METRIC_KEYS, 0.0)}
        for s in spans
    }
    intervals: dict[int, list[tuple[float, float]]] = {s["id"]: [] for s in spans}
    claimed: set[int] = set()
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        span = _innermost(spans, job.submit)
        own = [sid for sid in job.stage_ids if sid in log.stages and sid not in claimed]
        claimed.update(own)
        if span is None:
            continue
        agg = out[span["id"]]
        agg["jobs"] += 1
        end = job.end if job.end is not None else span["end"]
        intervals[span["id"]].append((max(job.submit, span["start"]), min(end, span["end"])))
        for sid in own:
            st = log.stages[sid]
            agg["stages"] += 1
            agg["tasks"] += st.tasks
            for k, v in st.metrics.items():
                agg[k] += v
    for sid, iv in intervals.items():
        out[sid]["job_busy_s"] = _union_len([(s, e) for s, e in iv if e > s])
    return out
