"""Per-label totals from Spark's own JSON event log.

The benchmark labels every job it submits with a job description
(``SparkContext.setJobDescription``); this module folds the completed
stages of each job into totals per label. Units follow the log:
``executorRunTime`` and the Python SQL timing metric are milliseconds,
``executorCpuTime`` is nanoseconds, byte metrics are bytes.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from typing import Dict, Iterable, Iterator

_PY_RUN = "time to run Python workers"
_TO_PY = "data sent to Python workers"
_FROM_PY = "data returned from Python workers"

FIELDS = (
    "jobs", "stages", "tasks", "task_failures", "job_wall_s",
    "executor_run_s", "executor_cpu_s", "python_worker_s", "jvm_s",
    "to_python_mb", "from_python_mb", "shuffle_write_mb",
)


def read_events(log_dir: str) -> Iterator[dict]:
    """Events of every log under ``log_dir`` (plain files, or the rolling
    ``eventlog_v2_*`` directories Spark 4 writes)."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def totals_by_label(events: Iterable[dict]) -> Dict[str, Dict[str, float]]:
    """``{job description: {field: total}}`` over completed stages."""
    stage_label: Dict[int, str] = {}
    job_label: Dict[int, str] = {}
    job_start: Dict[int, float] = {}
    failures: Dict[int, int] = defaultdict(int)
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get("spark.job.description") or "unlabelled"
            job_label[e["Job ID"]] = label
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", []):
                stage_label.setdefault(sid, label)
            out[label]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                out[job_label[jid]]["job_wall_s"] += (e["Completion Time"] - job_start[jid]) / 1e3
        elif kind == "SparkListenerTaskEnd":
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                failures[e["Stage ID"]] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            t = out[stage_label.get(sid, "unlabelled")]
            acc: Dict[str, float] = defaultdict(float)
            for a in info.get("Accumulables", []):
                # several Python nodes in one stage each carry their own
                # accumulator under the same name: sum them
                acc[a["Name"]] += _num(a.get("Value"))
            run_s = acc["internal.metrics.executorRunTime"] / 1e3
            py_s = acc[_PY_RUN] / 1e3
            t["stages"] += 1
            t["tasks"] += info.get("Number of Tasks", 0)
            t["task_failures"] += failures.pop(sid, 0)
            t["executor_run_s"] += run_s
            t["executor_cpu_s"] += acc["internal.metrics.executorCpuTime"] / 1e9
            t["python_worker_s"] += py_s
            t["jvm_s"] += max(run_s - py_s, 0.0)
            t["to_python_mb"] += acc[_TO_PY] / 1e6
            t["from_python_mb"] += acc[_FROM_PY] / 1e6
            t["shuffle_write_mb"] += acc["internal.metrics.shuffle.write.bytesWritten"] / 1e6
    return dict(out)


def sum_totals(totals: Dict[str, Dict[str, float]], prefix: str) -> Dict[str, float]:
    """Field-wise sum over the labels starting with ``prefix``."""
    acc = dict.fromkeys(FIELDS, 0.0)
    for label, t in totals.items():
        if label.startswith(prefix):
            for k in FIELDS:
                acc[k] += t[k]
    return acc
