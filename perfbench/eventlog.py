"""Per-job metrics from an uncompressed Spark event log.

Tasks are attributed to stages, stages to the first job that lists them
(a stage listed again by a later job is skipped there), and write
metrics reported on the driver to the latest job of their SQL
execution. Python-kernel metrics are the SQL metrics Spark records on
its Arrow/pandas evaluation nodes.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator

# SQL metric name -> (record key, scale to record unit); Spark records
# these timings in ms and these sizes in bytes
SQL_METRICS = {
    "time to run Python workers": ("python_total_s", 1e-3),
    "time to start Python workers": ("python_boot_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("python_bytes_sent", 1),
    "data returned from Python workers": ("python_bytes_received", 1),
    "number of written files": ("write_files", 1),
    "written output": ("write_bytes", 1),
}
# reported once per SQL execution by the driver, never per task
DRIVER_METRICS = {"number of written files", "written output"}
JOB_FIELDS = (
    "stages",
    "tasks",
    "task_run_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "write_task_s",
    *sorted({key for key, _ in SQL_METRICS.values()}),
)
_SQL_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def read_events(path: str) -> Iterator[dict]:
    """Events of one single-file (non-rolling) log."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def parse(events: Iterable[dict]) -> dict[int, dict]:
    """``{job_id: row}``; each row holds ``group``, ``duration_s`` and
    the sums named in ``JOB_FIELDS``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_jobs: dict[int, int] = {}
    accums: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            row = dict.fromkeys(JOB_FIELDS, 0.0)
            row.update(
                group=props.get("spark.jobGroup.id"),
                submit_ms=ev["Submission Time"],
                duration_s=0.0,
            )
            jobs[ev["Job ID"]] = row
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
            if "spark.sql.execution.id" in props:
                eid = int(props["spark.sql.execution.id"])
                exec_jobs[eid] = max(exec_jobs.get(eid, -1), ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            row = jobs.get(ev["Job ID"])
            if row is not None:
                row["duration_s"] = (ev["Completion Time"] - row["submit_ms"]) / 1000
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            row = jobs.get(stage_job.get(info["Stage ID"], -1))
            if row is not None and "Completion Time" in info:
                row["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            row = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if row is not None:
                _add_task(row, ev, accums)
        elif kind in _SQL_EVENTS:
            _plan_metrics(ev.get("sparkPlanInfo", {}), accums)
        elif kind == "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates":
            row = jobs.get(exec_jobs.get(ev["executionId"], -1))
            if row is not None:
                for aid, value in ev["accumUpdates"]:
                    _add_sql_metric(row, accums.get(aid), value)
    return jobs


def _add_task(row: dict, ev: dict, accums: dict[int, str]) -> None:
    m = ev.get("Task Metrics") or {}
    row["tasks"] += 1
    run_s = _num(m.get("Executor Run Time")) / 1000
    row["task_run_s"] += run_s
    row["gc_s"] += _num(m.get("JVM GC Time")) / 1000
    rd = m.get("Shuffle Read Metrics") or {}
    row["shuffle_read_bytes"] += _num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read"))
    row["shuffle_write_bytes"] += _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    row["spill_bytes"] += _num(m.get("Disk Bytes Spilled"))
    if _num((m.get("Output Metrics") or {}).get("Bytes Written")) > 0:
        row["write_task_s"] += run_s
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = accums.get(acc.get("ID"), acc.get("Name"))
        if name not in DRIVER_METRICS:
            _add_sql_metric(row, name, acc.get("Update"))


def _add_sql_metric(row: dict, name: str | None, value) -> None:
    if name in SQL_METRICS:
        key, scale = SQL_METRICS[name]
        row[key] += _num(value) * scale
