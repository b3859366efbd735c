"""Per-layer numbers from Spark's event log.

A traced run starts its session with ``spark.eventLog.enabled``; Spark then
writes one JSON event per line. ``summarize`` reads the task, stage, job and
SQL-execution events whose time falls inside the benchmark's timed windows
and folds them into the layer metrics the benchmark reports:

- ``tasks.*``: task count, executor run/CPU/GC time, spill, peak execution
  memory, and skew (max over median task run time in the stage with the most
  run time);
- ``sources.*``: file bytes scanned (the scan node's driver-side metric),
  rows read, and run time of scan tasks;
- ``exchange.*``: shuffle bytes written and read, and fetch wait;
- ``python.*``: bytes sent to and returned from Python workers, worker boot
  time, and run time of the tasks that ran a Python node (the Arrow boundary
  versus the UDF body, as in CIDR 2022's split);
- ``state.commit_s``: state-store commit time;
- ``sink.write_s``: run time of tasks that wrote output files;
- ``driver.plan_s``: SQL execution start to its first job, and
  ``driver.tail_s``: last job end to SQL execution end;
- ``jobs.count``.

Times are seconds, sizes bytes. SQL metrics are converted by the metric type
their plan node declares (``timing`` is ms, ``nsTiming`` is ns).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
_SCAN_BYTES = "size of files read"

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
_STATE_COMMIT = "time to commit changes"

METRICS = (
    "tasks.count", "tasks.run_s", "tasks.cpu_s", "tasks.gc_s", "tasks.spill_bytes",
    "tasks.peak_mem_bytes", "tasks.skew",
    "sources.scan_bytes", "sources.scan_rows", "sources.scan_task_s",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "exchange.fetch_wait_s",
    "python.bytes_sent", "python.bytes_received", "python.boot_s", "python.stage_s",
    "state.commit_s", "sink.write_s", "driver.plan_s", "driver.tail_s", "jobs.count",
)


def read_events(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``, in file order.
    Handles both single-file logs and Spark's rolling ``eventlog_v2_*``
    directories; logs must be uncompressed."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (metric name, metric type), over a sparkPlanInfo
    tree."""
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def plan_nodes(plan: dict) -> list[str]:
    """Node names of a sparkPlanInfo tree, depth first."""
    names = [plan["nodeName"]]
    for child in plan.get("children", ()):
        names.extend(plan_nodes(child))
    return names


def executed_plans(events: list[dict]) -> dict[int, dict]:
    """SQL execution id -> {"description", "nodes", "text"} of its final
    plan: the last adaptive update, or the initial plan when AQE never
    re-planned. ``text`` is the physical plan with its expressions."""
    out = {}
    for e in events:
        if e["Event"] in (_SQL_START, _SQL_AQE) and (
            e["Event"] == _SQL_START or e["executionId"] in out
        ):
            out.setdefault(e["executionId"], {"description": e.get("description", "")}).update(
                nodes=plan_nodes(e["sparkPlanInfo"]), text=e["physicalPlanDescription"]
            )
    return out


def _scale(metric_type: str) -> float:
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(metric_type, 1.0)


def _inside(t_ms: float, windows) -> bool:
    t = t_ms / 1000.0
    return windows is None or any(a <= t <= b for a, b in windows)


def summarize(events: list[dict], windows=None) -> dict[str, float]:
    """Fold the events whose jobs were submitted inside ``windows`` (a list
    of (start, end) epoch seconds; None keeps all) into layer metrics."""
    accs: dict[int, tuple[str, str]] = {}
    driver_accs: list[tuple[int, int, float]] = []  # (execution id, acc id, value)
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, dict] = {}
    tasks = []
    for e in events:
        kind = e["Event"]
        if kind in (_SQL_START, _SQL_AQE):
            _plan_metrics(e["sparkPlanInfo"], accs)
            if kind == _SQL_START:
                execs[e["executionId"]] = {"start": e["time"], "end": None}
        elif kind == _SQL_END and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"],
                "end": None,
                "exec": int(exec_id) if exec_id is not None else None,
            }
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            tasks.append(e)
        elif kind == _SQL_DRIVER_ACCUMS:
            driver_accs.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])

    kept_jobs = {j for j, v in jobs.items() if _inside(v["submit"], windows)}
    m = dict.fromkeys(METRICS, 0.0)
    m["jobs.count"] = float(len(kept_jobs))
    stage_runs: dict[int, list[float]] = {}
    for e in tasks:
        if stage_job.get(e["Stage ID"]) not in kept_jobs:
            continue
        tm = e["Task Metrics"]
        run = tm["Executor Run Time"] / 1e3
        m["tasks.count"] += 1
        m["tasks.run_s"] += run
        m["tasks.cpu_s"] += tm["Executor CPU Time"] / 1e9
        m["tasks.gc_s"] += tm["JVM GC Time"] / 1e3
        m["tasks.spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
        m["tasks.peak_mem_bytes"] = max(m["tasks.peak_mem_bytes"], tm["Peak Execution Memory"])
        stage_runs.setdefault(e["Stage ID"], []).append(run)
        inp = tm.get("Input Metrics", {})
        if inp.get("Records Read", 0):
            m["sources.scan_rows"] += inp["Records Read"]
            m["sources.scan_task_s"] += run
        rd = tm.get("Shuffle Read Metrics", {})
        m["exchange.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        m["exchange.fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
        m["exchange.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        if tm.get("Output Metrics", {}).get("Bytes Written", 0):
            m["sink.write_s"] += run
        ran_python = False
        for a in e["Task Info"].get("Accumulables", ()):
            name, mtype = accs.get(a.get("ID"), (None, None))
            update = a.get("Update")
            if name is None or not isinstance(update, (int, float, str)):
                continue
            value = float(update) * _scale(mtype)
            if name == _PY_SENT:
                # every Python eval node (Arrow UDF, mapIn*, grouped map)
                # carries this metric; a task that fed one ran Python
                m["python.bytes_sent"] += value
                ran_python = ran_python or value > 0
            elif name == _PY_RECV:
                m["python.bytes_received"] += value
            elif name in _PY_BOOT:
                m["python.boot_s"] += value
            elif name == _STATE_COMMIT:
                m["state.commit_s"] += value
        if ran_python:
            m["python.stage_s"] += run
    if stage_runs:
        runs = max(stage_runs.values(), key=sum)
        med = statistics.median(runs)
        m["tasks.skew"] = max(runs) / med if med > 0 else 1.0
    kept_execs = {j["exec"] for j in map(jobs.get, kept_jobs)}
    for exec_id, acc_id, value in driver_accs:
        if exec_id in kept_execs and accs.get(acc_id, (None,))[0] == _SCAN_BYTES:
            m["sources.scan_bytes"] += value
    by_exec: dict[int, list[dict]] = {}
    for j in kept_jobs:
        if jobs[j]["exec"] in execs:
            by_exec.setdefault(jobs[j]["exec"], []).append(jobs[j])
    for exec_id, mine in by_exec.items():
        x = execs[exec_id]
        m["driver.plan_s"] += max(0.0, min(j["submit"] for j in mine) - x["start"]) / 1e3
        ends = [j["end"] for j in mine if j["end"] is not None]
        if x["end"] is not None and ends:
            m["driver.tail_s"] += max(0.0, x["end"] - max(ends)) / 1e3
    return m
