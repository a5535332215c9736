"""Offline parser for an uncompressed Spark event log (JSON lines).

It needs no REST API and no live UI. Every timestamp in an event log is an
integer count of milliseconds since the Unix epoch (UTC), and the parser
only subtracts and compares them, so no time-zone or DST conversion is
involved.

`layer_metrics` attributes every job to the span that launched it (the job
group ``pb/<rep>/<span path>`` set by ``spans.Tracer``) and returns, per
repetition, the flat per-layer figures: per-span seconds and jobs; job,
stage and task counts; executor run, CPU and GC time; shuffle bytes;
Python worker time and bytes from the Spark SQL metrics; executor busy
share and driver idle time (repetition wall time not covered by any
running job).
"""

from __future__ import annotations

import json
import os
import statistics

from spans import GROUP_PREFIX

# Spark SQL metric name -> per-layer metric name, for the Python
# (Arrow/pandas) operators
PYTHON_METRICS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
}
# SQL metric types whose raw values are times, and their unit in seconds
_TIME_UNITS = {"timing": 1e-3, "nsTiming": 1e-9}


def log_file(path: str) -> str:
    """The event-log file at `path`, or the single file inside it."""
    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if not n.startswith("."))
        if len(names) != 1:
            raise ValueError(f"expected one event log in {path}, found {names}")
        path = os.path.join(path, names[0])
    return path


def _plan_metric_types(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in plan.get("children", []):
        _plan_metric_types(child, out)


def parse_jobs(path: str) -> dict[int, dict]:
    """job id -> {group, start_ms, end_ms, stages, tasks, run_ms, cpu_ns,
    gc_ms, shuffle_bytes, python: {metric: value}}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    metric_types: dict[int, tuple[str, str]] = {}
    with open(log_file(path), encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start_ms": ev["Submission Time"],
                    "end_ms": None,
                    "stages": 0,
                    "tasks": 0,
                    "run_ms": 0,
                    "cpu_ns": 0,
                    "gc_ms": 0,
                    "shuffle_bytes": 0,
                    "python": {},
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                job = stage_job.get(ev["Stage Info"]["Stage ID"])
                if job is not None:
                    jobs[job]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                j = jobs[job]
                j["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                j["run_ms"] += tm.get("Executor Run Time", 0)
                j["cpu_ns"] += tm.get("Executor CPU Time", 0)
                j["gc_ms"] += tm.get("JVM GC Time", 0)
                j["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    target = PYTHON_METRICS.get(acc.get("Name"))
                    if target is None or acc.get("Update") is None:
                        continue
                    unit = _TIME_UNITS.get(metric_types.get(acc["ID"], ("", ""))[1], 1)
                    j["python"][target] = (
                        j["python"].get(target, 0) + float(acc["Update"]) * unit
                    )
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metric_types(ev.get("sparkPlanInfo") or {}, metric_types)
    return jobs


def _group(gid: str | None) -> tuple[int, list[str]] | None:
    """'pb/3/engine.build>compiler.first_error' -> (3, [span names])."""
    if not gid or not gid.startswith(GROUP_PREFIX + "/"):
        return None
    _, rep, path = gid.split("/", 2)
    return int(rep), path.split(">")


def _covered_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


def rep_metrics(jobs: dict[int, dict], spans: list[dict], rep: dict,
                cpus: int, span_names: list[str]) -> dict[str, float]:
    """Per-layer figures of one repetition."""
    index = rep["index"]
    start_ms, end_ms = rep["start"] * 1000, rep["end"] * 1000
    wall_s = (end_ms - start_ms) / 1000
    mine = []
    for j in jobs.values():
        g = _group(j["group"])
        if g is not None and g[0] == index:
            mine.append((g[1], j))
    out: dict[str, float] = {
        "spark.jobs": len(mine),
        "spark.stages": sum(j["stages"] for _, j in mine),
        "spark.tasks": sum(j["tasks"] for _, j in mine),
        "spark.executor_run_s": sum(j["run_ms"] for _, j in mine) / 1000,
        "spark.executor_cpu_s": sum(j["cpu_ns"] for _, j in mine) / 1e9,
        "spark.gc_s": sum(j["gc_ms"] for _, j in mine) / 1000,
        "spark.shuffle_bytes": sum(j["shuffle_bytes"] for _, j in mine),
    }
    for target in PYTHON_METRICS.values():
        out[target] = sum(j["python"].get(target, 0) for _, j in mine)
    out["spark.busy_frac"] = out["spark.executor_run_s"] / (wall_s * cpus)
    intervals = [
        (max(j["start_ms"], start_ms), min(j["end_ms"] or end_ms, end_ms))
        for _, j in mine
    ]
    out["driver.idle_s"] = wall_s - _covered_ms(intervals) / 1000
    for name in span_names:
        out[f"{name}_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["rep"] == index and s["name"] == name
        )
        out[f"{name}_jobs"] = sum(1 for path, _ in mine if name in path)
    return out


def layer_metrics(jobs: dict[int, dict], spans: list[dict], reps: list[dict],
                  cpus: int, span_names: list[str]) -> dict[str, float]:
    """Median over `reps` of each repetition's per-layer figures."""
    per_rep = [rep_metrics(jobs, spans, r, cpus, span_names) for r in reps]
    return {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}
