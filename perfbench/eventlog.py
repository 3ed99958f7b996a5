"""Fold a Spark event log into per-phase execution counters.

Each job is attributed to a phase key ``(pass, query, phase)`` by its
job group (``spark.jobGroup.id``). Jobs submitted from threads that do
not carry the group (the engine's ``ThreadPoolExecutor`` fan-outs) are
attributed by the phase window their submission time falls in, and
counted as unattributed. A task belongs to the job that first listed
its stage: later jobs only skip that stage.

The self-check sets the folded TaskEnd sums (every phase plus what ran
outside the passes) against the run's totals as Spark itself kept them
in each StageCompleted event: the stage's task count and its task-metric
accumulators. A TaskEnd that the log dropped, or that the fold lost or
counted twice, makes them differ.
"""

from __future__ import annotations

import bisect
import json
import statistics
from collections import defaultdict


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def fold(path: str, groups: dict[str, tuple], windows: list[tuple]) -> dict:
    """``groups`` maps a job group id to its phase key; ``windows`` is a
    list of ``(start_ms, end_ms, key)``. Returns ``{"phases": {key:
    counters}, "jobs": [...], "check": {...}}``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[tuple, list[int]] = defaultdict(list)
    tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
    completed: list[tuple[int, int]] = []
    #: run totals from the StageCompleted events, independent of TaskEnd
    totals = {"tasks": 0, "task_run_ms": 0, "task_cpu_ns": 0}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                jobs[jid] = {
                    "id": jid,
                    "group": props.get("spark.jobGroup.id"),
                    "submit": e["Submission Time"],
                    "end": e["Submission Time"],
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                completed.append((info["Stage ID"], info["Stage Attempt ID"]))
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                totals["tasks"] += info["Number of Tasks"]
                totals["task_run_ms"] += int(acc.get("internal.metrics.executorRunTime", 0))
                totals["task_cpu_ns"] += int(acc.get("internal.metrics.executorCpuTime", 0))
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                t = {
                    "tasks": 1,
                    "task_run_ms": m.get("Executor Run Time", 0),
                    "task_cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                    "input_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "input_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "output_b": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                }
                sid = e["Stage ID"]
                tasks_by_stage[sid].append(t)
                stage_tasks[(sid, e["Stage Attempt ID"])].append(t["task_run_ms"])

    starts = sorted((w[0], i) for i, w in enumerate(windows))
    keys = [s for s, _ in starts]

    def by_window(ms: int):
        i = bisect.bisect_right(keys, ms) - 1
        while i >= 0:
            s, e, key = windows[starts[i][1]]
            if s <= ms <= e:
                return key
            i -= 1
        return None

    phases: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    job_key: dict[int, tuple | None] = {}
    for jid, j in jobs.items():
        key = groups.get(j["group"]) if j["group"] else None
        if key is None and not j["group"]:
            key = by_window(j["submit"])
            if key is not None:
                phases[key]["unattributed_jobs"] += 1
        j["key"] = key
        job_key[jid] = key
        if key is not None:
            p = phases[key]
            p["jobs"] += 1
            p.setdefault("job_spans", []).append((j["submit"], j["end"]))
            p["first_submit"] = min(p.get("first_submit", j["submit"]), j["submit"])

    outside: dict[str, float] = defaultdict(float)
    unknown = 0
    for sid, ts in tasks_by_stage.items():
        key = job_key.get(stage_job.get(sid, -1), "unknown")
        if key == "unknown":
            unknown += len(ts)
            continue
        into = outside if key is None else phases[key]
        for t in ts:
            for k, v in t.items():
                into[k] += v
    for sid, _attempt in completed:
        key = job_key.get(stage_job.get(sid, -1))
        if key is not None:
            phases[key]["stages"] += 1
            runs = stage_tasks.get((sid, _attempt), [])
            if len(runs) >= 2:
                sk = max(runs) / max(statistics.median(runs), 1)
                phases[key]["skew"] = max(phases[key].get("skew", 1.0), sk)
    for p in phases.values():
        p["job_ms"] = _union_ms(p.pop("job_spans", []))
    folded = {
        k: sum(p.get(k, 0) for p in phases.values()) + outside.get(k, 0)
        for k in totals
    }
    check = {
        "stage_totals": totals,
        "folded": folded,
        "tasks_outside_passes": outside.get("tasks", 0),
        "tasks_unknown_stage": unknown,
        "ok": unknown == 0 and folded == totals,
    }
    return {"phases": phases, "jobs": list(jobs.values()), "check": check}
