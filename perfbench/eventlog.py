"""Spark event-log parsing: per-run job, task and stage-class figures.

The benchmark tags every job of a timed call with the local property
``perfbench.phase`` and reads the uncompressed event log after the session
stops. Each task of an extraction run gets exactly one class:

* ``pre_write``  jobs before the data write (the empty-input probe and the
  input's schema read);
* ``lineage``    jobs after the data write (rows_in count, output read-back,
  lineage append, run metrics);
* inside the data write, by the operator scopes of the task's stage:
  ``light_udf`` (MapInPandas over a file scan), ``decode_udf`` (MapInPandas
  over a shuffle read), ``payload_agg`` (the distinct-payload aggregate),
  ``write`` (the WriteFiles stage) and ``join`` (everything else: the
  join-back's scan and exchanges).

Spark fuses the light UDF, the decode UDF and the bucket exchange into one
stage through a Union; there each union branch is classified on its own
and a task belongs to the branch that owns its partition index.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PHASE_PROP = "perfbench.phase"
CLASSES = ("pre_write", "light_udf", "payload_agg", "decode_udf", "join",
           "write", "lineage")
_AGG = ("SortAggregate", "HashAggregate", "ObjectHashAggregate")


def load_events(log_dir: str) -> list:
    """Events of every uncompressed, non-rolling log file in ``log_dir``."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".crc"):
            with open(path) as f:
                out.extend(json.loads(line) for line in f if line.strip())
    return out


def _scopes(rdds: list) -> set:
    names = set()
    for r in rdds:
        if r.get("Scope"):
            names.add(json.loads(r["Scope"])["name"].strip())
    return names


def _class_of(rdds: list) -> str:
    scopes = _scopes(rdds)
    kinds = {r["Name"] for r in rdds}
    if "MapInPandas" in scopes:
        return "light_udf" if "FileScanRDD" in kinds else "decode_udf"
    if "WriteFiles" in scopes:
        return "write"
    if scopes & set(_AGG) and "Exchange" in scopes:
        return "payload_agg"
    return "join"


def _ancestors(rdd_id: int, by_id: dict) -> list:
    out, todo = [], [rdd_id]
    while todo:
        r = by_id.get(todo.pop())
        if r is not None:
            out.append(r)
            todo.extend(r.get("Parent IDs", ()))
    return out


def stage_branches(stage_info: dict) -> list:
    """[(first partition, end partition, class)] covering every partition
    of the stage: one entry, or one per branch of a Union."""
    rdds = stage_info["RDD Info"]
    by_id = {r["RDD ID"]: r for r in rdds}
    unions = [r for r in rdds if r["Name"] == "UnionRDD"]
    n = stage_info["Number of Tasks"]
    if not unions:
        return [(0, n, _class_of(rdds))]
    union = max(unions, key=lambda r: r["RDD ID"])
    out, start = [], 0
    for pid in union["Parent IDs"]:
        parts = by_id[pid]["Number of Partitions"]
        out.append((start, start + parts, _class_of(_ancestors(pid, by_id))))
        start += parts
    return out


def _plan_nodes(node: dict):
    yield node
    for c in node.get("children", ()):
        yield from _plan_nodes(c)


def summarize(events: list, input_path: str | None = None) -> dict:
    """phase -> figures for every tagged phase in the log."""
    job_phase, job_exec, stage_job = {}, {}, {}
    stage_info, plans = {}, {}
    tasks = defaultdict(list)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if PHASE_PROP not in props:
                continue
            jid = e["Job ID"]
            job_phase[jid] = props[PHASE_PROP]
            ex = props.get("spark.sql.execution.id")
            job_exec[jid] = int(ex) if ex is not None else None
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_info[(si["Stage ID"], si["Stage Attempt ID"])] = si
        elif ev == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)
        elif ev.endswith("SQLExecutionStart") or \
                ev.endswith("SQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]

    phases = defaultdict(lambda: {"jobs": [], "execs": set()})
    for jid, ph in job_phase.items():
        phases[ph]["jobs"].append(jid)
        if job_exec[jid] is not None:
            phases[ph]["execs"].add(job_exec[jid])

    out = {}
    for ph, d in phases.items():
        jobs = sorted(d["jobs"])
        # the data write: the first execution whose plan writes files
        write_exec = next(
            (x for x in sorted(d["execs"]) if any(
                n["nodeName"] == "WriteFiles"
                for n in _plan_nodes(plans.get(x, {"nodeName": ""})))),
            None)
        write_jobs = [j for j in jobs if job_exec[j] == write_exec]
        first_w = write_jobs[0] if write_jobs else None

        def job_class(j):
            if first_w is None:
                return None
            if job_exec[j] is not None and write_exec is not None:
                if job_exec[j] < write_exec:
                    return "pre_write"
                if job_exec[j] > write_exec:
                    return "lineage"
                return None  # classify by stage
            return "pre_write" if j < first_w else "lineage"

        f = {"jobs": len(jobs), "tasks": 0, "exec_s": 0.0,
             "stage_exec_s": 0.0, "shuffle_write_mb": 0.0,
             "classes": {c: {"exec_s": 0.0, "tasks": 0, "max_task_s": 0.0}
                         for c in CLASSES}, "unclassified_tasks": 0}
        for (sid, att), si in stage_info.items():
            jid = stage_job.get(sid)
            if jid is None or job_phase.get(jid) != ph:
                continue
            for a in si.get("Accumulables", ()):
                if a["Name"] == "internal.metrics.executorRunTime":
                    f["stage_exec_s"] += int(a["Value"]) / 1000
            fixed = job_class(jid)
            branches = stage_branches(si)
            for t in tasks.get(sid, ()):
                if t["Stage Attempt ID"] != att:
                    continue
                m = t.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1000
                f["tasks"] += 1
                f["exec_s"] += run_s
                f["shuffle_write_mb"] += m.get(
                    "Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                cls = fixed
                if cls is None:
                    idx = t["Task Info"]["Index"]
                    cls = next((c for lo, hi, c in branches
                                if lo <= idx < hi), None)
                if cls is None:
                    f["unclassified_tasks"] += 1
                    continue
                c = f["classes"][cls]
                c["exec_s"] += run_s
                c["tasks"] += 1
                c["max_task_s"] = max(c["max_task_s"], run_s)
        if input_path is not None:
            f["input_scans"] = sum(
                1 for x in d["execs"]
                for n in _plan_nodes(plans.get(x, {"nodeName": ""}))
                if n["nodeName"].startswith("Scan ")
                and input_path in n.get("metadata", {}).get("Location", ""))
        out[ph] = f
    return out
