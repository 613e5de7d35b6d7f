"""Where the Python work is, from a Spark event log.

    python scripts/python_stages.py <event-log>

Prints one line per SQL execution (jobs, stages, tasks, task-seconds, and
the share of those that evaluate Python), then every stage that evaluates
Python — ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas,
MapInPandas or a PythonRDD — with its task count and task-seconds, then a
total line. Task-seconds are executor run time. Jobs that belong to no SQL
execution (RDD actions) are listed under execution "-".

A stage evaluates Python when a Python node is reachable in its RDD lineage
without passing through a cached RDD that an earlier stage already
materialized (a cache hit runs none of the nodes behind it), or when one of
its tasks reports Python worker metrics. Write an event log with
`--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file:///tmp/ev`
(uncompressed).
"""

from __future__ import annotations

import argparse
import json
from collections import defaultdict

PY_SCOPES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow")
PY_TASK_METRICS = ("time to run Python workers", "data sent to Python workers")


def _python_nodes(stage_info: dict, materialized: set[int]) -> set[str]:
    """Python node kinds the stage computes (see module doc)."""
    rdds = {r["RDD ID"]: r for r in stage_info["RDD Info"]}
    children = {p for r in rdds.values() for p in r["Parent IDs"]}
    todo = [i for i in rdds if i not in children]  # the stage's output RDD
    seen, kinds = set(), set()
    while todo:
        rid = todo.pop()
        if rid in seen or rid not in rdds:
            continue
        seen.add(rid)
        r = rdds[rid]
        if r["Name"] == "PythonRDD":
            kinds.add("PythonRDD")
        scope = json.loads(r["Scope"]).get("name") if r.get("Scope") else None
        if scope in PY_SCOPES:
            kinds.add(scope)
        if rid in materialized:
            continue  # served from the cache: its lineage does not run
        todo.extend(r["Parent IDs"])
    return kinds


def _is_cached(rdd: dict) -> bool:
    lvl = rdd.get("Storage Level") or {}
    return bool(lvl.get("Use Memory") or lvl.get("Use Disk"))


def read(path: str) -> dict:
    execs: dict = {}  # exec id → description
    job_exec: dict[int, str] = {}
    stage_exec: dict[int, str] = {}
    stage_kinds: dict[int, set[str]] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    py_metric_stages: set[int] = set()
    materialized: set[int] = set()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                execs[str(ev["executionId"])] = ev.get("description", "")
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id", "-")
                job_exec[ev["Job ID"]] = ex
                for st in ev.get("Stage IDs") or []:
                    stage_exec.setdefault(st, ex)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_kinds[info["Stage ID"]] = _python_nodes(info, materialized)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" not in info:
                    materialized.update(
                        r["RDD ID"] for r in info["RDD Info"] if _is_cached(r))
            elif kind == "SparkListenerTaskEnd":
                st = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                stage_tasks[st].append(m.get("Executor Run Time", 0) / 1000.0)
                names = {a.get("Name") for a in
                         (ev.get("Task Info") or {}).get("Accumulables") or []}
                if names.intersection(PY_TASK_METRICS):
                    py_metric_stages.add(st)
    for st in py_metric_stages:
        if not stage_kinds.get(st):
            stage_kinds[st] = {"Python"}
    return {"execs": execs, "job_exec": job_exec, "stage_exec": stage_exec,
            "stage_kinds": stage_kinds, "stage_tasks": stage_tasks}


def summarize(log: dict) -> dict:
    per_exec: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for ex in log["job_exec"].values():
        per_exec[ex]["jobs"] += 1
    py_stages = []
    for st, durs in sorted(log["stage_tasks"].items()):
        ex = log["stage_exec"].get(st, "-")
        row = per_exec[ex]
        row["stages"] += 1
        row["tasks"] += len(durs)
        row["task_s"] += sum(durs)
        kinds = log["stage_kinds"].get(st) or set()
        if kinds:
            row["py_stages"] += 1
            row["py_tasks"] += len(durs)
            row["py_task_s"] += sum(durs)
            py_stages.append((st, ex, "+".join(sorted(kinds)), len(durs), sum(durs)))
    total = defaultdict(float)
    for row in per_exec.values():
        for k, v in row.items():
            total[k] += v
    total["executions"] = len([e for e in per_exec if e != "-"])
    total["python_rdd_stages"] = sum("PythonRDD" in s[2] for s in py_stages)
    return {"per_exec": per_exec, "py_stages": py_stages, "total": total}


def _key(ex: str):
    return (ex == "-", int(ex) if ex.isdigit() else 0)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("event_log")
    args = ap.parse_args(argv)
    log = read(args.event_log)
    s = summarize(log)
    print(f"{'exec':>5} {'jobs':>4} {'stages':>6} {'tasks':>5} {'task_s':>7}"
          f" {'py_stg':>6} {'py_tsk':>6} {'py_s':>7}  description")
    for ex in sorted(s["per_exec"], key=_key):
        r = s["per_exec"][ex]
        desc = log["execs"].get(ex, "").splitlines()[0] if ex in log["execs"] else ""
        print(f"{ex:>5} {r['jobs']:>4.0f} {r['stages']:>6.0f} {r['tasks']:>5.0f}"
              f" {r['task_s']:>7.2f} {r['py_stages']:>6.0f} {r['py_tasks']:>6.0f}"
              f" {r['py_task_s']:>7.2f}  {desc[:60]}")
    print()
    print(f"{'stage':>5} {'exec':>5} {'tasks':>5} {'task_s':>7}  python")
    for st, ex, kinds, n, secs in s["py_stages"]:
        print(f"{st:>5} {ex:>5} {n:>5} {secs:>7.2f}  {kinds}")
    t = s["total"]
    print()
    print(f"total: {t['executions']:.0f} SQL executions, {t['jobs']:.0f} jobs,"
          f" {t['stages']:.0f} stages, {t['tasks']:.0f} tasks, {t['task_s']:.2f} task-s;"
          f" Python: {t['py_stages']:.0f} stages, {t['py_tasks']:.0f} tasks,"
          f" {t['py_task_s']:.2f} task-s; PythonRDD stages: {t['python_rdd_stages']:.0f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
