"""scripts/python_stages.py on a hand-written event log."""

import importlib.util
import json
import os

_SPEC = importlib.util.spec_from_file_location(
    "python_stages",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "python_stages.py"),
)
python_stages = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(python_stages)

_MEM = {"Use Memory": True, "Use Disk": False}
_NONE = {"Use Memory": False, "Use Disk": False}


def _rdd(rid, parents, name="MapPartitionsRDD", scope=None, level=_NONE):
    return {"RDD ID": rid, "Name": name, "Parent IDs": parents,
            "Scope": json.dumps({"id": "1", "name": scope}) if scope else None,
            "Storage Level": level}


def _stage(sid, rdds):
    info = {"Stage ID": sid, "RDD Info": rdds}
    return [{"Event": "SparkListenerStageSubmitted", "Stage Info": info},
            {"Event": "SparkListenerStageCompleted", "Stage Info": info}]


def _task(sid, ms, py_metric=False):
    acc = [{"Name": "time to run Python workers", "Update": "5"}] if py_metric else []
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Metrics": {"Executor Run Time": ms},
            "Task Info": {"Accumulables": acc}}


def test_counts_python_stages_and_skips_cache_hits(tmp_path):
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
    udf_then_cache = [_rdd(3, [2], level=_MEM), _rdd(2, [1], scope="ArrowEvalPython"),
                      _rdd(1, [])]
    events = [
        {"Event": sql, "executionId": 0, "description": "count"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.sql.execution.id": "0"}},
        *_stage(0, udf_then_cache),  # computes the UDF, fills the cache
        _task(0, 1500, py_metric=True), _task(0, 500, py_metric=True),
        {"Event": sql, "executionId": 1, "description": "collect"},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {"spark.sql.execution.id": "1"}},
        *_stage(1, [_rdd(4, [3]), *udf_then_cache]),  # reads the cache
        _task(1, 250),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Properties": {}},
        *_stage(2, [_rdd(6, [5]), _rdd(5, [0], name="PythonRDD"),
                    _rdd(0, [], scope="parallelize")]),
        _task(2, 1000),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")

    s = python_stages.summarize(python_stages.read(str(log)))
    assert [(st, ex, kinds, n) for st, ex, kinds, n, _ in s["py_stages"]] == [
        (0, "0", "ArrowEvalPython", 2), (2, "-", "PythonRDD", 1)]
    t = s["total"]
    assert (t["executions"], t["jobs"], t["stages"], t["tasks"]) == (2, 3, 3, 4)
    assert (t["py_stages"], t["py_tasks"], t["python_rdd_stages"]) == (2, 3, 1)
    assert abs(t["py_task_s"] - 3.0) < 1e-9 and abs(t["task_s"] - 3.25) < 1e-9
    assert python_stages.main([str(log)]) == 0
