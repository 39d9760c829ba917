import json

from eventlog import EventLog, codegen_fallback_ops


def _node(name, *children):
    return {"nodeName": name, "children": list(children)}


def test_codegen_fallback_counts_operators_outside_codegen():
    plan = _node(
        "AdaptiveSparkPlan",
        _node("Window",                                    # outside: counts
              _node("WholeStageCodegen (2)",
                    _node("Sort",                          # inside
                          _node("InputAdapter",
                                _node("Exchange",
                                      _node("ObjectHashAggregate",  # counts
                                            _node("Scan parquet ")))))))
    )
    assert codegen_fallback_ops(plan) == 2


def test_window_attribution(tmp_path):
    plan = _node("Project", _node("Scan parquet "))
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1_000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                     "Local Bytes Read": 99}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1_500},
        # a later job reuses stage 0 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 3_000, "Stage IDs": [0, 2]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Output Metrics": {"Bytes Written": 42}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 3_250},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart",
         "executionId": 0, "time": 2_900, "sparkPlanInfo": plan},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog.parse(str(path))
    first = log.window(0.9, 2.0)
    assert (first.jobs, first.stages, first.tasks) == (1, 2, 2)
    assert (first.shuffle_write_bytes, first.shuffle_read_bytes,
            first.spill_bytes) == (100, 100, 12)
    assert first.job_busy_s == 0.5 and first.codegen_fallback_ops == 0
    second = log.window(2.5, 4.0)
    assert (second.jobs, second.stages, second.tasks) == (1, 1, 1)
    assert second.output_bytes == 42 and second.codegen_fallback_ops == 1
    both = log.window(0.0, 10.0)
    assert both.jobs == 2 and both.job_busy_s == 0.75
