"""Span recorder and event-log attribution, on a hand-written event log."""

import json

from perfbench.spans import Recorder, read_event_logs, totals


def _write_log(path, events):
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_stages_attributed_to_spans_and_batches(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "span:7:pipeline.run_batch",
                        "spark.sql.execution.id": "3"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": {"metrics": [], "children": [
             {"metrics": [{"name": "number of files read", "accumulatorId": 42}], "children": []}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[42, 5], [99, 1000]]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Number of Tasks": 4, "Submission Time": 1000, "Completion Time": 3000,
            "Accumulables": [{"Name": "internal.metrics.executorRunTime", "Value": 1500},
                             {"Name": "internal.metrics.executorCpuTime", "Value": 2e8},
                             {"Name": "internal.metrics.shuffle.write.bytesWritten", "Value": 64}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Number of Tasks": 1, "Submission Time": 3000, "Completion Time": 3500,
            "Accumulables": [{"Name": "internal.metrics.output.bytesWritten", "Value": 10}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.job.description": "\nid = x\nrunId = y\nbatch = 12"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Number of Tasks": 2, "Accumulables": []}},
        "not json at all",
    ]
    app = tmp_path / "local-1000"
    _write_log(app, events[:-1])
    with app.open("a") as fh:
        fh.write('{"Event": "cut short')
    stages = read_event_logs(tmp_path)
    by_id = {st["stage"]: st for st in stages}
    assert by_id[0]["span"] == 7 and by_id[0]["batch"] is None
    assert by_id[0]["run_s"] == 1.5 and abs(by_id[0]["cpu_s"] - 0.2) < 1e-12
    assert by_id[0]["files_read"] == 5  # the driver metric, charged once
    assert by_id[1]["files_read"] == 0 and by_id[1]["output_bytes"] == 10
    assert by_id[2]["batch"] == 12 and by_id[2]["span"] is None
    t = totals(stages, lambda st: st["span"] == 7)
    assert t["jobs"] == 1 and t["tasks"] == 5 and t["shuffle_write_bytes"] == 64


def test_recorder_nesting_and_self_time():
    rec = Recorder(enabled=True)
    with rec.span("outer") as outer:
        with rec.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert 0 <= rec.self_ms(outer) <= outer.ms
    assert rec.named("inner") == [inner]


def test_disabled_recorder_records_nothing():
    rec = Recorder(enabled=False)
    with rec.span("x") as s:
        assert s is None
    assert rec.spans == []
