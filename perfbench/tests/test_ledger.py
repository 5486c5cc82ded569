"""The ledger schema: span records, self time, and the per-layer sums
read from a Spark event log."""

from __future__ import annotations

import json

import ledger


def _span(name, start, end, parent=None):
    return ledger.Span(name, start, end, parent, "run-1")


def test_span_record_schema(tmp_path):
    t = ledger.Tracer("run-1")
    with t.span("trace.pass"):
        with t.span("extract.stage"):
            pass
    path = tmp_path / "trace.json"
    t.write(str(path))
    rows = json.loads(path.read_text())
    assert [r["name"] for r in rows] == ["extract.stage", "trace.pass"]
    for r in rows:
        assert set(r) == {"name", "start", "end", "parent", "run_id", "self_s"}
        assert r["run_id"] == "run-1" and r["end"] >= r["start"]
    assert rows[0]["parent"] == "trace.pass" and rows[1]["parent"] is None


def test_self_time_subtracts_children_once():
    t = ledger.Tracer("run-1")
    t.spans = [
        _span("trace.pass", 0.0, 10.0),
        _span("extract.stage", 1.0, 4.0, "trace.pass"),
        _span("geotag.stage", 3.0, 6.0, "trace.pass"),  # overlaps the first
        _span("geotag.plan", 8.0, 9.0, "trace.pass"),
    ]
    assert t.self_seconds("trace.pass") == 10.0 - 5.0 - 1.0
    assert t.self_seconds("extract.stage") == 3.0
    assert t.seconds("geotag.stage") == 3.0


def test_span_sets_the_job_description_to_its_layer():
    calls = []

    class _Sc:
        def setJobDescription(self, value):
            calls.append(value)

    class _Spark:
        sparkContext = _Sc()

    t = ledger.Tracer("run-1", _Spark())
    with t.span("trace.pass"):
        with t.span("geotag.candidate_mentions"):
            pass
    assert calls == ["trace", "geotag", "trace", None]


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_eventlog_attributes_tasks_by_job_description(tmp_path):
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
               "Properties": {"spark.job.description": "extract"}}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
               "Properties": {"spark.job.description": "geotag"}}),
        _event("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3],
               "Properties": {"spark.job.description": "trace"}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 500_000_000}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 250}}),
        _event("SparkListenerTaskEnd", **{"Stage ID": 3, "Task Metrics": {
            "Executor Run Time": 9999}}),
    ]
    (tmp_path / "app-1").write_text("\n".join(lines) + "\n")
    got = ledger.eventlog_by_layer(str(tmp_path))
    assert got["extract"] == {"executor_run_s": 2.0, "executor_cpu_s": 1.5,
                              "shuffle_write_bytes": 100, "spill_bytes": 10}
    assert got["geotag"]["executor_run_s"] == 0.25
    assert got["runtime"] == dict.fromkeys(ledger.EVENTLOG_METRICS, 0.0)
