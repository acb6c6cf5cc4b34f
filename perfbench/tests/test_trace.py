import json
import os

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def test_recorded_event_log():
    # Recorded from a local[2] session: group g-one ran a pandas UDF into a
    # 3-partition shuffle (two jobs; the map stage of the second job was
    # skipped), group g-two scanned 10 rows in 4 partitions.
    jobs = trace.parse_event_log(LOG)["jobs"]
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[j]["group"] for j in (0, 1, 2)] == ["g-one", "g-one", "g-two"]
    assert [jobs[j]["stages"] for j in (0, 1, 2)] == [{0}, {2}, {3}]
    assert [jobs[j]["tasks"] for j in (0, 1, 2)] == [2, 1, 4]
    assert jobs[0]["python_bytes"] == 2192 and jobs[1]["python_bytes"] == 0
    assert jobs[0]["shuffle_write_bytes"] == 414 == jobs[1]["shuffle_read_bytes"]
    assert jobs[0]["records_read"] == 100 and jobs[2]["records_read"] == 10
    assert all(j["failed_tasks"] == 0 and j["empty_tasks"] == 0 for j in jobs.values())
    assert jobs[0]["start"] == 1792196715.935 and jobs[0]["end"] == 1792196721.677


def test_failed_and_empty_tasks(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Submission Time": 1000,
         "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "pb-4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Info": {}, "Task Metrics": {"Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
                                           "Input Metrics": {"Records Read": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task End Reason": {"Reason": "Success"},
         "Task Info": {}, "Task Metrics": {"Input Metrics": {"Records Read": 3}}},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    job = trace.parse_event_log(str(path))["jobs"][7]
    assert (job["tasks"], job["failed_tasks"], job["empty_tasks"], job["spill_bytes"]) == (2, 1, 1, 12)
    assert job["end"] == job["start"] == 1.0  # no JobEnd: zero-length


def _span(i, layer, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "layer": layer, "start": start, "end": end, "parent": parent}


def test_self_times_subtract_children_once():
    spans = [
        _span(0, "bench", 0.0, 10.0),
        _span(1, "entry", 1.0, 5.0, 0),
        _span(2, "spark", 2.0, 4.0, 1),
        _span(3, "spark", 3.0, 4.5, 1),   # overlaps span 2
        _span(4, "spark", 6.0, 12.0, 0),  # runs past its parent
    ]
    got = trace.self_times(spans)
    assert got["bench"] == 10.0 - 4.0 - 4.0
    assert got["entry"] == 4.0 - 2.5
    assert got["spark"] == 2.0 + 1.5 + 6.0


def test_job_spans_follow_groups_then_time():
    spans = [_span(0, "bench", 0.0, 10.0), _span(1, "streaming", 2.0, 5.0, 0)]
    jobs = {
        1: {"group": "pb-0", "start": 1.0, "end": 2.0},
        2: {"group": "run-abc", "start": 3.0, "end": 4.0},
        3: {"group": None, "start": 4.5, "end": 4.8},
        4: {"group": None, "start": 20.0, "end": 21.0},
    }
    got = {s["job"]: s["parent"] for s in trace.job_spans(spans, jobs, {"run-abc": 1})}
    assert got == {1: 0, 2: 1, 3: 1}
    assert trace.descendants(spans + trace.job_spans(spans, jobs, {"run-abc": 1}), 0) == {1, 2, 3, 4}
