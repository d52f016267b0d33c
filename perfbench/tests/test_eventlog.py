import os

import pytest

from perfbench.trace import Span, attribute, layer_work, read_event_log, task_skew

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")

# op1/0 spans 1000.0-1002.0 s and holds op1/1 (1001.0-1002.0 s); the log's
# job 0 names op1/0 as its group, job 1 carries a streaming run id and was
# submitted at 1001.5 s, job 2 at 1009.0 s, outside every span
SPANS = [
    Span("sink.drain", "op1", "op1/0", None, 1000.0, 1002.0),
    Span("lakehouse.append", "op1", "op1/1", "op1/0", 1001.0, 1002.0),
]


def test_read_event_log_fields():
    jobs, stage_job, tasks = read_event_log(LOG)
    assert [j["job"] for j in jobs] == [0, 1, 2]
    assert jobs[0]["group"] == "op1/0" and jobs[2]["group"] is None
    assert jobs[1]["submit_ms"] == 1001500
    # stage 1 ran in job 0; job 1 lists it again only to skip it
    assert stage_job == {0: 0, 1: 0, 2: 1, 3: 2}
    assert len(tasks) == 6
    assert tasks[0] == {"stage": 0, "run_ms": 10, "shuffle_write": 300, "spill": 1000}


def test_read_event_log_directory(tmp_path):
    # rolled logs: events_<n>_<app> files, read in roll order
    lines = open(LOG).read().splitlines(keepends=True)
    (tmp_path / "events_2_app").write_text("".join(lines[6:]))
    (tmp_path / "events_1_app").write_text("".join(lines[:6]))
    (tmp_path / "appstatus_app").write_text("")
    assert read_event_log(str(tmp_path)) == read_event_log(LOG)


def test_attribute_by_group_then_by_time():
    work = attribute(*read_event_log(LOG), SPANS)
    assert set(work) == {"op1/0", "op1/1"}
    outer, inner = work["op1/0"], work["op1/1"]
    assert outer.jobs == 1 and inner.jobs == 1
    assert outer.shuffle_write_bytes == 600
    assert outer.spill_bytes == 1000
    assert outer.task_ms == {0: [10, 30, 20], 1: [5]}
    # the run-id job went to the innermost span open at 1001.5 s
    assert inner.shuffle_write_bytes == 50 and inner.task_ms == {2: [8]}


def test_task_skew():
    assert task_skew([[10, 30, 20], [5]]) == pytest.approx(1.5)
    assert task_skew([[4, 4], [1, 3, 9]]) == pytest.approx(2.0)
    assert task_skew([[7]]) == 0.0
    assert task_skew([[0, 0]]) == 0.0  # sub-millisecond tasks: no division by 0


def test_layer_work_counts_each_layer_on_the_chain_once():
    spans = SPANS + [Span("sink.drain", "op0", "op0/2", None, 900.0, 901.0)]
    work = attribute(*read_event_log(LOG), spans)
    out = layer_work(spans, work, ["op1"], ["sink", "lakehouse", "dedup"])
    # both op1 jobs ran under sink.drain; only the inner one under lakehouse
    assert out["sink.jobs"] == 2 and out["lakehouse.jobs"] == 1
    assert out["sink.shuffle_write_mb"] == pytest.approx(650 / 2**20)
    assert out["lakehouse.shuffle_write_mb"] == pytest.approx(50 / 2**20)
    assert out["sink.spill_mb"] == pytest.approx(1000 / 2**20)
    assert out["sink.task_skew"] == pytest.approx(1.5)
    assert out["dedup.jobs"] == 0 and out["dedup.task_skew"] == 0.0
    # operations outside the measured set are left out
    assert layer_work(spans, work, ["op0"], ["sink"])["sink.jobs"] == 0
