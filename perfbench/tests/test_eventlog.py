"""The event-log parser on a small recorded log: a local[4] app whose
job group pb-1 ran a pandas UDF and a mapInPandas (jobs 0-3), two
ungrouped shuffle jobs (4-5), then group pb-2 on another thread (6-7)."""

import os

import pytest

from perfbench import eventlog
from perfbench.layers import jobs_by_span, layer_metrics
from perfbench.trace import Span

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    return eventlog.parse(LOG)


def test_jobs_and_groups(log):
    groups = {j.job_id: j.group for j in log.jobs.values()}
    assert groups == {0: "pb-1", 1: "pb-1", 2: "pb-1", 3: "pb-1",
                      4: None, 5: None, 6: "pb-2", 7: "pb-2"}
    assert all(j.end_ms >= j.start_ms for j in log.jobs.values())
    assert log.jobs[1].stages == [1, 2]


def test_task_metrics_by_group(log):
    st = log.stats_for_jobs(list(log.jobs.values()))
    assert {g: s.tasks for g, s in st.items()} == {"pb-1": 10, None: 5, "pb-2": 5}
    assert st["pb-1"].python_s == pytest.approx(9.47)
    assert st[None].python_s == 0.0
    assert st["pb-1"].exec_cpu_s == pytest.approx(0.793747102)
    assert st["pb-1"].sched_wait_s == pytest.approx(1.035)
    assert st[None].shuffle_bytes == 3496
    assert st["pb-2"].records_read == 10


def test_window_selects_jobs(log):
    t0 = log.jobs[4].start_ms
    jobs = log.jobs_between(t0, log.jobs[7].start_ms)
    assert [j.job_id for j in jobs] == [4, 5, 6, 7]
    st = log.stats_for_jobs(jobs)
    assert "pb-1" not in st


def test_layer_metrics_charge_jobs_to_span_layers(log):
    t0 = log.jobs[0].start_ms / 1e3 - 0.5
    t1 = log.jobs[7].end_ms / 1e3 + 0.5
    mid = log.jobs[4].start_ms / 1e3
    spans = [
        Span(1, "ml.models", "fit", 1, None, "pb-1", t0 + 0.1, mid - 0.1),
        Span(2, "sources.io", "read", 2, None, "pb-2", log.jobs[6].start_ms / 1e3 - 0.01, t1 - 0.1),
    ]
    m = layer_metrics(spans, log, t0, t1, input_rows=1000, cpus=4)
    assert m["ml.models.jobs"] == 4 and m["sources.io.jobs"] == 2
    assert jobs_by_span(spans, log, t0, t1) == {
        "ml.models:fit": 4, "sources.io:read": 2, "unattributed": 2}
    assert m["ml.models.python_s"] == pytest.approx(9.47)
    total_self = sum(v for k, v in m.items() if k.endswith(".self_s"))
    assert total_self + m["trace.unattributed_s"] == pytest.approx(t1 - t0)
    # ml.models ran jobs 0-3 for most of its span: little driver time
    assert m["ml.models.driver_s"] < m["ml.models.self_s"]
    assert 0.0 < m["spark.unattributed_share"] < 1.0
    assert m["sources.rows_read_per_input_row"] == pytest.approx(3.01)
