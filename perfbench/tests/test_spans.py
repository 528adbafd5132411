"""Self-time arithmetic with nested and concurrent spans, and the
tracer's job-group and thread-pool bookkeeping."""

import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.trace import Span, Tracer, self_times


def sp(sid, layer, t0, t1, parent=None, group=None, thread=1):
    return Span(sid, layer, f"s{sid}", thread, parent, group or f"g{sid}", t0, t1)


def test_nested_spans_give_parent_only_uncovered_time():
    spans = [sp(1, "plans", 0.0, 10.0), sp(2, "ml.models", 2.0, 5.0, parent=1),
             sp(3, "ml.metrics", 6.0, 7.0, parent=1)]
    r = self_times(spans, 0.0, 12.0)
    assert r["self"] == pytest.approx({"plans": 6.0, "ml.models": 3.0, "ml.metrics": 1.0})
    assert r["unattributed"] == pytest.approx(2.0)


def test_concurrent_spans_split_time_and_never_double_count():
    # a driver span fans out to two pool threads overlapping on [2, 4]
    spans = [sp(1, "plans", 0.0, 6.0),
             sp(2, "ml.models", 1.0, 4.0, parent=1, thread=2),
             sp(3, "operators.sampling", 2.0, 5.0, parent=1, thread=3)]
    r = self_times(spans, 0.0, 6.0)
    assert r["self"]["plans"] == pytest.approx(1.0 + 1.0)
    assert r["self"]["ml.models"] == pytest.approx(1.0 + 1.0)
    assert r["self"]["operators.sampling"] == pytest.approx(1.0 + 1.0)
    assert sum(r["self"].values()) + r["unattributed"] == pytest.approx(6.0)


def test_window_clips_spans():
    spans = [sp(1, "plans", 0.0, 10.0), sp(2, "ml.models", 8.0, 12.0, parent=1)]
    r = self_times(spans, 5.0, 9.0)
    assert r["self"] == pytest.approx({"plans": 3.0, "ml.models": 1.0})


def test_driver_time_excludes_own_running_jobs_only():
    spans = [sp(1, "plans", 0.0, 10.0, group="a"),
             sp(2, "ml.models", 4.0, 8.0, parent=1, group="b")]
    jobs = [(1.0, 3.0, "a"), (5.0, 6.0, "b"), (6.5, 9.0, "a")]
    r = self_times(spans, 0.0, 10.0, jobs)
    # plans: self on [0,4] + [8,10] = 6, its job runs on [1,3] and [8,9]
    assert r["driver"]["plans"] == pytest.approx(6.0 - 2.0 - 1.0)
    # ml.models: self on [4,8], its own job on [5,6]; group a's job
    # on [6.5,8] is not its own
    assert r["driver"]["ml.models"] == pytest.approx(3.0)


class Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_tracer_sets_group_only_when_layer_changes():
    calls = []
    tr = Tracer(set_group=calls.append, clock=Clock())
    with tr.span("plans", "outer") as outer:
        with tr.span("plans", "inner") as inner:
            with tr.span("ml.models", "fit") as fit:
                pass
    assert inner.group == outer.group and inner.parent == outer.sid
    assert fit.group != outer.group
    assert calls == [outer.group, fit.group, outer.group, None]


def test_wrap_and_pool_hook_attribute_worker_threads():
    tr = Tracer(clock=Clock())

    def work(x):
        return x * 2

    traced = tr.wrap("ml.models", work)
    assert traced.__name__ == "work" and traced.__wrapped__ is work
    tr._hook_pools()
    try:
        with tr.span("plans", "fan_out") as root:
            with ThreadPoolExecutor(max_workers=2) as ex:
                assert list(ex.map(traced, [1, 2, 3])) == [2, 4, 6]
    finally:
        tr.uninstall()
    tasks = [s for s in tr.spans if s.name == "fan_out/task"]
    fits = [s for s in tr.spans if s.layer == "ml.models"]
    assert len(tasks) == 3 and all(t.parent == root.sid and t.layer == "plans" for t in tasks)
    assert {f.parent for f in fits} <= {t.sid for t in tasks}
    assert all(t.thread != threading.get_ident() for t in tasks)
    assert ThreadPoolExecutor.submit.__qualname__ == "ThreadPoolExecutor.submit"


def test_install_rebinds_from_imports_and_uninstall_restores():
    import importlib

    from perfbench.trace import PACKAGE

    io = importlib.import_module(f"{PACKAGE}.sources.io")
    fp = importlib.import_module(f"{PACKAGE}.plans.full_pipeline")
    table = importlib.import_module(f"{PACKAGE}.sources.table")
    orig_read, orig_create = io.read_table, table.SnapshotTable.create
    assert fp.read_table is orig_read  # bound by `from ..sources.io import`
    tr = Tracer()
    assert tr.install() > 100
    try:
        assert fp.read_table is io.read_table is not orig_read
        assert fp.read_table.__wrapped__ is orig_read
        assert table.SnapshotTable.create is not orig_create
    finally:
        tr.uninstall()
    assert fp.read_table is orig_read and io.read_table is orig_read
    assert table.SnapshotTable.create is orig_create
