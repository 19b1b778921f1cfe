"""Fast tests for the benchmark's span arithmetic and event-log parsing.

    python3 -m pytest perfbench -q

No Spark session: spans run on a fake clock, and the event log is a small
trimmed recording (``testdata/record_eventlog.py`` re-records it).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as S  # noqa: E402


class FakeClock:
    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


class FakeContext:
    """Records the job group a Spark job submitted now would carry."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


def _job(group, start, end, stages=()):
    return {"group": group, "start": start, "end": end, "stages": list(stages)}


def test_nested_self_time_and_tags():
    clock, sc = FakeClock(), FakeContext()
    tr = S.Tracer(sc=sc, clock=clock)
    seen = []
    with tr.span("outer"):
        clock.advance(1.0)
        seen.append(sc.group)
        with tr.span("inner"):
            seen.append(sc.group)
            assert tr.inside("outer") and tr.inside("inner")
            clock.advance(2.0)
        assert not tr.inside("inner")
        seen.append(sc.group)              # the outer group is restored
        with tr.span(None):                # an unnamed call stays in outer
            clock.advance(0.5)
        with tr.span("inner"):
            clock.advance(3.0)
    assert sc.group is None
    by = {sp.group: sp for sp in tr.spans}
    outer = next(sp for sp in tr.spans if sp.layer == "outer")
    assert seen == [outer.group, by["perfbench-1"].group, outer.group]
    assert outer.wall_s == pytest.approx(6.5)
    assert outer.self_s == pytest.approx(1.5)
    stats = S.layer_stats(tr.spans, None)
    assert stats["inner"]["self_s"] == pytest.approx(5.0)
    assert stats["outer"]["self_s"] == pytest.approx(1.5)
    assert sum(st["self_s"] for st in stats.values()) == pytest.approx(outer.wall_s)


def test_disabled_tracer_records_nothing():
    tr = S.Tracer(sc=FakeContext(), enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_wrap_names_each_call():
    tr = S.Tracer(clock=FakeClock())

    class Store:
        def write(self, table):
            return table.upper()

    tr.wrap(Store, "write", lambda self, table: {"a": "layer_a"}.get(table))
    assert Store().write("a") == "A" and Store().write("b") == "B"
    assert [sp.layer for sp in tr.spans] == ["layer_a"]


def test_union_length():
    assert S.union_length([]) == 0
    assert S.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert S.union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_driver_time_is_self_time_outside_own_jobs():
    parent = S.Span("p", "g0", start=0.0, end=10.0, child_s=4.0)   # self 6 s
    child = S.Span("c", "g1", start=2.0, end=6.0, parent="g0")
    log = S.EventLog(jobs={
        0: _job("g0", 0.5, 1.5),
        1: _job("g0", 1.0, 2.0),        # overlaps job 0: covered 0.5-2.0
        2: _job("g1", 2.5, 5.5),        # the child's job never covers the parent
        3: _job("g0", 7.0, 8.0),
    })
    stats = S.layer_stats([parent, child], log)
    assert stats["p"]["jobs"] == 3
    assert stats["p"]["driver_s"] == pytest.approx(6.0 - 2.5)
    assert stats["c"]["driver_s"] == pytest.approx(4.0 - 3.0)
    whole = S.subtree_stats([parent, child], log, [parent])
    assert whole["wall_s"] == pytest.approx(10.0)
    assert whole["jobs"] == 4
    assert whole["driver_s"] == pytest.approx(10.0 - 5.5)


def test_driver_time_sums_per_span_within_a_layer():
    # two spans of one layer; a job of the first must not cover the second
    a = S.Span("l", "g0", start=0.0, end=2.0)
    b = S.Span("l", "g1", start=5.0, end=7.0)
    log = S.EventLog(jobs={0: _job("g0", 0.0, 2.0)})
    assert S.layer_stats([a, b], log)["l"]["driver_s"] == pytest.approx(2.0)


def test_task_ratios():
    sp = S.Span("l", "g0", start=0.0, end=1.0)
    log = S.EventLog(jobs={0: _job("g0", 0.0, 1.0, [7, 8])}, stages={7: 0, 8: 0},
                     ran_stages={7, 8})
    for stage, run_ms, rows in ((7, 10, 0), (7, 10, 5), (7, 40, 5), (8, 1, 0)):
        log.tasks.append({"stage": stage, "run_ms": run_ms, "cpu_ns": 0,
                          "shuffle_bytes": 0, "spill_bytes": 0, "rows_read": rows,
                          "python_bytes": 0})
    st = S.layer_stats([sp], log)["l"]
    assert st["stages"] == 2
    assert st["tasks_empty_ratio"] == pytest.approx(0.5)
    assert st["task_max_over_p50"] == pytest.approx(4.0)   # stage 7: 40 / 10


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl")) as f:
        log = S.parse_event_log(f)
    with open(os.path.join(HERE, "testdata", "spans.json")) as f:
        spans = [S.Span(**d) for d in json.load(f)]
    return log, spans


def test_recorded_log_attributes_every_job(recorded):
    log, spans = recorded
    assert log.jobs and S.unattributed_jobs(log, spans) == 0
    assert all(j["end"] is not None for j in log.jobs.values())


def test_recorded_log_layer_stats(recorded):
    log, spans = recorded
    st = S.layer_stats(spans, log)
    write, count = st["write"], st["count"]
    assert write["files_written"] == 1 and count["files_written"] == 0
    assert write["python_bytes"] > 0 and count["python_bytes"] == 0
    assert write["shuffle_bytes"] > 0 and write["task_cpu_s"] > 0
    assert write["jobs"] >= 1 and count["jobs"] >= 1
    for s in (write, count):
        assert 0 <= s["driver_s"] <= s["self_s"]
        assert 0 <= s["tasks_empty_ratio"] <= 1
    root = [sp for sp in spans if sp.parent is None]
    whole = S.subtree_stats(spans, log, root)
    assert whole["jobs"] == len(log.jobs)
    assert whole["wall_s"] == pytest.approx(write["self_s"] + count["self_s"])
