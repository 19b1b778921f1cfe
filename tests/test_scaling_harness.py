"""The pinned-core scaling harness's own logic (BENCH/run_scaling.py):
levels drawn from an affinity set, refusal of a mis-pinned or inconsistent
child result, and the efficiency arithmetic. Launches no JVM."""

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "run_scaling",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "BENCH", "run_scaling.py"))
RS = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(RS)


def test_levels_from_affinity():
    assert RS.levels({0, 1, 2, 3}) == ([0], [0, 1, 2, 3])
    lo, hi = RS.levels(set(range(8)))
    assert (lo, hi) == ([0, 1], list(range(8)))
    # the first N and 4N CPUs of the set, whichever they are
    assert RS.levels({9, 3, 5, 7, 11}) == ([3], [3, 5, 7, 9])
    with pytest.raises(ValueError):
        RS.levels({0, 1})


def _child(affinity, checksum):
    return {"workload": "graph", "size": 100, "affinity": affinity,
            "jobs": {"clustering": {"best": 1.0, "runs": [1.0, 1.1, 1.2],
                                    "floor_best": 0.5, "floor_runs": [0.5, 0.6, 0.7],
                                    "checksum": checksum}}}


def test_check_refuses_wrong_affinity_and_checksums():
    ok = {"nodes": 10, "coeff_sum": 1.5}
    RS.check(_child(1, ok), _child(4, dict(ok)), [0], [0, 1, 2, 3])
    with pytest.raises(RuntimeError, match="2 CPUs"):
        RS.check(_child(1, ok), _child(2, ok), [0], [0, 1, 2, 3])
    with pytest.raises(RuntimeError, match="4 CPUs"):
        RS.check(_child(4, ok), _child(4, ok), [0], [0, 1, 2, 3])
    with pytest.raises(RuntimeError, match="checksum"):
        RS.check(_child(1, ok), _child(4, {**ok, "coeff_sum": 1.6}), [0], [0, 1, 2, 3])


def test_efficiency_arithmetic():
    assert RS.efficiency(8.0, 2.0) == 1.0
    assert RS.efficiency(12.18, 4.10) == 0.743
    assert RS.efficiency(33.6, 10.35) == 0.812
    lo, hi = _child(1, {}), _child(4, {})
    hi["jobs"]["clustering"].update(best=0.5, floor_best=0.25)
    assert RS.summarize(lo, hi) == {
        "clustering": {"efficiency": 0.5, "floor_efficiency": 0.5}}
