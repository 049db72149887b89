"""The shared benchmark leg protocol (workload/common.py): rotated
min-of-N and the per-leg config/conf restore. No Spark needed — a fake
session records the conf and cache calls."""

import pytest

from duckdb_robust_predicate_transfer_spark.config import RPTConfig
from duckdb_robust_predicate_transfer_spark.workload import common
from duckdb_robust_predicate_transfer_spark.workload.common import (
    _RF_APP_GATE, _RF_CREATE_GATE, _RF_ENABLED, rotated_min, timed_leg)


def test_rotated_min_rotation_order_and_minima():
    legs = ("off", "rpt", "native")
    items = ("q1", "q2")
    calls = []
    secs = {}  # (run, item, leg) -> the scrambled seconds it returned

    def time_leg(item, leg):
        run = len(calls) // (len(items) * len(legs))
        calls.append((run, item, leg))
        secs[run, item, leg] = float(len(calls) * 7 % 11)
        return secs[run, item, leg]

    ran = []
    best = rotated_min(len(legs), items, legs, time_leg,
                       lambda r, b: ran.append((r, len(calls))))

    assert ran == [(r, (r + 1) * len(items) * len(legs))
                   for r in range(len(legs))]

    # run -> item -> leg nesting, every leg once per (run, item)
    assert [(r, i) for r, i, _ in calls] == [
        (r, i) for r in range(len(legs)) for i in items for _ in legs]
    # every leg takes every position exactly once over len(legs) runs
    for k, item in enumerate(items):
        orders = [[leg for r2, i, leg in calls if r2 == r and i == item]
                  for r in range(len(legs))]
        # item k starts run 0 at leg k, so one run already rotates
        assert orders[0] == list(legs[k:] + legs[:k])
        for pos in range(len(legs)):
            assert sorted(o[pos] for o in orders) == sorted(legs)
    # per-leg minima
    assert best == {item: {leg: min(secs[r, item, leg]
                                    for r in range(len(legs)))
                           for leg in legs} for item in items}


class _Conf:
    def __init__(self, log):
        self.log = log

    def set(self, key, value):
        self.log.append(("set", key, value))

    def unset(self, key):
        self.log.append(("unset", key))


class _Catalog:
    def __init__(self, log):
        self.log = log

    def clearCache(self):
        self.log.append(("clearCache",))


class _FakeSpark:
    def __init__(self):
        self.log = []
        self.conf = _Conf(self.log)
        self.catalog = _Catalog(self.log)


def test_timed_leg_restores_on_exception(monkeypatch):
    monkeypatch.setattr(common, "_CONFIG_OVERRIDE", None)
    spark = _FakeSpark()
    cfg = RPTConfig(enabled=False)
    during = []

    def run():
        during.append(common._CONFIG_OVERRIDE)
        raise RuntimeError("leg failed")

    with pytest.raises(RuntimeError):
        timed_leg(spark, run, cfg, native_rf=True)

    assert during == [cfg]
    assert common._CONFIG_OVERRIDE is None
    restore = spark.log[3:]  # after the three native-rf sets
    assert spark.log[:3] == [("set", _RF_ENABLED, "true"),
                             ("set", _RF_APP_GATE, "64MB"),
                             ("set", _RF_CREATE_GATE, "1GB")]
    assert restore == [("set", _RF_ENABLED, "false"),
                       ("unset", _RF_APP_GATE),
                       ("unset", _RF_CREATE_GATE),
                       ("clearCache",)]


def test_timed_leg_returns_seconds():
    spark = _FakeSpark()
    assert timed_leg(spark, lambda: None) >= 0.0
    assert spark.log[-1] == ("clearCache",)
    assert common._CONFIG_OVERRIDE is None


def _paired_bench():
    """tools/paired_bench.py, loaded as a module."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "paired_bench.py")
    spec = importlib.util.spec_from_file_location("_paired_bench", path)
    pb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pb)
    return pb


def test_paired_bench_refuses_trees_placed_apart(tmp_path):
    """tools/paired_bench.py compares only trees placed alike: a
    checkout against a bare copy is refused, two bare copies pass."""
    pb = _paired_bench()
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert pb.placement_mismatch(str(a), str(b)) == []
    (a / ".git").mkdir()
    (b / ".bench_build").mkdir()
    assert pb.placement_mismatch(str(a), str(b)) == [".git", ".bench_build"]
    (b / ".git").mkdir()
    assert pb.placement_mismatch(str(a), str(b)) == [".bench_build"]


def test_paired_bench_perfbench_summary():
    """tools/paired_bench.py --perfbench: seeds parse as an inclusive
    range, and each end-to-end metric reports both sides' medians and
    quartiles and the pairs each side won in its own direction, a tie
    counting for neither."""
    pb = _paired_bench()
    assert pb.parse_seeds("41-45") == [41, 42, 43, 44, 45]
    assert pb.parse_seeds("7") == [7]

    def run(pass_s, rate, correct=True):
        return {"correct": correct, "failed": 0 if correct else 1,
                "metrics": {"pass_s": {"value": pass_s},
                            "rate": {"value": rate}}}

    results = {"a": [run(5.0, 1), run(4.0, 2), run(6.0, 3), run(3.0, 4)],
               "b": [run(3.0, 2), run(4.0, 2), run(2.0, 1),
                     run(1.0, 5, correct=False)]}
    s = pb.perfbench_summary(results, [
        {"name": "pass_s", "better": "lower"},
        {"name": "rate", "better": "higher"}])
    assert (s["correct_a"], s["correct_b"], s["failed_b"]) == (4, 3, 1)
    assert s["pass_s"]["a"]["median"] == 4.5
    assert (s["pass_s"]["a"]["q1"], s["pass_s"]["a"]["q3"]) == (3.75, 5.25)
    assert s["pass_s"]["a_iqr"] == 1.5
    assert s["pass_s"]["median_b_minus_a"] == -2.0
    assert (s["pass_s"]["wins_a"], s["pass_s"]["wins_b"]) == (0, 3)
    assert (s["rate"]["wins_a"], s["rate"]["wins_b"]) == (1, 2)
