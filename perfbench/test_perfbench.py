"""Tests of the benchmark's own checks (no Spark session needed).

Run from the repo root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from oracle import compare  # noqa: E402
from run import Bench, tail  # noqa: E402
from workloads import Request, Workload  # noqa: E402

COLS = ["k", "s", "x"]
ROWS = [(1, "a", 0.1), (2, "b", None), (2, "b", None)]


def test_same_rows_in_any_row_and_column_order_pass():
    cols = ["x", "k", "s"]
    rows = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert compare(COLS, ROWS, cols, rows) is None


def test_perturbed_value_is_caught():
    bad = [(1, "a", 0.1 + 1e-12)] + ROWS[1:]
    assert "values differ" in compare(COLS, bad, COLS, ROWS)


def test_changed_multiplicity_is_caught():
    bad = [ROWS[0], ROWS[0], ROWS[1]]
    assert "values differ" in compare(COLS, bad, COLS, ROWS)


def test_missing_row_and_renamed_column_are_caught():
    assert "rowcount" in compare(COLS, ROWS[:2], COLS, ROWS)
    assert "columns" in compare(["k", "s", "y"], ROWS, COLS, ROWS)


class _StubBench(Bench):
    """A bench whose requests return canned rows instead of running Spark."""

    def __init__(self, answers):
        args = SimpleNamespace(trace=0, seed=1, seconds=0.0, workload="stub")
        wl = Workload("stub", sf=0.0, requests=tuple(Request(n) for n in answers))
        super().__init__(args, wl, dirs={}, cores=1)
        self.answers = answers
        self.oracles = {n: (COLS, ROWS) for n in answers}

    def issue(self, req, rid, collect):
        return COLS, self.answers[req.name]


def test_perturbed_result_counts_as_a_failed_request():
    bench = _StubBench({"good": ROWS, "bad": [(1, "a", 0.2)] + ROWS[1:]})
    bench.check_pass()
    assert bench.checks["good"] is None
    assert bench.checks["bad"] is not None
    timed = [{"name": "good", "ok": True}, {"name": "bad", "ok": True},
             {"name": "good", "ok": False}]
    assert [bench.wrong(r) for r in timed] == [False, True, True]


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 61)]  # 60 samples
    value, pct, n = tail(xs)
    assert n == 60 and value == 50.0  # 10 samples (51..60) lie beyond it
    assert abs(pct - 100 * 49 / 59) < 1e-9


def test_tail_of_a_small_sample_keeps_a_quarter_beyond():
    assert tail([float(i) for i in range(1, 17)])[0] == 12.0  # 4 of 16 beyond
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
