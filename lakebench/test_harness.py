"""Self-tests of the benchmark's measurement code (no Spark needed).

    python3 -m pytest lakebench -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from harness import (  # noqa: E402
    Op,
    Tracer,
    covered,
    drift,
    rows_digest,
    run_loop,
    self_times,
    tail,
)


def _checked_op(rows, expected_digest):
    def check(out):
        if rows_digest(["a", "b"], out) != expected_digest:
            raise ValueError("rows differ")
    return Op("query", lambda: rows, check)


def test_corrupted_expected_hash_raises_fail_ratio():
    rows = [(1, "x"), (2, "y")]
    good = rows_digest(["a", "b"], rows)
    bad = good[:-1] + ("0" if good[-1] != "0" else "1")

    def rounds(digest):
        while True:
            yield [_checked_op(rows, digest)] * 3

    ok = run_loop(rounds(good), 0.0, Tracer(False))
    assert (ok.attempted, ok.failed) == (3, 0)
    broken = run_loop(rounds(bad), 0.0, Tracer(False))
    assert (broken.attempted, broken.failed) == (3, 3)
    assert broken.failed / broken.attempted == 1.0
    assert all("wrong answer" in f for f in broken.failures)


def test_raising_operation_counts_as_failure_and_run_goes_on():
    def boom():
        raise RuntimeError("statement rejected")

    res = run_loop(iter([[Op("bad", boom), Op("good", lambda: 1)]]), 0.0, Tracer(False))
    assert (res.attempted, res.failed, res.completed) == (2, 1, 1)
    assert "statement rejected" in res.failures[0]
    res.add_check("final:t", "differs")
    assert (res.attempted, res.failed) == (3, 2)


def test_loop_runs_whole_rounds_until_seconds():
    def rounds():
        while True:
            yield [Op("a", lambda: time.sleep(0.01)), Op("b", lambda: None)]

    res = run_loop(rounds(), 0.025, Tracer(False))
    assert res.attempted % 2 == 0 and res.attempted >= 4
    assert res.timed_s >= 0.025


@pytest.mark.parametrize(
    "n, value, pct",
    [
        (30, 20, 100 * 20 / 30),  # 10 samples (21..30) sit above the 20th
        (100, 90, 90.0),
        (11, 1, 100 / 11),
        (10, 5.5, 50.0),  # no percentile leaves 10 above: the median stands in
    ],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, value, pct):
    samples = list(range(1, n + 1))
    got_value, got_pct, got_n = tail(samples[::-1])
    assert got_value == value
    assert got_pct == pytest.approx(pct)
    assert got_n == n
    assert sum(s > got_value for s in samples) >= 10 or n <= 10


def test_spans_nest_and_self_times_are_non_negative():
    tr = Tracer(True)
    tr.op = 7
    with tr.span("outer"):
        time.sleep(0.01)
        with tr.span("inner"):
            time.sleep(0.02)
            with tr.span("leaf"):
                time.sleep(0.005)
        with tr.span("inner"):
            pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    outer = by_name["outer"][0]
    assert outer.parent is None
    assert all(s.parent == outer.id for s in by_name["inner"])
    assert by_name["leaf"][0].parent == by_name["inner"][0].id
    assert all(s.op == 7 for s in tr.spans)
    for s in tr.spans:
        if s.parent is not None:
            parent = next(p for p in tr.spans if p.id == s.parent)
            assert parent.start <= s.start <= s.end <= parent.end
    selfs = self_times(tr.spans)
    assert all(v >= 0 for vs in selfs.values() for v in vs)
    inner_total = sum(s.duration for s in by_name["inner"])
    assert selfs["outer"][0] == pytest.approx(outer.duration - inner_total, abs=1e-6)
    assert selfs["outer"][0] >= 0.009


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


def test_covered_merges_overlapping_intervals():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 20)], 5, 10) == 5
    assert covered([], 0, 1) == 0


def test_rows_digest_is_order_insensitive_and_canonical():
    a = rows_digest(["x", "y"], [(1, 2.5), (3, None)])
    assert a == rows_digest(["y", "x"], [(None, 3), (2.5, 1)])
    assert a == rows_digest(["x", "y"], [(3.0, None), (1.0, 2.5000000000001)])
    assert a != rows_digest(["x", "y"], [(1, 2.5)])
    t = dt.datetime(2024, 1, 2, 3, 4, 5)
    assert rows_digest(["t"], [(t,)]) == rows_digest(["t"], [(t.isoformat(),)])


def test_drift_buckets_by_loop_position():
    from harness import Sample

    samples = [Sample(i, "a" if i % 2 else "b", float(i), True) for i in range(8)]
    d = drift(samples)
    assert d["b"] == [0.0, 2.0, 4.0, 6.0]
    assert d["a"] == [1.0, 3.0, 5.0, 7.0]


def test_generation_is_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        datagen.generate(str(tmp_path / d), 3, 0.001, only=["orders", "documents"])
    datagen.generate(str(tmp_path / "c"), 4, 0.001, only=["orders", "documents"])
    assert datagen.digest(str(tmp_path / "a")) == datagen.digest(str(tmp_path / "b"))
    assert datagen.digest(str(tmp_path / "a")) != datagen.digest(str(tmp_path / "c"))
