"""Tests for the benchmark's measurement arithmetic.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.stats import Tracer, p50, parse_event_log, self_times, tail

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_p50_odd_and_even():
    assert p50([3, 1, 2]) == 2
    assert p50([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        p50([])


@pytest.mark.parametrize(
    ("n", "index", "percentile"),
    [
        (21, 10, 100 * 11 / 21),  # first size where the tail is above the median
        (100, 89, 90.0),
        (200, 189, 95.0),
        (1000, 989, 99.0),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, index, percentile):
    xs = list(range(n))[::-1]  # order must not matter
    value, pct = tail(xs)
    assert value == index
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(percentile)


@pytest.mark.parametrize("n", [1, 11, 20])
def test_tail_of_small_samples_is_the_slowest(n):
    xs = [float(i) for i in range(n)]
    assert tail(xs) == (n - 1, 100.0)


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "start": start, "end": end, "parent": parent, "req": None}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),  # overlaps span 2: counted once
        _span(4, 8.0, 12.0, parent=1),  # runs past its parent: clipped at 10
        _span(5, 2.5, 2.75, parent=3),  # a grandchild only reduces its own parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 2))
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 0.25)
    assert st[4] == pytest.approx(4.0)
    assert st[5] == pytest.approx(0.25)


def test_self_time_never_negative_with_child_outside_parent():
    spans = [_span(1, 0.0, 1.0), _span(2, 2.0, 3.0, parent=1)]
    assert self_times(spans)[1] == pytest.approx(1.0)


def test_tracer_nests_on_one_thread_and_records_nothing_when_off():
    tr = Tracer(True)
    with tr.span("outer", req=7):
        with tr.span("inner", req=7):
            pass
    inner, outer = tr.spans
    assert (inner["name"], outer["name"]) == ("inner", "outer")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = Tracer(False)
    with off.span("x"):
        pass
    off.add("y", 0.0, 1.0)
    assert off.spans == []


def _fixture_lines() -> list[str]:
    with open(os.path.join(DATA, "eventlog_tiny.jsonl"), encoding="utf-8") as fh:
        return fh.readlines()


def test_event_log_parser_on_recorded_fixture():
    lines = _fixture_lines()
    with open(os.path.join(DATA, "eventlog_tiny.expected.json"), encoding="utf-8") as fh:
        expected = json.load(fh)
    groups = parse_event_log(lines)
    assert sorted(groups) == sorted(expected)
    for name, want in expected.items():
        got = groups[name]
        for key, value in want.items():
            assert got[key] == pytest.approx(value), (name, key)


def test_event_log_parser_skips_jobs_before_cutoff():
    lines = _fixture_lines()
    starts = sorted(
        json.loads(x)["Submission Time"] for x in lines if '"SparkListenerJobStart"' in x
    )
    groups = parse_event_log(lines, since_ms=starts[-1])
    assert sum(g["jobs"] for g in groups.values()) == 1
    assert sum(g["tasks"] for g in groups.values()) >= 1
    assert parse_event_log(lines, since_ms=starts[-1] + 1) == {}
