"""Tests for the open-loop load generator's schedule and timing."""

from __future__ import annotations

import threading
import time

import pytest

from perfbench.loadgen import run_open_loop, schedule


def test_schedule_spaces_requests_by_rate_and_batch():
    plan = schedule(
        [{"name": "low", "rate": 100, "seconds": 1}, {"name": "high", "rate": 400, "seconds": 0.5}],
        batch=20,
    )
    low = [r for r in plan if r["phase"] == "low"]
    high = [r for r in plan if r["phase"] == "high"]
    assert len(low) == 5 and len(high) == 10
    assert [r["due"] for r in low] == pytest.approx([0.0, 0.2, 0.4, 0.6, 0.8])
    assert high[0]["due"] == pytest.approx(1.0)
    assert high[1]["due"] - high[0]["due"] == pytest.approx(0.05)
    assert [r["i"] for r in plan] == list(range(15))


def test_open_loop_never_sends_early_and_times_from_due():
    plan = [{"i": i, "phase": "p", "due": i * 0.02} for i in range(5)]
    start = time.monotonic() + 0.05
    out = run_open_loop(plan, lambda i: True, threads=2, start=start)
    for r in out:
        assert r["sent"] >= r["due"]
        assert r["due"] == pytest.approx(start + plan[r["i"]]["due"])
        assert r["done"] >= r["sent"] and r["ok"]


def test_stalled_send_counts_against_requests_queued_behind_it():
    """With one connection, a 300 ms stall on request 1 delays 2..4.
    Timed from the due time, their latency includes that wait; timed
    from the send time it would not."""
    stall = 0.3
    plan = [{"i": i, "phase": "p", "due": i * 0.02} for i in range(5)]

    def send(i: int) -> bool:
        if i == 1:
            time.sleep(stall)
        return True

    out = run_open_loop(plan, send, threads=1, start=time.monotonic() + 0.05)
    stalled_end = out[1]["done"]
    for r in out[2:]:
        assert r["late"] >= stalled_end - r["due"] - 1e-3
        assert r["done"] - r["due"] >= stall - 0.02 * r["i"]
        assert r["done"] - r["sent"] < stall / 2  # the send itself was quick


def test_failed_or_raising_send_is_a_failed_op():
    plan = [{"i": i, "phase": "p", "due": 0.0} for i in range(3)]

    def send(i: int) -> bool:
        if i == 2:
            raise ConnectionError("refused")
        return i == 0

    out = run_open_loop(plan, send, threads=3, start=time.monotonic())
    assert [r["ok"] for r in out] == [True, False, False]


def test_threads_bound_concurrency():
    active, peak, lock = 0, 0, threading.Lock()

    def send(i: int) -> bool:
        nonlocal active, peak
        with lock:
            active += 1
            peak = max(peak, active)
        time.sleep(0.02)
        with lock:
            active -= 1
        return True

    plan = [{"i": i, "phase": "p", "due": 0.0} for i in range(12)]
    run_open_loop(plan, send, threads=4, start=time.monotonic())
    assert peak <= 4
