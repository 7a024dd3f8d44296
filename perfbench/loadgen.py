"""Open-loop load generator for the ingest gateway.

Runs as its own process (``python3 perfbench/loadgen.py <spec.json>``) so
the gateway under test cannot slow the schedule.  Requests go out on a
fixed schedule, one phase per offered rate; each request is a JSON array
of events POSTed with an HS256 bearer token.  Every event's ``ts`` is its
creation time at the generator.  A request's latency is timed from when
it was *due*, so a stall also counts against every request queued behind
it.  Results are written as one JSON file for the benchmark to read.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import random
import sys
import threading
import time
from collections.abc import Callable


def schedule(phases: list[dict], batch: int) -> list[dict]:
    """One entry per request: ``{"i", "phase", "due"}`` with ``due`` in
    seconds from the start of the first phase.  A phase is
    ``{"name", "rate" (events/s), "seconds"}``; requests carry ``batch``
    events each, so a phase sends ``rate / batch`` requests per second."""
    out, t0 = [], 0.0
    for ph in phases:
        gap = batch / ph["rate"]
        n = int(round(ph["seconds"] / gap))
        out += [{"i": len(out) + k, "phase": ph["name"], "due": t0 + k * gap} for k in range(n)]
        t0 += ph["seconds"]
    return out


def run_open_loop(plan: list[dict], send: Callable[[int], bool], threads: int, start: float) -> list[dict]:
    """Send ``plan`` on schedule from ``threads`` workers.  Request ``i``
    is due at ``start + plan[i]["due"]``; a worker takes the next request
    in order, sleeps until it is due (never after), and calls
    ``send(i)``.  Returns per request ``due``, ``sent``, ``done``
    (``time.monotonic()`` values), ``late`` (sent − due) and ``ok``."""
    results: list[dict | None] = [None] * len(plan)
    lock = threading.Lock()
    nxt = iter(range(len(plan)))

    def worker() -> None:
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            due = start + plan[i]["due"]
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            sent = time.monotonic()
            try:
                ok = bool(send(i))
            except Exception:  # noqa: BLE001 - a failed send is a failed op
                ok = False
            results[i] = {
                "i": i,
                "phase": plan[i]["phase"],
                "due": due,
                "sent": sent,
                "done": time.monotonic(),
                "late": sent - due,
                "ok": ok,
            }

    pool = [threading.Thread(target=worker) for _ in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    return results  # type: ignore[return-value]


def _iso_utc(t: float) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).replace(tzinfo=None).isoformat()


def main(spec_path: str) -> None:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    batch = spec["batch"]
    plan = schedule(spec["phases"], batch)
    rng = random.Random(spec["seed"])
    types = ["click", "error", "purchase", "signup", "view"]
    # Keys and values are drawn before the clock starts; only ts is
    # stamped at send time.
    bodies = [
        [
            {
                "event_id": spec["id_base"] + r["i"] * batch + j,
                "user_id": rng.randrange(spec["users"]),
                "event_type": rng.choice(types),
                "value": round(rng.expovariate(1 / 50), 2),
                "props": json.dumps({"k": rng.randrange(100)}),
            }
            for j in range(batch)
        ]
        for r in plan
    ]
    headers = {"Authorization": f"Bearer {spec['token']}", "Content-Type": "application/json"}
    done_wall: dict[int, float] = {}

    def send(i: int) -> bool:
        ts = _iso_utc(time.time())
        body = json.dumps([{**e, "ts": ts} for e in bodies[i]])
        conn = http.client.HTTPConnection(spec["host"], spec["port"], timeout=spec["timeout_s"])
        try:
            conn.request("POST", spec["path"], body=body, headers=headers)
            status = conn.getresponse().status
        finally:
            conn.close()
        done_wall[i] = time.time()
        return status == 202

    start_mono, start_wall = time.monotonic() + 0.2, time.time() + 0.2
    results = run_open_loop(plan, send, spec["threads"], start_mono)
    for r in results:
        r["req"] = bodies[r["i"]][0]["event_id"]
        r["n"] = batch
        r["done_wall"] = done_wall.get(r["i"])
    phases, t = [], 0.0
    for ph in spec["phases"]:
        phases.append(
            {
                "name": ph["name"],
                "rate": ph["rate"],
                "start_wall": start_wall + t,
                "end_wall": start_wall + t + ph["seconds"],
            }
        )
        t += ph["seconds"]
    with open(spec["out"], "w", encoding="utf-8") as fh:
        json.dump({"phases": phases, "requests": results}, fh)


if __name__ == "__main__":
    main(sys.argv[1])
