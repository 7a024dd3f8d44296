"""Summarize benchmark result files into one baseline record.

    python3 perfbench/summarize.py <workload> [results_dir]

Reads the per-run detail files that ``run.py`` leaves in
``.bench_build/perfbench/results/`` and prints, as JSON: per end-to-end
metric the values of the untraced runs with their median, quartiles and
spread (quartile distance / median, as ``statistics.quantiles`` gives
them), and the traced run's per-layer metrics with its tracing overhead
(traced end-to-end value / untraced median − 1).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "results")


def _load(pattern: str) -> list[dict]:
    runs = []
    for path in sorted(glob.glob(pattern)):
        with open(path, encoding="utf-8") as fh:
            runs.append(json.load(fh))
    return sorted(runs, key=lambda r: r["seed"])


def _spreads(runs: list[dict], key: str) -> dict:
    out = {}
    for name in runs[0][key] if runs else []:
        vals = [r[key][name] for r in runs if name in r[key]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0, "values": vals}
    return out


def summarize(workload: str, results: str = RESULTS) -> dict:
    plain = _load(os.path.join(results, f"{workload}-seed*-trace0.json"))
    traced = _load(os.path.join(results, f"{workload}-seed*-trace1.json"))
    out = {
        "workload": workload,
        "seeds": [r["seed"] for r in plain],
        "end_to_end": _spreads(plain, "e2e"),
        # Per-layer readings an untraced run also takes (no tracing cost).
        "per_layer_untraced": _spreads(plain, "layers"),
        "host_steal": [round(r["host"]["steal"], 4) for r in plain],
    }
    e2e = out["end_to_end"]
    if traced:
        t = traced[-1]
        out["traced"] = {
            "seed": t["seed"],
            "per_layer": t["layers"],
            "overhead": {
                k: t["e2e"][k] / e2e[k]["median"] - 1 for k in t["e2e"] if k in e2e and e2e[k]["median"]
            },
            "span_self_s": t.get("span_self_s", {}),
            "host_steal": round(t["host"]["steal"], 4),
        }
    return out


if __name__ == "__main__":
    print(json.dumps(summarize(*sys.argv[1:]), indent=1))
