"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``stream_ingest`` and ``catalog_mix`` (see ``BENCHMARK.json``
and ``perfbench/rationale.json``).  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` spans, job groups and the Spark event log are on and it
carries the per-layer metrics instead.  The full detail goes to stderr
and to ``.bench_build/perfbench/results/``.  The exit code is non-zero,
and no result line is printed, when the run could not be made.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("stream_ingest", "catalog_mix")

#: name → unit.  Every run reports all of them; a layer the workload does
#: not touch reads 0.
E2E = {
    "setup_s": "s",
    "latency_ms.p50": "ms",
    "freshness_ms.p50": "ms",
    "freshness_ms.tail": "ms",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MiB",
}


def layer_units() -> dict[str, str]:
    from perfbench.catalog import QUERIES

    units = {
        "latency_ms.tail": "ms",
        "gateway.requests": "count",
        "gateway.self_ms.p50": "ms",
        "agency.publish.ms.p50": "ms",
        "agency.publish.ms.tail": "ms",
        "agency.publish.files": "count",
        "agency.publish.bytes": "bytes",
        "agency.consume.batches": "count",
        "agency.consume.callback_ms.p50": "ms",
    }
    for phase in ("trigger", "addBatch", "latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets"):
        units[f"agency.consume.{phase}_ms.p50"] = "ms"
    units.update(
        {
            "agency.consume.files_per_batch": "count",
            "agency.consume.backlog_events.low": "count",
            "agency.consume.backlog_events.high": "count",
            "freshness_ms.low.p50": "ms",
            "state.rows_total": "count",
            "state.commit_ms.p50": "ms",
            "state.memory_bytes": "bytes",
            "store.sink_s": "s",
            "store.files": "count",
            "store.index_rebuild_s": "s",
            "store.read_range_ms.p50": "ms",
            "store.read_key_ms.p50": "ms",
            "store.read_ms.tail": "ms",
            "versioned.merge_s": "s",
            "versioned.files_rewritten": "count",
            "versioned.read_version_ms.p50": "ms",
        }
    )
    for q in QUERIES:
        units[f"catalog.{q}.build_s"] = "s"
        units[f"catalog.{q}.exec_s"] = "s"
        units[f"catalog.{q}.jobs"] = "count"
    units.update(
        {
            "spark.jobs_per_pass": "count",
            "spark.job_ms.p50": "ms",
            "spark.tasks": "count",
            "spark.exec_cpu_s": "s",
            "spark.gc_s": "s",
            "spark.shuffle_write_bytes": "bytes",
            "spark.shuffle_read_bytes": "bytes",
            "spark.spill_bytes": "bytes",
            "spark.input_bytes": "bytes",
            "spark.python_bytes": "bytes",
            "materialize.pinned_rdds_after_pass": "count",
            "materialize.pinned_bytes_after_pass": "bytes",
            "materialize.table_dirs_left": "count",
            "harness.gen_late_ms.max": "ms",
        }
    )
    return units


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _host_share(a: list[int], b: list[int]) -> dict[str, float]:
    """Share of host CPU time over the run that was busy, idle and
    stolen by the hypervisor: context for reading a slow run."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d) or 1
    return {"busy": 1 - (d[3] + d[4] + d[7]) / total, "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "event_streaming_spark")):
        print(f"perfbench: no event_streaming_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import catalog, stream_ingest
    from perfbench.harness import BUILD, RunEnv
    from perfbench.stats import Tracer

    t_start = time.monotonic()
    cpu_start = _cpu_times()
    tracer = Tracer(bool(args.trace))
    env = RunEnv(trace=bool(args.trace))
    try:
        workload = stream_ingest if args.workload == "stream_ingest" else catalog
        out = workload.run(env, args.seed, args.seconds, tracer)
    finally:
        env.close()

    if args.trace:
        units = layer_units()
        unknown = set(out.layers) - set(units)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        values = {k: out.layers.get(k, 0.0) for k in units}
    else:
        units = E2E
        values = out.e2e
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": time.monotonic() - t_start,
        "host": _host_share(cpu_start, _cpu_times()),
        "e2e": out.e2e,
        "layers": out.layers,
        "detail": out.detail,
    }
    if args.trace:
        from perfbench.stats import self_times

        selfs = self_times(tracer.spans)
        by_name: dict[str, list[float]] = {}
        for s in tracer.spans:
            by_name.setdefault(s["name"], []).append(selfs[s["id"]])
        detail["span_self_s"] = {k: {"n": len(v), "total": sum(v)} for k, v in sorted(by_name.items())}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps(detail, default=str), file=sys.stderr)
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
