"""``catalog_mix``: warm passes over a relational + iterative/UDF query mix.

Closed loop, one client.  Set-up builds the session and runs one cold
pass in seeded order that collects every result and hash-matches it
against the query's DuckDB ``oracle`` (untimed check, counted in
``failed``).  The oracle's canonical rows depend only on its SQL and the
fixed tables, so they are computed once per checkout and kept under
``.bench_build``.  Then timed warm passes run, each in its own seeded
order, one per ``SECONDS_PER_PASS`` of ``--seconds`` and at least three:
a query is timed as ``fn()`` (plan build, where the iterative operators
run their loop jobs eagerly) plus a ``noop`` write (execution).  The
first warm pass is usually the slowest (JIT still settling), so it sets
the pass tail while the median comes from the passes after it.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import random
import time

import duckdb

from perfbench.harness import (
    BUILD,
    ROOT,
    Outcome,
    RunEnv,
    data_dir,
    peak_rss_mb,
    pinned_state,
    release_pins,
    spark_layer,
)
from perfbench.stats import TAIL_BEYOND, Tracer, p50, parse_event_log, tail

#: Scans, joins, exchanges and windows: no iterative loop, no pin and no
#: Python UDF.  For loop, pin and UDF changes these are the half of the
#: mix where the prediction is no change.
RELATIONAL = (
    "q21_suppliers_kept_waiting",
    "events_sessionize_30m",
    "join_bloom_semi_lineitem_big_orders",
)
#: Driver-synchronized loop jobs, ``materialize`` pins and the Arrow UDF
#: boundary: the k-means loop and a mapInPandas power iteration.
LLM = (
    "emb_kmeans_clusters",
    "emb_pca_power_iteration",
)
QUERIES = RELATIONAL + LLM
#: A warm pass over the mix takes 6-9 s on 4 cores; timed passes overrun
#: ``--seconds`` rather than fall below three, the fewest whose median
#: one slow pass cannot move.  The count does not depend on how fast the
#: host is: while it followed the clock, the pass median moved with it.
SECONDS_PER_PASS = 6


def _normalize():
    """The oracle gate's canonical row form, from ``tools/check_oracle.py``."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def _oracle_rows(con, name: str, sql: str, sf_dir: str, normalize) -> list:
    key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "oracle", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    rel = con.sql(sql)
    rows = list(normalize(list(rel.columns), rel.fetchall()))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as fh:
        json.dump(rows, fh)
    os.rename(path + ".tmp", path)
    return rows


def _check_pass(spark, registry, names: list[str], sf_dir: str, out: Outcome) -> float:
    """Cold pass: collect each result and hash-match it against the
    oracle.  Returns the seconds spent on the oracle side, which set-up
    time leaves out."""
    from event_streaming_spark.plans.catalog import TABLES

    normalize = _normalize()
    oracle_s = 0.0
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            q = registry[name]
            df = q.fn(spark, sf_dir)
            got = normalize(df.columns, [tuple(r) for r in df.collect()])
            t0 = time.monotonic()
            want = _oracle_rows(con, name, q.oracle, sf_dir, normalize)
            oracle_s += time.monotonic() - t0
            # JSON keeps the column list as a list: compare like with like.
            if not out.op(json.loads(json.dumps(got)) == want):
                out.detail.setdefault("oracle_mismatch", []).append(name)
    finally:
        con.close()
    return oracle_s


def run(env: RunEnv, seed: int, seconds: int, tracer: Tracer) -> Outcome:
    from event_streaming_spark.plans import REGISTRY

    out = Outcome()
    rng = random.Random(seed)
    sf_dir = data_dir()
    t0 = time.monotonic()
    spark = env.session()
    session_s = time.monotonic() - t0
    t0 = time.monotonic()
    oracle_s = _check_pass(spark, REGISTRY, rng.sample(QUERIES, len(QUERIES)), sf_dir, out)
    warmup_s = time.monotonic() - t0 - oracle_s
    out.e2e["setup_s"] = session_s + warmup_s

    sc = spark.sparkContext
    lat_ms, pass_s = [], []
    per_query: dict[str, dict[str, list[float]]] = {n: {"build_s": [], "exec_s": []} for n in QUERIES}
    jobs: dict[str, list[int]] = {n: [] for n in QUERIES}
    t_measure = time.monotonic()
    passes = max(3, round(seconds / SECONDS_PER_PASS))
    for k in range(passes):
        order = rng.sample(QUERIES, len(QUERIES))
        t_pass = time.monotonic()
        with tracer.span("catalog.pass", req=k):
            for name in order:
                group = f"pass{k}/{name}"
                if tracer.enabled:
                    sc.setJobGroup(group, name)
                try:
                    t_a = time.monotonic()
                    with tracer.span("catalog.build", req=group):
                        df = REGISTRY[name].fn(spark, sf_dir)
                    t_b = time.monotonic()
                    with tracer.span("catalog.exec", req=group):
                        df.write.format("noop").mode("overwrite").save()
                    t_c = time.monotonic()
                except Exception as e:  # noqa: BLE001 - a failed query is a failed op
                    out.op(False)
                    out.detail.setdefault("query_errors", []).append(f"{name}: {e!r}"[:500])
                    continue
                finally:
                    if tracer.enabled:
                        jobs[name].append(len(sc.statusTracker().getJobIdsForGroup(group)))
                        sc.setJobGroup(None, None)
                out.op(True)
                lat_ms.append((t_c - t_a) * 1e3)
                per_query[name]["build_s"].append(t_b - t_a)
                per_query[name]["exec_s"].append(t_c - t_b)
        pass_s.append(time.monotonic() - t_pass)
    measured_s = time.monotonic() - t_measure

    out.e2e["latency_ms.p50"] = p50(lat_ms)
    if len(lat_ms) > 2 * TAIL_BEYOND:
        out.layers["latency_ms.tail"], pct = tail(lat_ms)
    else:
        # Too few samples for a percentile above the median: the pooled
        # samples are a few distinct queries, so report the slowest
        # query's median rather than its single slowest pass.
        out.layers["latency_ms.tail"] = max(
            p50(b + e for b, e in zip(v["build_s"], v["exec_s"])) * 1e3 for v in per_query.values()
        )
        pct = None
    out.e2e["freshness_ms.p50"] = p50(pass_s) * 1e3
    out.e2e["freshness_ms.tail"] = max(pass_s) * 1e3
    out.e2e["throughput_per_s"] = len(lat_ms) / measured_s
    out.e2e["peak_rss_mb"] = peak_rss_mb(spark)
    out.detail.update(
        {
            "session_s": session_s,
            "warmup_s": warmup_s,
            "oracle_s": oracle_s,
            "passes": passes,
            "pass_s": pass_s,
            "latency_samples": len(lat_ms),
            "latency_tail_percentile": pct,
            "query_s": {n: [b + e for b, e in zip(v["build_s"], v["exec_s"])] for n, v in per_query.items()},
        }
    )

    L = out.layers
    L.update(pinned_state(spark, env.warehouse))
    out.detail["table_dirs"] = glob.glob(os.path.join(env.warehouse, "_materialized", "*"))
    release_pins(spark)
    env.stop_session()
    if tracer.enabled:
        for name in QUERIES:
            L[f"catalog.{name}.build_s"] = p50(per_query[name]["build_s"])
            L[f"catalog.{name}.exec_s"] = p50(per_query[name]["exec_s"])
            L[f"catalog.{name}.jobs"] = float(p50(jobs[name]))
        groups = parse_event_log(env.event_log_lines())
        measured = [g for key, g in groups.items() if key.startswith("pass")]
        L.update(spark_layer(measured, passes))
    return out
