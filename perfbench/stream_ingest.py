"""``stream_ingest``: live ingest through the gateway, then a backfill.

Live phase (open loop): a separate generator process POSTs 20-event JSON
arrays with an HS256 bearer token to ``ApiGateway``, which publishes them
to a parquet-log topic, at a ``low`` and then a ``high`` offered rate.  A
continuous consumer (``TopicContext.consume(once=False)``) keeps a
watermarked tumbling-window count/sum/max(ts) per (window, event_type,
user bucket) in update mode; the freshness of an emitted row is its
emission time in ``foreachBatch`` minus its ``max(ts)``.

Backfill phase (closed loop, one client): bulk-publish a seeded events
table, drain it with ``availableNow`` through ``EventStore.sink`` (five
times, each into a fresh store and checkpoint), rebuild the ``KeyIndex``,
then time seeded range/key/index reads and a ``VersionedStore`` append →
1% merge → versioned reads.  Every read is checked against the same
filter computed with DuckDB over the input.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import Outcome, RunEnv, peak_rss_mb, spark_layer, timed
from perfbench.stats import Tracer, p50, parse_event_log, self_times, tail

#: Offered rates in events/s.  At 1000 ev/s a micro-batch takes about
#: the 1 s trigger interval; ``high`` stays far enough below that
#: capacity that a host losing 15% of its CPU to neighbours does not
#: start a backlog (which happened with 10-event POSTs at this rate).
LOW_RATE, HIGH_RATE = 100, 400
BATCH = 20
GEN_THREADS = 4
#: Freshness latency limit for ``freshness_ms.tail`` at the high rate:
#: two trigger intervals plus one batch.
FRESHNESS_LIMIT_MS = 3000
WINDOW, WATERMARK = "10 seconds", "30 seconds"
BUCKETS = 16
USERS = 1500
#: The backfill is one seeded, id-shifted copy of the sf0.1 ``events``
#: table (100k rows over 1500 users, as ``datagen`` builds it), drained
#: ``DRAINS`` times into fresh stores; the median drain is the reading.
#: The first drain is the slowest (JIT still settling), so with three the
#: median was the slower of two warm drains; five leave room for one more
#: slow drain on a host that stalls.
BACKFILL_EVENTS = 100_000
DRAINS = 5
READS_PER_KIND = 2
MERGE_SHARE = 0.01
PROGRESS_PHASES = (
    "triggerExecution",
    "addBatch",
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
)
SECRET = "perfbench-secret"


def _window_agg(df):
    from pyspark.sql import functions as F

    return (
        df.withWatermark("ts", WATERMARK)
        .groupBy(
            F.window("ts", WINDOW).start.alias("window_start"),
            "event_type",
            (F.col("user_id") % BUCKETS).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.unix_micros(F.max("ts")).alias("max_ts_us"),
        )
    )


class _Consumer:
    """The continuous windowed consumer and what it emitted."""

    def __init__(self, agency, topic: str, tracer: Tracer) -> None:
        self.ctx = agency.topic("bench", topic)
        self.tracer = tracer
        self.emitted: list[tuple[float, list]] = []

    def _on_batch(self, _ctx, batch_df, batch_id) -> None:
        with self.tracer.span("agency.consume.callback", req=batch_id):
            rows = [tuple(r) for r in batch_df.collect()]
        self.emitted.append((time.time(), rows))

    def start(self):
        q = self.ctx.consume(
            self._on_batch,
            once=False,
            transform=_window_agg,
            output_mode="update",
            # ~160 live state rows: one state store, per the sizing rule
            # in TopicContext.consume (state cost is a per-partition floor).
            state_partitions=1,
        )
        deadline = time.monotonic() + 60
        while not q.status["message"].startswith("Waiting"):
            if time.monotonic() > deadline or not q.isActive:
                raise RuntimeError(f"consumer did not start: {q.status}")
            time.sleep(0.01)
        return q


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _progress_end_wall(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def _start_gateway_and_consumer(agency, tracer: Tracer, topic: str):
    from event_streaming_spark.streaming.gateway import ApiGateway

    gw = ApiGateway(agency, port=0, jwt_secret=SECRET).start()
    consumer = _Consumer(agency, topic, tracer)
    query = consumer.start()
    return gw, consumer, query


def _live(env: RunEnv, spark, agency, seed: int, seconds: int, tracer: Tracer, out: Outcome):
    from event_streaming_spark.functions.auth import mint_hs256

    # Set-up repeated three times; the median is what set-up costs.
    starts = []
    for k in range(3):
        (gw, consumer, query), s = timed(_start_gateway_and_consumer, agency, tracer, f"live{k}")
        starts.append(s)
        if k < 2:
            query.stop()
            gw.stop()
    out.detail["start_s"] = starts
    ctx = consumer.ctx
    if tracer.enabled:
        publish = ctx.publish

        def traced_publish(events):
            with tracer.span("agency.publish", req=events[0].get("event_id")):
                return publish(events)

        ctx.publish = traced_publish
    low_s = max(1, round(seconds * 0.3))
    phases = [
        {"name": "low", "rate": LOW_RATE, "seconds": low_s},
        {"name": "high", "rate": HIGH_RATE, "seconds": seconds - low_s},
    ]
    host, port = gw.address
    spec = {
        "host": host,
        "port": port,
        "path": "/topics/bench/" + ctx.topic,
        "token": mint_hs256({"sub": "perfbench", "iat": int(time.time()), "exp": int(time.time()) + 3600}, SECRET),
        "phases": phases,
        "batch": BATCH,
        "threads": GEN_THREADS,
        "seed": seed,
        "id_base": seed * 10**7,
        "users": USERS,
        "timeout_s": 10,
        "out": os.path.join(env.root, "loadgen.json"),
    }
    spec_path = os.path.join(env.root, "loadgen-spec.json")
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"), spec_path]
    )
    try:
        gen.wait(timeout=seconds + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    with open(spec["out"], encoding="utf-8") as fh:
        gen_out = json.load(fh)
    reqs = gen_out["requests"]
    accepted = sum(r["n"] for r in reqs if r["ok"])

    # Drain what was accepted, then stop the consumer.
    deadline = time.monotonic() + 60
    while sum(p["numInputRows"] for p in _progress(query)) < accepted:
        if time.monotonic() > deadline:
            break
        time.sleep(0.05)
    progress = [p for p in _progress(query) if p["numInputRows"] > 0]
    query.stop()
    gw.stop()

    # Correctness: update mode re-emits a group with its running totals,
    # so the last emission per group holds the final count.
    final: dict[tuple, int] = {}
    for _t, rows in consumer.emitted:
        for r in rows:
            final[r[:3]] = r[3]
    counted = sum(final.values())
    for r in reqs:
        out.op(r["ok"])
    if not out.op(counted == accepted):
        out.detail["count_mismatch"] = {"counted": counted, "accepted": accepted}

    by_phase = {ph["name"]: ph for ph in gen_out["phases"]}
    # A failed request misses any latency limit: it counts as the timeout.
    ack_ms = [
        (r["done"] - r["due"]) * 1e3 if r["ok"] else spec["timeout_s"] * 1e3
        for r in reqs
        if r["phase"] == "high"
    ]
    fresh = {"low": [], "high": []}
    for t_emit, rows in consumer.emitted:
        for r in rows:
            ts = r[5] / 1e6
            for name, ph in by_phase.items():
                if ph["start_wall"] <= ts < ph["end_wall"]:
                    fresh[name].append((t_emit - ts) * 1e3)
    ack_tail, ack_pct = tail(ack_ms)
    fr_tail, fr_pct = tail(fresh["high"])
    out.e2e["latency_ms.p50"] = p50(ack_ms)
    out.layers["latency_ms.tail"] = ack_tail
    out.e2e["freshness_ms.p50"] = p50(fresh["high"])
    out.e2e["freshness_ms.tail"] = fr_tail
    out.detail.update(
        {
            "ack_samples": len(ack_ms),
            "ack_tail_percentile": ack_pct,
            "freshness_samples": {k: len(v) for k, v in fresh.items()},
            "freshness_tail_percentile": fr_pct,
            "freshness_high_over_limit": sum(f > FRESHNESS_LIMIT_MS for f in fresh["high"]),
            "accepted_events": accepted,
            "batches": [
                (p["numInputRows"], p["durationMs"].get("triggerExecution"), p["durationMs"].get("addBatch"))
                for p in progress
            ],
        }
    )

    # Per-layer readings.
    L = out.layers
    L["freshness_ms.low.p50"] = p50(fresh["low"])
    L["gateway.requests"] = float(len(reqs))
    L["harness.gen_late_ms.max"] = max(r["late"] for r in reqs) * 1e3
    files = [f for f in os.listdir(ctx.log_dir) if f.endswith(".parquet")]
    L["agency.publish.files"] = float(len(files))
    L["agency.publish.bytes"] = float(sum(os.path.getsize(os.path.join(ctx.log_dir, f)) for f in files))
    L["agency.consume.batches"] = float(len(progress))
    L["agency.consume.files_per_batch"] = len(files) / max(1, len(progress))
    for name in PROGRESS_PHASES:
        key = "trigger" if name == "triggerExecution" else name
        vals = [p["durationMs"].get(name, 0) for p in progress]
        L[f"agency.consume.{key}_ms.p50"] = p50(vals) if vals else 0.0
    for name, ph in by_phase.items():
        acked = sum(r["n"] for r in reqs if r["ok"] and r["done_wall"] <= ph["end_wall"])
        consumed = sum(
            p["numInputRows"] for p in progress if _progress_end_wall(p) <= ph["end_wall"]
        )
        L[f"agency.consume.backlog_events.{name}"] = float(max(0, acked - consumed))
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    L["state.rows_total"] = float(ops[-1]["numRowsTotal"]) if ops else 0.0
    L["state.commit_ms.p50"] = p50([o["commitTimeMs"] for o in ops]) if ops else 0.0
    L["state.memory_bytes"] = float(ops[-1]["memoryUsedBytes"]) if ops else 0.0
    if tracer.enabled:
        pub = [s for s in tracer.spans if s["name"] == "agency.publish"]
        pub_ms = [(s["end"] - s["start"]) * 1e3 for s in pub]
        L["agency.publish.ms.p50"] = p50(pub_ms)
        L["agency.publish.ms.tail"] = tail(pub_ms)[0]
        # The POST span comes from the generator; its publish child is
        # joined on the request id (the first event_id of the body).
        pub_by_req = {s["req"]: s for s in pub}
        gw_ids = []
        for r in reqs:
            sid = tracer.add("gateway.post", r["sent"], r["done"], req=r["req"])
            gw_ids.append(sid)
            if r["req"] in pub_by_req:
                pub_by_req[r["req"]]["parent"] = sid
        selfs = self_times(tracer.spans)
        L["gateway.self_ms.p50"] = p50([selfs[i] * 1e3 for i in gw_ids])
        cb = [(s["end"] - s["start"]) * 1e3 for s in tracer.spans if s["name"] == "agency.consume.callback"]
        L["agency.consume.callback_ms.p50"] = p50(cb)


def _backfill(
    env: RunEnv,
    spark,
    agency,
    seed: int,
    n: int,
    drains: int,
    reads_per_kind: int,
    tracer: Tracer,
    out: Outcome,
    topic: str,
):
    """Closed loop, one client.  Returns events drained per second in the
    median of ``drains`` drains."""
    from pyspark.sql import functions as F

    from event_streaming_spark.sources.store import EventStore, KeyIndex
    from event_streaming_spark.sources.versioned import VersionedStore

    rng = np.random.default_rng(seed)
    table = datagen.events_table(rng, n, USERS, first_id=(seed + 1) * 10**8)
    src = os.path.join(env.path("input", topic), "events.parquet")
    pq.write_table(table, src)
    df = spark.read.parquet(src).withColumn("ts", F.col("ts").cast("timestamp"))
    ctx = agency.topic("bench", topic)
    L = out.layers

    with tracer.span("agency.publish.bulk"):
        _, bulk_s = timed(ctx.publish, df)
    sinks = []
    for k in range(drains):
        store = EventStore(spark, env.path("store", topic, str(k)))
        ckpt = env.path("ckpt", topic, str(k))
        with tracer.span("store.sink", req=k):
            sinks.append(timed(lambda: store.sink(ctx.stream(), ckpt).awaitTermination())[1])
    sink_s = p50(sinks)
    idx = KeyIndex(store, "user_id")
    with tracer.span("store.index_rebuild"):
        _, rebuild_s = timed(idx.rebuild)

    duck = duckdb.connect()
    duck.register("published", table)

    def expect(where: str, rel: str = "published") -> list[tuple]:
        return sorted(duck.sql(f"SELECT event_id, value FROM {rel} WHERE {where}").fetchall())

    def check(kind: str, frame_fn, where: str, rel: str = "published") -> float:
        with tracer.span(kind):
            rows, s = timed(lambda: frame_fn().select("event_id", "value").collect())
        got = sorted((r[0], r[1]) for r in rows)
        if not out.op(got == expect(where, rel)):
            out.detail.setdefault("read_mismatch", []).append(kind)
        return s * 1e3

    t0 = np.datetime64(datagen.EVENTS_START, "us")
    reads: dict[str, list[float]] = {"range": [], "key": [], "lookup": [], "version": []}
    for _ in range(reads_per_kind):
        start = t0 + np.timedelta64(int(rng.integers(0, 29 * 24 * 3600)), "s")
        end = start + np.timedelta64(6 * 3600, "s")
        a, b = start.astype(dt.datetime), end.astype(dt.datetime)
        reads["range"].append(
            check("store.read_range", lambda: store.read_range(a, b), f"ts >= '{a}' AND ts < '{b}'")
        )
        u = int(rng.integers(0, USERS))
        reads["key"].append(check("store.read_key", lambda: store.read_key("user_id", u), f"user_id = {u}"))
        u = int(rng.integers(0, USERS))
        reads["lookup"].append(check("store.read_key", lambda: idx.lookup(u), f"user_id = {u}"))

    vs = VersionedStore(spark, env.path("versioned", topic))
    with tracer.span("versioned.append"):
        v0, append_s = timed(vs.append, df)
    pick = rng.choice(n, max(1, int(n * MERGE_SHARE)), replace=False)
    upd = table.take(pick)
    bumped = pa.array(np.round(upd["value"].to_numpy() + 1.0, 2))
    upd = upd.set_column(upd.schema.get_field_index("value"), "value", bumped)
    upd_path = os.path.join(env.path("input", topic), "updates.parquet")
    pq.write_table(upd, upd_path)
    upd_df = spark.read.parquet(upd_path).withColumn("ts", F.col("ts").cast("timestamp"))
    files_before = set(vs.files(v0))
    with tracer.span("versioned.merge"):
        v1, merge_s = timed(vs.merge, upd_df, "event_id")
    duck.register("updates", upd)
    duck.sql(
        "CREATE VIEW merged AS SELECT * FROM published WHERE event_id NOT IN "
        "(SELECT event_id FROM updates) UNION ALL SELECT * FROM updates"
    )
    for k in range(reads_per_kind):
        u = int(rng.integers(0, USERS))
        v, rel = (v0, "published") if k % 2 == 0 else (v1, "merged")
        reads["version"].append(
            check("versioned.read", lambda: vs.read(v).filter(F.col("user_id") == u), f"user_id = {u}", rel)
        )
    duck.close()

    store_files = _walk_parquet(store.path)
    L["store.sink_s"] = sink_s
    L["store.files"] = float(len(store_files))
    L["store.index_rebuild_s"] = rebuild_s
    L["store.read_range_ms.p50"] = p50(reads["range"])
    L["store.read_key_ms.p50"] = p50(reads["key"] + reads["lookup"])
    pooled = [x for v in reads.values() for x in v]
    L["store.read_ms.tail"] = tail(pooled)[0]
    L["versioned.merge_s"] = merge_s
    L["versioned.files_rewritten"] = float(len(files_before - set(vs.files(v1))))
    L["versioned.read_version_ms.p50"] = p50(reads["version"])
    out.detail.update(
        {
            "backfill_events": n,
            "sink_s": sinks,
            "bulk_publish_s": bulk_s,
            "versioned_append_s": append_s,
            "store_read_ms.p50": p50(pooled),
        }
    )
    return n / sink_s


def _walk_parquet(path: str) -> list[str]:
    found = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith("_")]
        found += [os.path.join(dirpath, f) for f in filenames if f.endswith(".parquet")]
    return found


def run(env: RunEnv, seed: int, seconds: int, tracer: Tracer) -> Outcome:
    from event_streaming_spark.streaming.agency import EventsAgency

    out = Outcome()
    t_setup = time.monotonic()
    spark = env.session()
    session_s = time.monotonic() - t_setup
    agency = EventsAgency(spark, root=env.path("agency"), log_format="parquet")
    # Warm-up: the same code paths on a small seeded input; it counts
    # toward setup_s, not toward the measured phases.
    warm = Outcome()
    t_warm = time.monotonic()
    _backfill(env, spark, agency, seed + 1_000_003, 2_000, 1, 1, Tracer(False), warm, "warmup")
    out.detail["warmup_backfill"] = {**warm.layers, **warm.detail, "s": time.monotonic() - t_warm}
    w = agency.topic("bench", "warmup-live")
    w.publish([{"event_id": 0, "ts": "2024-01-01T00:00:00", "user_id": 0, "event_type": "view", "value": 1.0, "props": "{}"}])
    w.consume(lambda c, df, i: df.collect(), once=True, transform=_window_agg, output_mode="update")
    warmup_s = time.monotonic() - t_warm
    if warm.failed:
        raise RuntimeError(f"warm-up checks failed: {warm.detail}")

    since_ms = int(time.time() * 1e3)
    t_live = time.monotonic()
    _live(env, spark, agency, seed, seconds, tracer, out)
    out.detail["live_s"] = time.monotonic() - t_live
    t_back = time.monotonic()
    out.e2e["setup_s"] = session_s + warmup_s + p50(out.detail["start_s"])
    out.e2e["throughput_per_s"] = _backfill(
        env, spark, agency, seed, BACKFILL_EVENTS, DRAINS, READS_PER_KIND, tracer, out, "backfill"
    )
    out.detail["backfill_s"] = time.monotonic() - t_back
    out.e2e["peak_rss_mb"] = peak_rss_mb(spark)
    out.detail.update({"session_s": session_s, "warmup_s": warmup_s})
    agency.close()
    env.stop_session()
    if tracer.enabled:
        # One "pass" of this workload is the live phase plus the backfill.
        out.layers.update(spark_layer(list(parse_event_log(env.event_log_lines(), since_ms).values()), 1))
    return out
