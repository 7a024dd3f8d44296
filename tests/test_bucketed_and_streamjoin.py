"""Bucketed co-located joins (no Exchange) + stream-stream time-range join
+ streaming EventStore sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_spark.plans.catalog import load
from event_streaming_spark.sources.bucketed import bucketed_join, write_bucketed
from event_streaming_spark.sources.store import EventStore
from event_streaming_spark.streaming.agency import EventsAgency
from tests.conftest import SF_SMALL


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        orders = load(spark, SF_SMALL, "orders")
        li = load(spark, SF_SMALL, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
        write_bucketed(orders, "b_orders", "o_orderkey", 8)
        write_bucketed(li, "b_lineitem", "o_orderkey", 8)

        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:500]}"
        # correctness: same count as the plain join
        plain = orders.join(li, "o_orderkey")
        assert joined.count() == plain.count()

        # unbucketed comparison DOES shuffle (sanity that the assert means something)
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


@pytest.fixture()
def agency(spark, tmp_path):
    a = EventsAgency(spark, root=str(tmp_path / "agency"))
    yield a
    a.close()


def ev(event_id, ts, user_id, event_type="click", value=1.0):
    return {"event_id": event_id, "ts": ts, "user_id": user_id,
            "event_type": event_type, "value": value, "props": "{}"}


def test_stream_stream_time_range_join(agency, spark):
    """SURVEY §2.4 'stream–stream time-range join with watermarks':
    purchases joined to clicks of the same user within the preceding hour."""
    clicks_t = agency.topic("b", "clicks2")
    buys_t = agency.topic("b", "buys2")
    clicks_t.publish([ev(1, "2024-01-01T10:00:00", 1), ev(2, "2024-01-01T10:30:00", 2)])
    buys_t.publish([
        ev(10, "2024-01-01T10:40:00", 1, "purchase", 9.0),   # 40m after click 1 → match
        ev(11, "2024-01-01T12:00:00", 2, "purchase", 5.0),   # 90m after click 2 → no match
    ])

    clicks = (
        clicks_t.stream()
        .withWatermark("ts", "2 hours")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"),
                F.col("event_id").alias("click_id"))
    )
    buys = (
        buys_t.stream()
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
    )
    joined = buys.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("ts"))
        & (F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("event_id", "user_id", "click_id")

    out = []
    q = (
        joined.writeStream.foreachBatch(lambda df, i: out.extend(df.collect()))
        .option("checkpointLocation", str(agency.root) + "/ssj-ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert [(r["event_id"], r["click_id"]) for r in out] == [(10, 1)]


def test_event_store_streaming_sink(agency, spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "sstore"))
    ctx = agency.topic("b", "tostore")
    ctx.publish([ev(1, "2024-01-01T00:00:00", 1), ev(2, "2024-01-02T00:00:00", 2)])
    q = store.sink(ctx.stream(), checkpoint=str(tmp_path / "sstore-ckpt"))
    q.awaitTermination()
    got = store.read()
    assert got.count() == 2
    assert {str(r["event_date"]) for r in got.select("event_date").collect()} == {
        "2024-01-01", "2024-01-02",
    }


def test_event_store_sink_idempotent_on_replay(agency, spark, tmp_path):
    """A replayed foreachBatch id must not duplicate rows in the store."""
    store = EventStore(spark, str(tmp_path / "idem"))
    ctx = agency.topic("b", "idem")
    ctx.publish([ev(1, "2024-01-01T00:00:00", 1), ev(2, "2024-01-01T00:01:00", 2)])
    ckpt = str(tmp_path / "idem-ckpt")
    q = store.sink(ctx.stream(), checkpoint=ckpt)
    q.awaitTermination()
    assert store.read().count() == 2

    # simulate a crash after the append and its ledger mark but before
    # Spark committed batch 0: with commits/0 gone, the restarted query
    # hands batch 0 back, and only the ledger keeps it from re-appending
    import os
    ledger_mark = os.path.join(ckpt, "store-ledger", "batch-0.done")
    assert os.path.exists(ledger_mark)
    for f in ("0", ".0.crc"):  # the local checksum file goes with it
        os.remove(os.path.join(ckpt, "commits", f))
    q2 = store.sink(ctx.stream(), checkpoint=ckpt)
    q2.awaitTermination()
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))  # batch 0 re-ran
    assert store.read().count() == 2  # unchanged


def test_band_index_probe_never_reshuffles_history(spark):
    """r6 (VERDICT r5 #6): the streaming MinHash index is bucketed by the
    probe's join key (band_idx, bh).  The per-batch probe join must plan
    with NO Exchange above the index scan — only the delta (batch) side
    shuffles into the bucket layout — and appends must grow the SAME
    layout, so history is never rewritten or reshuffled."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    table = "t_band_index_probe"
    try:
        mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
            F.col("id").alias("doc_id"),
            (F.col("id") % 4).cast("int").alias("band_idx"),
            F.xxhash64(F.col("id") % 50).alias("bh"),
        )
        write_bucketed(mk(0, 2000), table, ["band_idx", "bh"], 8, sort=False)
        write_bucketed(
            mk(2000, 4000), table, ["band_idx", "bh"], 8, sort=False, mode="append"
        )
        idx = spark.table(table)
        assert idx.count() == 4000  # append grew the table

        batch = mk(4000, 4100).alias("n")
        probe = batch.join(
            idx.alias("x"),
            (F.col("n.band_idx") == F.col("x.band_idx"))
            & (F.col("n.bh") == F.col("x.bh")),
        )
        probe.count()  # finalize AQE plan
        plan = probe._jdf.queryExecution().executedPlan().toString()
        # exactly the delta-side Exchange; the bucketed index side has none
        n_exchange = plan.count("Exchange hashpartitioning")
        assert n_exchange == 1, f"index side must reuse bucketing:\n{plan[:800]}"
        # sanity: same join against an UNBUCKETED copy shuffles both sides
        flat = idx.select("*").localCheckpoint()
        plain = batch.join(
            flat.alias("x"),
            (F.col("n.band_idx") == F.col("x.band_idx"))
            & (F.col("n.bh") == F.col("x.bh")),
        )
        plain.count()
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert plain_plan.count("Exchange hashpartitioning") >= 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {table}")
