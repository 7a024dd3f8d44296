"""Differential test: every catalog query vs its DuckDB oracle at sf0.001.

This mirrors the driver's t2 correctness gate (row count + sorted column
names + order-insensitive canonical values) — see tools/check_oracle.py.
"""

from __future__ import annotations

import pytest

from event_streaming_spark.plans import REGISTRY
from tools.check_oracle import normalize

from tests.conftest import SF_SMALL


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    sdf = q.fn(spark, SF_SMALL)
    srows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        # rows-only contract: runs, stable schema, deterministic row count
        assert isinstance(srows, list)
        assert len(sdf.columns) > 0
        return
    rel = duck.sql(q.oracle)
    ocols, orows = list(rel.columns), rel.fetchall()
    sc, sv = normalize(sdf.columns, srows)
    oc, ov = normalize(ocols, orows)
    assert sc == oc, f"column names differ: {sc} vs {oc}"
    assert len(sv) == len(ov), f"row count differs: {len(sv)} vs {len(ov)}"
    assert sv == ov


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_output_types_no_hugeint(name, duck):
    """No oracle may output a HUGEINT/UHUGEINT column.

    DuckDB widens sum() over integers to int128; Spark's widest integral
    type is BIGINT, and value hashers that normalize via pandas/arrow
    render the two differently (the r2 `corpus_curation_end_to_end`
    driver-red row).  Every aggregate an oracle outputs must therefore be
    cast to BIGINT (or DOUBLE/DECIMAL) explicitly.
    """
    q = REGISTRY[name]
    if q.oracle is None:
        return
    rel = duck.sql(q.oracle)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "HUGEINT" in str(t).upper()
    ]
    assert not bad, f"{name}: HUGEINT output columns {bad} — cast to BIGINT in the oracle"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


# ---------------------------------------------------------------------------
# load(): the schema Spark infers for a table file is reused by later loads
# of the unchanged file, so a repeat load launches no inference job.


def _jobs_launched(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_repeat_load_launches_no_spark_job(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from event_streaming_spark.plans.catalog import load

    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    # a first load of a new file infers its schema with a Spark job ...
    assert _jobs_launched(spark, "load-first", lambda: load(spark, str(tmp_path), "t"))
    # ... a second load of the same file reuses it
    assert _jobs_launched(spark, "load-second", lambda: load(spark, str(tmp_path), "t")) == []


def test_load_sees_file_rewritten_in_place(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from event_streaming_spark.plans.catalog import load

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": [1, 2]}), path)
    ino = os.stat(path).st_ino
    assert load(spark, str(tmp_path), "t").dtypes == [("k", "bigint")]
    pq.write_table(pa.table({"k": ["a", "b"], "v": [1.5, 2.5]}), path)
    assert os.stat(path).st_ino == ino  # same file, rewritten in place
    df = load(spark, str(tmp_path), "t")
    assert df.dtypes == [("k", "string"), ("v", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [("a", 1.5), ("b", 2.5)]


def test_load_follows_nanos_as_long_toggle(spark, tmp_path):
    """events.ts stored as TIMESTAMP(NANOS) scans as epoch-nanos LONG only
    under ``nanosAsLong``; a schema inferred under one setting must not be
    reused under the other."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from event_streaming_spark.plans.catalog import load

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ns = np.array([1_700_000_000_123_456_789], dtype="datetime64[ns]")
    pq.write_table(
        pa.table({"event_id": [7], "ts": pa.array(ns, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
    )
    want = [(7, 1_700_000_000_123_456)]  # floor-truncated to µs

    def rows(df):
        return [tuple(r) for r in df.select("event_id", F.unix_micros("ts")).collect()]

    try:
        spark.conf.set(conf, "true")
        df = load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert rows(df) == want
        spark.conf.set(conf, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load(spark, str(tmp_path), "events")
        spark.conf.set(conf, "true")
        df = load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert rows(df) == want
    finally:
        spark.conf.set(conf, "true")


def test_cached_and_uncached_events_load_agree(spark, monkeypatch):
    from event_streaming_spark.plans import catalog

    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    uncached = catalog.load(spark, SF_SMALL, "events")
    assert len(catalog._SCHEMAS) == 1
    cached = catalog.load(spark, SF_SMALL, "events")
    assert cached.schema == uncached.schema
    assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, uncached.collect()))
