"""Pluggable materialization for reused or iterative intermediates.

Iterative algorithms (connected components) and plans that consume one
intermediate from several branches (LSH signatures, global-rank range
buckets) must pin that intermediate: re-evaluating it can repeat heavy
work or — worse — produce a *different* partition assignment between the
two consumers (range partitioning samples its boundaries).

Two strategies:

- ``local`` (default): ``localCheckpoint(eager=True)`` — fast, in-memory
  executor blocks with truncated lineage.  NOT fault-tolerant: losing an
  executor loses blocks that cannot be recomputed.  Right for local mode
  and short-lived intermediates.
- ``table``: write a parquet table under an underscore-prefixed dir in
  the warehouse (ignored by Spark's file index) and read it back.
  Fault-tolerant across executor loss — the right default for long
  iterative jobs on a real cluster.  Costs a write+read of the
  intermediate, which is small relative to the fact tables in every
  caller here.

Selection: explicit ``strategy=`` argument, else the
``SPARK_GRAFT_MATERIALIZER`` environment variable, else ``local``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

_VALID = ("local", "table")


def materializer_strategy() -> str:
    s = os.environ.get("SPARK_GRAFT_MATERIALIZER", "local")
    if s not in _VALID:
        raise ValueError(f"SPARK_GRAFT_MATERIALIZER must be one of {_VALID}, got {s!r}")
    return s


def _table_dir(df: DataFrame) -> str:
    override = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if override:
        return override
    warehouse = df.sparkSession.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    return os.path.join(warehouse, "_materialized")


def materialize(df: DataFrame, name: str = "intermediate", strategy: str | None = None) -> DataFrame:
    """Pin ``df``'s contents (and therefore any nondeterministic values it
    carries, e.g. ``spark_partition_id()``) so later consumers all see the
    same rows without re-running its lineage."""
    strategy = strategy or materializer_strategy()
    if strategy == "local":
        return df.localCheckpoint(eager=True)
    if strategy == "table":
        path = os.path.join(_table_dir(df), f"{name}-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(path)
        # The frame's own schema is what inference would return for the
        # files just written (pinned by a test); passing it skips the
        # one-task inference job.
        return df.sparkSession.read.schema(df.schema).parquet(path)
    raise ValueError(f"unknown materializer strategy: {strategy!r}")
