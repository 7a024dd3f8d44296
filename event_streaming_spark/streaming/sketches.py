"""Streaming distinct-count via mergeable HLL registers.

The batch sketch (operators/sketches.py) is a per-bucket-max monoid, so
streaming it needs NO new math: each micro-batch contributes its ≤ m
register rows, appended to a durable register log; the estimate at any
moment is merge-at-read (per-bucket max) + the shared finalizer.  This
is the standard mergeable-summary pattern: state is O(m · #batches)
until compaction, never O(#distinct keys), and the log is append-only —
crash-safe without coordination.

Idempotency: foreachBatch is at-least-once, so each batch's output is
staged under a batch-id-derived hidden name and published with ONE
atomic rename — the published directory itself IS the idempotency mark,
so there is no window where the append landed but the mark did not (a
crash there would have made replays double-append: harmless for HLL —
max is idempotent — but it would inflate Count-Min counts).  The
checkpoint-local ledger file remains as a fast-path skip only.  Both
the publish and the crash-recoverable ``compact()`` swap are the shared
protocols in ``sources/durable.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_spark.operators.sketches import (
    hll_finalize,
    hll_finalize_by,
    hll_merge,
    hll_merge_by,
    hll_registers,
    hll_registers_by,
)
from event_streaming_spark.sources.durable import log_sink, recover, swap


def _compact_dirs(path: str) -> tuple[str, str, str]:
    """(live, staged, displaced) for a log's compaction swap."""
    return path, path + "._compacting", path + "._old"


class HllStreamingSketch:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        b: int = 6,
        group_cols: list[str] | None = None,
    ) -> None:
        """``group_cols`` turns this into a SEGMENTED distinct counter
        (per window/day/type/...): registers are kept per group and
        ``estimates()`` returns a DataFrame of per-group estimates —
        the streaming form of ``hll_estimate_by``.  State stays
        O(m · #groups), never O(#keys)."""
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.b = b
        self.group_cols = list(group_cols or [])

    def sink(self, stream_df: DataFrame, checkpoint: str):
        return log_sink(
            stream_df, checkpoint, "hll-ledger", self.path, self._batch_registers
        )

    def _batch_registers(self, batch_df: DataFrame) -> DataFrame:
        if self.group_cols:
            return hll_registers_by(
                batch_df, self.group_cols, F.col(self.key_col), self.b
            )
        return hll_registers(batch_df, F.col(self.key_col), self.b)

    def registers(self) -> DataFrame:
        recover(*_compact_dirs(self.path))
        # per-batch subdirs + compacted top-level files in one listing
        raw = self.spark.read.option("recursiveFileLookup", "true").parquet(self.path)
        if self.group_cols:
            return hll_merge_by(raw, self.group_cols)
        return hll_merge(raw)

    def estimates(self) -> DataFrame:
        """Per-group estimates (grouped mode only)."""
        if not self.group_cols:
            raise ValueError("estimates() requires group_cols; use estimate()")
        return hll_finalize_by(self.registers(), self.group_cols, self.b)

    def estimate(self) -> float:
        if self.group_cols:
            raise ValueError("grouped sketch: use estimates()")
        return float(
            hll_finalize(self.registers(), self.b).collect()[0]["hll_estimate"]
        )

    def compact(self) -> None:
        """Fold the append-only log back to ≤ m rows (optional hygiene;
        estimates are identical before and after).  Crash-recoverable:
        an interrupted swap is repaired on the next read (``recover``).
        Run only while no stream is writing this log: compaction erases
        the per-batch publish dirs that deduplicate replays, so a batch
        whose stream died between publish and ledger mark could re-append
        after a compact (harmless for HLL's max-merge, but the rule is
        shared with the Count-Min log where it would inflate counts)."""
        live, tmp, old = _compact_dirs(self.path)
        self.registers().coalesce(1).write.mode("overwrite").parquet(tmp)
        swap(live, tmp, old)


class CountMinStreamingSketch:
    """Streaming heavy-hitter state: per-micro-batch CM counter tables
    appended to a log (idempotent via ledger); the live sketch is the
    per-(d,pos) SUM at read — Count-Min's merge monoid is addition, so
    stream-accumulated counters equal the batch sketch over all data
    EXACTLY (asserted in tests).  State: ≤ d·w rows per batch."""

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, depth: int = 4, width: int = 256
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.depth = depth
        self.width = width

    def sink(self, stream_df: DataFrame, checkpoint: str):
        from event_streaming_spark.operators.sketches import count_min_table

        return log_sink(
            stream_df,
            checkpoint,
            "cm-ledger",
            self.path,
            lambda df: count_min_table(df, F.col(self.key_col), self.depth, self.width),
        )

    def table(self) -> DataFrame:
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(self.path)
            .groupBy("d", "pos")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def lookup(self, keys: DataFrame, key_col: str) -> DataFrame:
        from event_streaming_spark.operators.sketches import count_min_lookup

        return count_min_lookup(self.table(), keys, key_col, self.depth, self.width)


class ThetaStreamingSketch:
    """Streaming KMV/theta sketch: mergeable distinct-count state that —
    unlike HLL — also supports direct SET OPERATIONS between two
    sketches (union / intersection estimates), the streaming twin of
    the batch queries ``sketch_theta_set_ops_users`` /
    ``sketch_theta_overlap_daily`` (plans/scale_ops3.py).

    Monoid: bottom-k of a union = bottom-k of the combined bottom-k's,
    so each micro-batch appends its own ≤ k smallest distinct hashes
    and the merged state is a k-row read-time fold.  Same atomic-rename
    idempotency as the HLL log (publish dir IS the mark); ``compact()``
    folds the log back to ≤ k rows without changing any estimate.

    Estimator (integer, engine/run-deterministic):
        theta = k-th smallest hash when saturated, else 2^32
        est   = |{h < theta}| * 2^32 div theta
    which degrades to the EXACT distinct count while unsaturated.
    """

    def __init__(
        self, spark: SparkSession, path: str, key_col: str, k: int = 256
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.k = k

    def _hashes(self, df: DataFrame) -> DataFrame:
        from event_streaming_spark.functions.hashing import stable_hash32

        h = stable_hash32(
            F.concat(F.lit("theta|"), F.col(self.key_col).cast("string"))
        )
        return df.select(h.alias("h")).distinct().orderBy("h").limit(self.k)

    def sink(self, stream_df: DataFrame, checkpoint: str):
        return log_sink(
            stream_df, checkpoint, "theta-ledger", self.path, self._hashes
        )

    def hashes(self) -> DataFrame:
        """Merged sketch: the k smallest distinct hashes across batches."""
        recover(*_compact_dirs(self.path))
        raw = self.spark.read.option("recursiveFileLookup", "true").parquet(self.path)
        return raw.distinct().orderBy("h").limit(self.k)

    def estimate(self) -> int:
        rows = [r["h"] for r in self.hashes().collect()]
        return self._estimate_from(sorted(rows))

    def _estimate_from(self, hs: list[int]) -> int:
        two32 = 1 << 32
        if len(hs) < self.k:
            return len(hs)
        theta = hs[-1]
        return (len(hs) - 1) * two32 // theta

    def set_ops(self, other: "ThetaStreamingSketch") -> dict[str, int]:
        """Union / intersection estimates between two sketches — the
        operation HLL registers cannot answer directly.  k-row driver
        math (both sketches are ≤ k hashes by construction)."""
        if other.k != self.k:
            raise ValueError("sketches must share k")
        two32 = 1 << 32
        a = sorted(r["h"] for r in self.hashes().collect())
        b = sorted(r["h"] for r in other.hashes().collect())
        union = sorted(set(a) | set(b))[: self.k]
        saturated = len(union) == self.k
        theta = union[-1] if saturated else two32
        below = len(union) - 1 if saturated else len(union)
        est_union = below * two32 // theta
        c = len([h for h in set(a) & set(b) if h < theta])
        return {
            "est_a": self._estimate_from(a),
            "est_b": other._estimate_from(b),
            "est_union": est_union,
            "est_intersection": c * two32 // theta,
        }

    def compact(self) -> None:
        """Fold the per-batch log to ≤ k rows (estimates unchanged).
        Same crash-repair contract as the HLL log; run only while no
        stream is writing."""
        live, tmp, old = _compact_dirs(self.path)
        self.hashes().coalesce(1).write.mode("overwrite").parquet(tmp)
        swap(live, tmp, old)
