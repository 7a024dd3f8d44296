"""The two on-disk publish protocols every storage writer shares.

``ledgered_sink`` / ``log_sink`` turn at-least-once ``foreachBatch``
delivery (a failed batch is REPLAYED with the same id) into
effectively-once writes.  ``swap`` / ``drop`` replace or delete a
directory so that ``recover``, run before the next read or rewrite,
repairs a crash at any point.  Callers choose every path and keep the
side paths hidden from their readers (underscore- or dot-prefixed
names, which Spark's file listing skips).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame


def ledgered_sink(
    stream_df: DataFrame,
    checkpoint: str,
    ledger_name: str,
    commit_batch,
    available_now: bool = True,
):
    """Start a foreachBatch query that runs
    ``commit_batch(batch_df, batch_id, txn_scope)`` once per micro-batch
    id: skip if the checkpoint-local ledger marks the batch done, else
    commit and write the mark (the commit's return value, if any).
    ``txn_scope`` is the absolute checkpoint path, the prefix writers use
    for idempotency tokens that must not collide across checkpoints.
    The mark is only a fast-path skip when the writer records the batch
    itself (``VersionedStore``'s in-manifest ``txn``, ``log_sink``'s
    published directory); otherwise a crash between the commit and the
    mark replays that one batch.

    ``available_now=False`` keeps ONE long-lived micro-batch query
    instead of drain-and-terminate: a caller interleaving publishes
    with derived-view maintenance synchronizes on
    ``query.processAllAvailable()`` per wave and stops the query at
    the end — each wave then costs zero query-startup/teardown
    (checkpoint resolution, offset-log replay, trigger spin-up),
    which on the continuous CDC→IVM loop was a restart per wave (the
    micro-batch engine fires no batch while no new files exist, so idle
    periods between waves commit nothing)."""
    ledger = os.path.join(checkpoint, ledger_name)
    txn_scope = os.path.abspath(checkpoint)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        mark = os.path.join(ledger, f"batch-{batch_id}.done")
        if os.path.exists(mark):
            return
        v = commit_batch(batch_df, batch_id, txn_scope)
        os.makedirs(ledger, exist_ok=True)
        with open(mark, "w") as fh:
            fh.write("done" if v is None else str(v))

    writer = stream_df.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime="50 milliseconds")
    )
    return writer.start()


def log_sink(
    stream_df: DataFrame,
    checkpoint: str,
    ledger_name: str,
    log_path: str,
    batch_rows: Callable[[DataFrame], DataFrame],
):
    """Ledgered sink for an append-only parquet log: each micro-batch
    writes ``batch_rows(batch_df)`` to ``<log>/._staging-batch-<id>``
    (overwrite clears a crashed run's partial output) and ONE rename
    publishes it as ``<log>/batch-<id>``.  The published directory is
    the idempotency mark, so a replay whose ledger mark was lost (crash
    between publish and mark) still appends nothing."""

    def _publish(batch_df: DataFrame, batch_id: int, _scope: str) -> None:
        target = os.path.join(log_path, f"batch-{batch_id}")
        if os.path.isdir(target):
            return
        os.makedirs(log_path, exist_ok=True)
        tmp = os.path.join(log_path, f"._staging-batch-{batch_id}")
        batch_rows(batch_df).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, target)

    return ledgered_sink(stream_df, checkpoint, ledger_name, _publish)


def recover(live: str, staged: str, displaced: str) -> None:
    """Repair an interrupted ``swap``/``drop``: data left in
    ``displaced`` with ``live`` missing is restored; ``displaced`` next
    to a present ``live`` (the swap finished, its cleanup died) and any
    ``staged`` output are garbage."""
    if os.path.isdir(displaced):
        if os.path.isdir(live):
            shutil.rmtree(displaced)
        else:
            os.rename(displaced, live)
    if os.path.isdir(staged):
        shutil.rmtree(staged)


def swap(live: str, staged: str, displaced: str) -> None:
    """Replace directory ``live`` by the fully written ``staged``.  The
    only non-atomic window is between the two renames (``live`` briefly
    absent), which ``recover`` repairs."""
    os.rename(live, displaced)
    os.rename(staged, live)
    shutil.rmtree(displaced)


def drop(live: str, staged: str) -> None:
    """Delete directory ``live``.  It is first renamed to ``staged``,
    which ``recover`` always discards, so a crash mid-delete finishes
    the drop instead of restoring a half-deleted directory."""
    os.rename(live, staged)
    shutil.rmtree(staged)
