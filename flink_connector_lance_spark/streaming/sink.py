"""Structured Streaming sink with epoch-idempotent commits.

The reference's sink is unbounded-capable and achieves exactly-once by
flushing its buffer on every checkpoint (ref LanceSink.java:234-239,
insert-only changelog ref table/LanceDynamicTableSink.java:52-56). The
Spark-native equivalent (SURVEY.md §7.1 M9) is ``foreachBatch``: each
micro-batch commits ONE dataset version, and a persisted epoch ledger
makes re-delivered batches (after failure/restart) no-ops, so
at-least-once delivery + idempotent commit = exactly-once output.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..options import DatasetOptions, WriteMode
from ..sources import fragments as FR
from ..sources.writer import write_dataset

EPOCHS_DIR = "_epochs"
EPOCH_META_KEY = "stream_epoch"


def _epoch_marker(path: str, epoch_id: int) -> str:
    return os.path.join(path, EPOCHS_DIR, f"{epoch_id}.json")


def epoch_committed(path: str, epoch_id: int,
                    storage_options: dict | None = None) -> bool:
    """True iff this epoch's rows are already in a committed version.

    The authoritative record is the epoch id INSIDE the manifest (written
    atomically with the version commit — no crash window); the ``_epochs``
    marker file is only a fast path that avoids walking the manifest
    chain on the common no-redelivery case. s3:// datasets skip the
    marker and answer from the head manifest (an O(1) read — epoch
    values carry forward table-level)."""
    from ..sources.fs import is_remote

    if not is_remote(path) and os.path.exists(_epoch_marker(path, epoch_id)):
        return True
    return FR.meta_value_committed(path, EPOCH_META_KEY, epoch_id,
                                   storage_options)


def _write_epoch_marker(path: str, epoch_id: int, version: int) -> None:
    """Fast-path marker (the manifest meta is the authoritative record);
    remote datasets skip it — their idempotency check is already O(1)
    against the head manifest."""
    from ..sources.fs import is_remote

    if is_remote(path):
        return
    os.makedirs(os.path.join(path, EPOCHS_DIR), exist_ok=True)
    marker = _epoch_marker(path, epoch_id)
    with open(marker + ".tmp", "w") as fh:
        json.dump({"epoch": epoch_id, "version": version}, fh)
    os.replace(marker + ".tmp", marker)


def commit_epoch(batch_df: DataFrame, epoch_id: int, path: str,
                 options: DatasetOptions | None = None,
                 refresh_rollups: bool = False,
                 refresh_fts: bool = False) -> FR.Manifest | None:
    """Idempotent per-epoch append: skip if this epoch already committed
    (exactly-once under foreachBatch's at-least-once redelivery). The
    epoch id is part of the manifest commit itself, so a crash after the
    commit but before the marker write cannot cause a duplicate append —
    the redelivered epoch finds itself in the manifest chain.

    ``refresh_rollups=True`` refreshes every rollup after the commit —
    the streaming-materialized-view combination: each epoch is a pure
    append, so every refresh takes the INCREMENTAL path (delta
    partial-agg + merge, sized by the micro-batch). A crash between the
    data commit and the refresh merely leaves the rollup one epoch
    stale; the next refresh's covered-file diff catches it up — rollup
    freshness is eventually-consistent, rollup CORRECTNESS never at
    risk."""
    storage = (options.s3.to_storage_options()
               if options is not None and options.s3 is not None else None)
    if epoch_committed(path, epoch_id, storage):
        return None
    manifest = write_dataset(batch_df, path, mode=WriteMode.APPEND, options=options,
                             commit_meta={EPOCH_META_KEY: epoch_id})
    _write_epoch_marker(path, epoch_id, manifest.version)
    if refresh_rollups or refresh_fts:
        from ..sources.fs import store_for

        store = store_for(path, storage)
        s3 = options.s3 if options is not None else None
    if refresh_rollups:
        from ..sources.rollup import ROLLUPS_DIR, refresh_rollup

        for name in sorted(store.ls(os.path.join(path, ROLLUPS_DIR))):
            # per-epoch refresher: opt into state vacuum or the
            # rollup's version chain grows one commit per epoch
            refresh_rollup(batch_df.sparkSession, path, name,
                           vacuum_keep_versions=2, s3=s3)
    if refresh_fts:
        # same eventual-freshness contract as the rollup refresh: pure
        # epoch appends keep every FTS refresh on the incremental path
        # (explode the micro-batch only), and a missed refresh is caught
        # up by the next epoch's covered-file diff
        from ..sources.fts import refresh_fts_index

        idx_root = os.path.join(path, "_indexes")
        for col in sorted(store.ls(idx_root)):
            if FR.is_dataset(os.path.join(idx_root, col, "fts"), storage):
                refresh_fts_index(batch_df.sparkSession, path, col, s3=s3)
    return manifest


def commit_epoch_upsert(batch_df: DataFrame, epoch_id: int, path: str, key: str,
                        order_col: str | None = None,
                        s3=None) -> FR.Manifest | None:
    """Idempotent per-epoch MERGE: upsert the micro-batch by ``key`` into
    the dataset as ONE atomic commit (sources.maintenance.merge_rows —
    copy-on-write, only affected fragments rewrite), skipping epochs
    already in the manifest chain. The streaming changelog analog the
    reference cannot express (its sink is insert-only,
    ref table/LanceDynamicTableSink.java:52-56): a CDC/upsert stream
    materializes to current-state-per-key instead of an append log.

    ``order_col``: last-writer-wins WITHIN a micro-batch — keep the row
    with the highest order_col per key (order_col ties broken by the
    lowest md5 of the row's JSON, so the winner is content-stable across
    runs and redeliveries, never partition luck). Without it, duplicate
    keys in one batch are an error (merge_rows' upsert contract).

    The first epoch against a non-existent dataset degrades to a plain
    append (there is nothing to merge into).

    s3:// datasets work too (pass ``s3=S3Options(...)``): the MERGE is
    the executor-direct remote rewrite, the epoch idempotency check is
    one head-manifest read."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ..sources.maintenance import merge_rows

    storage = s3.to_storage_options() if s3 is not None else None
    if epoch_committed(path, epoch_id, storage):
        return None
    b = batch_df
    if order_col is not None:
        w = Window.partitionBy(key).orderBy(
            F.col(order_col).desc(),
            F.md5(F.to_json(F.struct(*batch_df.columns))),
        )
        b = (b.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1).drop("__rn"))
    if not FR.is_dataset(path, storage):
        manifest = write_dataset(b, path, mode=WriteMode.APPEND,
                                 options=DatasetOptions(path=path, s3=s3),
                                 commit_meta={EPOCH_META_KEY: epoch_id})
    else:
        manifest = merge_rows(b.sparkSession, path, b, key,
                              commit_meta={EPOCH_META_KEY: epoch_id}, s3=s3)
    _write_epoch_marker(path, epoch_id, manifest.version)
    return manifest


def commit_epoch_dedup_append(batch_df: DataFrame, epoch_id: int, path: str,
                              key: str, s3=None) -> FR.Manifest | None:
    """Idempotent-by-KEY ingestion: append only rows whose ``key`` is not
    already in the dataset (first write wins, existing rows never touched)
    — the ingestion-dedup complement to the watermarked in-flight dedup
    (streaming/windows.dedup_stream), which cannot see keys that arrived
    before the watermark horizon or in a previous run.

    Within a batch, one row per key survives, chosen deterministically
    (lowest md5 of the row's JSON — content-stable, not partition-order
    luck). Against history, the batch anti-joins the dataset's KEY COLUMN
    only — parquet column pruning makes that a single-column scan, and
    AQE broadcasts the (tiny) batch side, so the per-epoch cost is a
    projection scan, not a full-table read. For high-rate CDC streams
    prefer stream_upsert_dataset (bounded work per epoch); this sink is
    the right shape when re-delivery of previously-ingested entities is
    occasional (backfills, crawler re-visits).

    Exactly-once via the same epoch ledger as the other sinks."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ..sources.reader import read_dataset

    storage = s3.to_storage_options() if s3 is not None else None
    if epoch_committed(path, epoch_id, storage):
        return None
    w = Window.partitionBy(key).orderBy(F.md5(F.to_json(F.struct(*batch_df.columns))))
    b = (batch_df.withColumn("__rn", F.row_number().over(w))
         .filter(F.col("__rn") == 1).drop("__rn"))
    if FR.is_dataset(path, storage):
        existing = read_dataset(b.sparkSession, path, columns=[key],
                                options=DatasetOptions(path=path, s3=s3))
        b = b.join(existing, on=key, how="left_anti")
    manifest = write_dataset(b, path, mode=WriteMode.APPEND,
                             options=DatasetOptions(path=path, s3=s3),
                             commit_meta={EPOCH_META_KEY: epoch_id})
    _write_epoch_marker(path, epoch_id, manifest.version)
    return manifest


def stream_dedup_append_dataset(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    key: str,
    trigger_available_now: bool = False,
    s3=None,
):
    """``writeStream.foreachBatch`` first-wins ingestion wiring: each
    micro-batch appends only never-seen keys (exactly-once epochs);
    ``s3=S3Options(...)`` targets an s3:// dataset."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda bdf, eid: commit_epoch_dedup_append(
            bdf, eid, path, key, s3=s3))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert_dataset(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    key: str,
    order_col: str | None = None,
    trigger_available_now: bool = False,
    s3=None,
):
    """``writeStream.foreachBatch`` upsert wiring: each micro-batch MERGEs
    by ``key`` (exactly-once via the same epoch ledger as
    stream_write_dataset) — reading the dataset always shows the latest
    row per key, with full MVCC history across epochs. Works against
    s3:// datasets (``s3=S3Options(...)``) — the per-epoch MERGE runs
    executor-direct."""
    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda bdf, eid: commit_epoch_upsert(
            bdf, eid, path, key, order_col, s3=s3))
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_write_dataset(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    options: DatasetOptions | None = None,
    trigger_available_now: bool = False,
    refresh_rollups: bool = False,
    refresh_fts: bool = False,
):
    """``writeStream.foreachBatch`` wiring: one version per micro-batch
    (insert-only, matching the reference's changelog declaration).
    ``refresh_rollups=True`` keeps every materialized rollup fresh per
    epoch (incremental delta merges — see commit_epoch);
    ``refresh_fts=True`` does the same for FTS inverted indexes (the
    continuously indexed search corpus)."""
    writer = (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda bdf, eid: commit_epoch(bdf, eid, path, options,
                                          refresh_rollups=refresh_rollups,
                                          refresh_fts=refresh_fts)
        )
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
