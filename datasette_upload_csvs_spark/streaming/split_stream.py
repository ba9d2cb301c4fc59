"""Streaming leakage-safe train/val split assignment at ingest time.

The batch contract (operators/splits.py): a document's split label
is frozen the moment it is assigned; new documents near an existing
cluster ADOPT that cluster's split so near-duplicates never straddle
train/val. This module runs that contract as documents ARRIVE — each
micro-batch gets its labels the moment it lands, with near-dup edges
against ALL previously ingested documents coming from the maintained
ShingleIndex (zero corpus re-shingling per batch; the round-6
append_splits_from_index path under a stream).

Exactly-once across restarts, with TWO mutable stores in one epoch:

  per epoch (foreachBatch, at-least-once delivery):
    1. edges = index.edges_for_batch(batch, exclude_batch=epoch)
       — `exclude_batch` masks this epoch's own index partitions, so
       a REPLAY whose crash happened after the index append still
       computes the same edges the first attempt computed;
    2. prev  = splits table MINUS this epoch's own `_batch_id`
       partition — same masking, for the same reason, on the second
       store;
    3. new rows = append_splits(prev, batch, edges=…) restricted to
       the batch (edges eagerly materialized first — localCheckpoint
       — because step 4 mutates the tables the lazy edge plan reads);
    4. index.append(batch, batch=epoch)  (idempotent partition
       overwrite + commit marker, crash-invisible);
    5. write new rows into the splits table's `_batch_id=epoch`
       partition under dynamic partition overwrite (idempotent).

  Any crash point replays into identical table contents:
  at-least-once delivery x (masked reads + idempotent partitioned
  writes) = exactly-once labels AND index.

Stream == batch: draining the stream produces the same assignments
as running append_splits_from_index sequentially over the same
batches (tests/test_split_stream.py pins it, plus a mid-stream
replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import splits
from datasette_upload_csvs_spark.operators.shingle_index import ShingleIndex
from datasette_upload_csvs_spark.streaming.epoch_write import (
    read_state,
    write_epoch_partition,
)

_EMPTY_SPLITS = (
    "doc_id long, cluster_id long, split string, bridged boolean"
)


def _write_batch(out: DataFrame, table: str) -> None:
    """Idempotent per-epoch write (dynamic partition overwrite on
    `_batch_id` — the shared epoch_write recovery grain)."""
    write_epoch_partition(out, table)


def assign_batch(
    spark: SparkSession,
    index: ShingleIndex,
    splits_table: str,
    batch: DataFrame,
    epoch: int,
    threshold: float = 0.7,
    max_df: int = 20,
) -> None:
    """One epoch of streaming split assignment — factored out of the
    foreachBatch closure so the replay test can invoke a single epoch
    directly (the semantics must not depend on the streaming engine
    never re-delivering, because it may)."""
    edges = index.edges_for_batch(
        batch, threshold=threshold, max_df=max_df, exclude_batch=epoch
    ).localCheckpoint(eager=True)
    # The eager checkpoint materialized the edges plan — the index's
    # per-batch persisted frames are no longer referenced. Release them
    # NOW: this sink runs for the stream's lifetime, and skipping the
    # caching contract's cleanup grows executor storage every epoch.
    index.release_batch_cache()

    if spark.catalog.tableExists(splits_table):
        prev = read_state(spark, splits_table, epoch).select(
            "doc_id", "cluster_id", "split", "bridged"
        )
    else:
        prev = spark.createDataFrame([], _EMPTY_SPLITS)

    assigned = splits.append_splits(
        prev, batch, threshold=threshold, max_df=max_df, edges=edges
    )
    # keep only this batch's rows: prev rows are already stored
    new_rows = assigned.join(
        batch.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=True)  # materialize BEFORE mutating stores

    index.append(batch, batch=epoch)
    _write_batch(new_rows.withColumn("_batch_id", F.lit(epoch)), splits_table)


def assign_splits_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    index: ShingleIndex,
    splits_table: str,
    checkpoint_dir: str | None = None,
    threshold: float = 0.7,
    max_df: int = 20,
    compact_every: int | None = None,
) -> int:
    """Drain a parquet stream of (doc_id, text) into frozen split
    labels + the maintained index via foreachBatch +
    Trigger.AvailableNow. Returns the number of micro-batches.
    Restarting with the same checkpoint resumes from stored offsets;
    replayed epochs rewrite their own partitions identically.

    `compact_every=N` folds the splits table's closed epochs into its
    BASE partition every N epochs (epoch_write.compact_state_table) —
    same replay-safety argument as epoch_write.drain_epochs —
    AND folds the shingle index's committed batch partitions
    (ShingleIndex.compact, round 9): the watermark is the in-flight
    epoch, which under the single-inflight-epoch contract is the only
    batch `exclude_batch` could still need to mask, so nothing
    foldable is ever replayed. Both stores stay bounded under
    unbounded streams."""
    from datasette_upload_csvs_spark.streaming.epoch_write import (
        compact_state_table,
    )

    n_batches = 0

    def sink(batch: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_state_table(spark, splits_table, before_epoch=batch_id)
            index.compact(before_batch=batch_id)
        assign_batch(
            spark, index, splits_table, batch, batch_id,
            threshold=threshold, max_df=max_df,
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    writer = stream.writeStream.foreachBatch(sink).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()
    return n_batches
