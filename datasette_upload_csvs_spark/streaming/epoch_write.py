"""Idempotent per-epoch table writes for foreachBatch sinks.

Structured Streaming's foreachBatch is at-least-once: offsets commit
AFTER the sink returns, so a crash mid-batch replays the whole epoch.
Sinks that plain-append therefore double-write replayed rows. The
exactly-once recipe every stateful sink in this package uses:

  * every state table is partitioned by ``_batch_id`` (the epoch);
  * reads of history inside an epoch mask the epoch's OWN partition
    (``F.col("_batch_id") != epoch``) so a replay whose crash happened
    after a write still computes from the same inputs as the first
    attempt;
  * writes go through :func:`write_epoch_partition` — dynamic
    partition overwrite, so a replay REWRITES its partition instead of
    appending a second copy.

at-least-once delivery x (masked reads + idempotent partitioned
writes) = exactly-once table contents. Proven by the replay tests in
tests/test_curation_stream.py, tests/test_split_stream.py, and
tests/test_ann_stream.py. :func:`drain_epochs` is the one foreachBatch
drain loop the maintained-state streams share (schedule check,
in-sink compaction, epoch counting).

Compaction (round-8): one partition per epoch forever is the classic
small-file / partition-explosion failure at 100 TB-stream epoch
counts. :func:`compact_state_table` folds all CLOSED epochs
(``_batch_id < before_epoch``) into one BASE partition
(``_batch_id = -1``) so the partition count stays bounded at
base + open epochs, while the replay mask stays correct: the open
epoch's partition is never folded, so ``_batch_id != epoch`` masks
exactly what it did before. The fold is crash-repairable from
job-level atomicity alone (Spark's committed writes appear all or
not at all): it stages the merged history under a partition id that
ENCODES the watermark (``-(2 + before_epoch)``), so a re-run can
tell which of its four steps completed and resume — never
recomputing the merge from an already-promoted base (the
double-count hazard). Readers go through :func:`read_state`, which
masks the open epoch AND anything below the base id, so a staging
partition left by a crashed compaction is invisible to the stream.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the compacted-history partition: all folded closed epochs live here
BASE_EPOCH = -1

#: fold output sizing: ~one parquet row group per file. A fold that
#: coalesces history into a FIXED file count writes ever-larger files
#: whose single row group caps every later history scan's parallelism
#: at that file count (size-based splits cannot subdivide a row
#: group) — measured: the 2.08M-doc near-dup index folded to 8 files
#: scanned on 8 of 32 cores, 8.8-12.5 s of every probe epoch's
#: nd_cand. 32 MB files keep the scan parallel at any history size
#: while file count stays linear in bytes (a 3 TB state is ~100k
#: files — ordinary for a partitioned table).
_FOLD_FILE_BYTES = 32 * 1024 * 1024


def _fold_target_files(src_df, floor: int = 8) -> int:
    """Size-derived fold file count: ceil(window bytes / 32 MB), at
    least ``floor``. Reads only scan metadata (the pruned file list
    of the fold's own source partitions) — no job. Falls back to
    ``floor`` if the listing is unavailable (non-file table)."""
    import os

    try:
        total = 0
        for uri in src_df.inputFiles():
            p = uri
            if p.startswith("file:"):
                p = "/" + p[5:].lstrip("/")
            total += os.stat(p).st_size
    except Exception:
        return floor
    return max(floor, -(-total // _FOLD_FILE_BYTES))


def _staging_id(before_epoch: int) -> int:
    """Staging partition id for a fold up to `before_epoch` — the
    watermark rides in the id so a crashed run is resumable."""
    return -(2 + before_epoch)


def write_epoch_partition(
    out: DataFrame,
    table: str,
    part_col: str = "_batch_id",
    parquet_block_bytes: int | None = None,
) -> None:
    """Write ``out`` (which must carry a ``part_col`` column) into
    ``table`` under dynamic partition overwrite: only the partitions
    present in ``out`` are replaced, all other epochs' partitions are
    untouched. Creates the table (partitioned by ``part_col``) on
    first use. ``parquet_block_bytes`` overrides the parquet row-group
    size for THIS write (fold writes use _FOLD_FILE_BYTES so large
    folded files stay splittable — see _fold_target_files)."""
    spark = out.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        w = out.write
        if parquet_block_bytes is not None:
            w = w.option("parquet.block.size", parquet_block_bytes)
        if not spark.catalog.tableExists(table):
            w.mode("overwrite").partitionBy(part_col).saveAsTable(table)
        else:
            # insertInto is positional: align to the table column order
            cols = spark.table(table).columns
            w = out.select(*cols).write
            if parquet_block_bytes is not None:
                w = w.option("parquet.block.size", parquet_block_bytes)
            w.mode("overwrite").insertInto(table)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def read_state(spark, table: str, mask_epoch: int) -> DataFrame:
    """History read of a state table inside epoch `mask_epoch`: masks
    the epoch's OWN partition (the replay rule) and everything below
    BASE_EPOCH (staging partitions a crashed compaction may have left
    — without this guard a lingering staging would double-count the
    history it duplicates)."""
    return spark.table(table).filter(
        (F.col("_batch_id") != mask_epoch)
        & (F.col("_batch_id") >= BASE_EPOCH)
    )


def compact_state_table(
    spark,
    table: str,
    before_epoch: int,
    target_files: int | None = None,
    part_col: str = "_batch_id",
    sort_cols: list | None = None,
    since_epoch: int = 0,
    into_epoch: int | None = None,
) -> int:
    """Fold every closed epoch partition (0 ≤ _batch_id <
    before_epoch) into the BASE partition. Returns the number of
    epoch partitions folded.

    Run QUIESCED (between micro-batches / from a maintenance job) —
    never concurrently with an epoch that reads this table. Crash
    anywhere and simply re-run with the same `before_epoch`: each
    step is one job-atomic Spark write or metadata drop, and the
    staging id encodes the watermark, so the re-run resumes at the
    right step instead of re-merging into an already-promoted base:

      1. stage  : staging(-(2+W)) ← base(-1) ∪ epochs [0, W)
                  (skipped when staging exists — that is exactly the
                  signal the merge already committed);
      2. promote: base(-1) ← staging (dynamic overwrite; idempotent);
      3. drop the folded epoch partitions (DROP IF EXISTS);
      4. drop staging (and any stale staging from older watermarks).

    The caller picks `before_epoch`; the OPEN epoch (and any epoch
    the engine could still replay) must be above it — with Structured
    Streaming's single-inflight-epoch contract, `current_epoch` is
    always safe. `target_files` coalesces the folded history so the
    base partition is not the sum of every epoch's small files (the
    other half of the small-file failure); the default (None) derives
    the count from the window's own bytes — ~32 MB ≈ one row group
    per file (see _FOLD_FILE_BYTES: a fixed count caps every later
    history scan's parallelism at that count once files out-grow a
    row group). Pass an int to pin the layout explicitly.

    Cost model: each fold rewrites the base once — O(history) — and
    the merge transits the (spillable, MEMORY_AND_DISK) block manager
    via localCheckpoint, because Spark's self-insert check is
    table-level and would otherwise refuse the read-and-overwrite.
    Pick compact_every so the amortized O(history/N) per epoch is
    acceptable; at very large state, tier the folds (generational
    bases) the way LSM stores do — the staging/promote protocol here
    generalizes unchanged.

    ``part_col`` names the epoch/batch partition column — the fold is
    the same for any integer-partitioned state table (the maintained
    ShingleIndex reuses it with part_col="batch"). ``sort_cols``
    sorts the folded base within its files (postings tables keep
    their shingle-sorted row groups through folds).

    MINOR (generational) folds — the LSM tier that caps the
    O(history) rewrite: pass ``since_epoch=lo, into_epoch=hi-1`` to
    fold ONLY epochs [lo, hi) into the RUN partition ``hi-1`` —
    base is not read, not rewritten, and the fold's I/O is the
    window's, not the history's. Run ids are ordinary non-negative
    closed-epoch ids, so read_state and the replay mask need no
    change (a run is never the open epoch). A later MAJOR fold
    (into_epoch=None) absorbs runs and base alike — its [0, W)
    window matches run ids by construction. Same 4-step
    crash-repair protocol and the same contract: re-run with
    IDENTICAL arguments after a crash (the staging id encodes the
    watermark; the argument schedule must be deterministic, as
    ``tiered_compact``'s is). ``since_epoch`` must be 0 for major
    folds; ``since_epoch <= into_epoch < before_epoch`` for minor."""
    if into_epoch is None:
        if since_epoch != 0:
            raise ValueError(
                "major folds (into_epoch=None) must take since_epoch=0: "
                "the merge reads base, so a partial window would drop "
                "the skipped epochs' rows from it"
            )
    else:
        if not (0 <= since_epoch <= into_epoch < before_epoch):
            raise ValueError(
                f"minor fold needs 0 <= since_epoch({since_epoch}) <= "
                f"into_epoch({into_epoch}) < before_epoch({before_epoch})"
            )
    target = BASE_EPOCH if into_epoch is None else into_epoch
    if not spark.catalog.tableExists(table):
        return 0
    # invoked from the same foreachBatch threads whose epoch readers
    # document stale cached file listings — a stale listing here makes
    # the fold silently skip recently closed epoch partitions (content
    # stays correct, but the bounded-partition guarantee degrades)
    spark.catalog.refreshTable(table)
    stg = _staging_id(before_epoch)
    part_ids = [
        r[part_col]
        for r in spark.table(table).select(part_col).distinct().collect()
    ]
    window = sorted(
        p for p in part_ids if since_epoch <= p < before_epoch
    )
    stale = [p for p in part_ids if p < BASE_EPOCH and p != stg]
    done_already = window == [target] or not window
    if done_already and stg not in part_ids:
        # nothing to fold (or a completed re-run whose only window
        # partition is the promoted run itself)
        _drop_partitions(spark, table, stale, part_col)
        return 0
    cols = spark.table(table).columns
    if stg not in part_ids:
        src = (F.col(part_col) >= since_epoch) & (
            F.col(part_col) < before_epoch
        )
        if into_epoch is None:
            src = src | (F.col(part_col) == BASE_EPOCH)
        n_files = (
            _fold_target_files(spark.table(table).filter(src))
            if target_files is None
            else target_files
        )
        merged = (
            spark.table(table)
            .filter(src)
            .withColumn(part_col, F.lit(stg))
            .select(*cols)
            .coalesce(max(1, n_files))
        )
        if sort_cols:
            merged = merged.sortWithinPartitions(*sort_cols)
        # materialize OFF the table before overwriting it (Spark
        # refuses, correctly, to overwrite a table it is reading)
        write_epoch_partition(
            merged.localCheckpoint(),
            table,
            part_col,
            parquet_block_bytes=_FOLD_FILE_BYTES,
        )
    promoted = (
        spark.table(table)
        .filter(F.col(part_col) == stg)
        .withColumn(part_col, F.lit(target))
        .select(*cols)
        .localCheckpoint()
    )
    write_epoch_partition(
        promoted, table, part_col, parquet_block_bytes=_FOLD_FILE_BYTES
    )
    _drop_partitions(
        spark, table, [p for p in window if p != target], part_col
    )
    _drop_partitions(spark, table, [stg] + stale, part_col)
    return len(window)


def _check_fold_schedule(
    every: int | None, major_every: int | None, every_name: str
) -> None:
    """The fold-schedule rule of :func:`tiered_compact` and
    :func:`drain_epochs`: majors need a minor cadence and must land on
    one of its epochs (a multiple of it)."""
    if major_every is None:
        return
    if not every:
        raise ValueError(f"major_every requires {every_name}")
    if major_every % every != 0:
        raise ValueError(
            f"major_every({major_every}) must be a multiple of "
            f"{every_name}({every})"
        )


def tiered_compact(
    spark,
    table: str,
    epoch: int,
    minor_every: int,
    major_every: int | None = None,
    **kw,
) -> int:
    """LSM-style fold schedule — the amortization fix for the major
    fold's O(history) rewrite. Every ``minor_every`` epochs the
    newest closed window [epoch − minor_every, epoch) folds into the
    run partition ``epoch − 1`` (I/O = one window, NOT the history);
    every ``major_every`` epochs (must be a multiple of minor_every;
    None = never) runs and base fold into base. Between majors the
    partition count is ≤ base + runs (major_every / minor_every) +
    open-window epochs (< minor_every); amortized rewrite I/O per
    epoch is O(window + history / major_every) instead of
    O(history / compact_every).

    Deterministic in ``epoch`` alone — the crash-repair contract
    (re-run with identical arguments) holds for any at-least-once
    caller that re-invokes it with the replayed epoch id. Returns
    partitions folded (0 on off-schedule epochs)."""
    if minor_every < 1:
        raise ValueError(f"minor_every must be >= 1, got {minor_every}")
    _check_fold_schedule(minor_every, major_every, "minor_every")
    if epoch <= 0:
        return 0
    if major_every is not None and epoch % major_every == 0:
        return compact_state_table(spark, table, epoch, **kw)
    if epoch % minor_every == 0:
        return compact_state_table(
            spark,
            table,
            epoch,
            since_epoch=epoch - minor_every,
            into_epoch=epoch - 1,
            **kw,
        )
    return 0


def _drop_partitions(spark, table: str, ids, part_col: str = "_batch_id") -> None:
    if not ids:
        return
    specs = ", ".join(f"PARTITION ({part_col}={int(i)})" for i in ids)
    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")


def stage_meter(on_stage, epoch: int):
    """The ``on_stage(epoch, stage, seconds)`` meter protocol as one
    clock: ``mark(name)`` reports the seconds since the previous mark
    (or since creation) as stage ``name``; ``mark()`` restarts the
    clock without reporting (for spans a callee meters itself). A
    None ``on_stage`` makes every mark a no-op report."""
    t_mark = time.perf_counter()

    def mark(name: str | None = None) -> None:
        nonlocal t_mark
        now = time.perf_counter()
        if on_stage is not None and name is not None:
            on_stage(epoch, name, now - t_mark)
        t_mark = now

    return mark


def drain_epochs(
    spark,
    source_dir: str,
    schema: str,
    epoch_fn,
    tables,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    major_every: int | None = None,
    on_stage=None,
) -> int:
    """Drain a parquet arrival directory (one file per micro-batch,
    Trigger.AvailableNow) through ``epoch_fn(batch_df, epoch)`` and
    return the number of epochs it processed — those for which it
    returned non-None (epoch functions return None for an empty
    batch, so the drain never probes emptiness itself).
    ``checkpoint_dir`` makes the drain resumable: a restart with the
    same checkpoint skips committed arrival files.

    Compaction of ``tables`` (the stream's ``_batch_id``-partitioned
    state) runs inside the sink, BEFORE ``epoch_fn``, on every epoch
    with ``epoch % compact_every == 0``:

    * ``compact_every=N`` alone: a MAJOR fold of all closed epochs
      into BASE every N epochs (:func:`compact_state_table`) —
      bounded partitions, but each fold rewrites the history, an
      amortized O(history/N) per epoch.
    * ``compact_every=N, major_every=M`` (M a multiple of N; checked
      here, once, before the stream starts): the generational
      :func:`tiered_compact` schedule — every N epochs the newest
      closed window folds into a run partition (I/O = one window),
      every M epochs runs + base fold into BASE; amortized
      O(window + history/M) per epoch.

    Each fold is metered as ``on_stage(epoch, "compact:<table>", s)``.

    Why folding inside the sink is replay-safe: under Structured
    Streaming's single-inflight-epoch contract the epoch being
    delivered is the ONLY one the engine can still replay (its
    predecessors' offsets are committed). The fold's watermark is
    that epoch, so its partition is never folded and the replay mask
    (``_batch_id != epoch``, see :func:`read_state`) hides exactly
    what it hid before. A crash mid-fold replays the epoch, whose
    deterministic watermark resumes the fold at the right step (the
    staging id encodes it — see :func:`compact_state_table`).

    Why the fold runs before ``epoch_fn``'s empty-batch return: folds
    depend on the epoch id alone and are safe on empty batches; a
    fold scheduled on an epoch whose arrival file happened to be
    empty must still run, or its window's partitions stay unfolded
    until the next scheduled fold (a minor window under
    ``tiered_compact`` until the next major, or forever without
    one), voiding the bounded-partition guarantee."""
    _check_fold_schedule(compact_every, major_every, "compact_every")
    processed = 0

    def sink(batch_df: DataFrame, epoch: int) -> None:
        nonlocal processed
        if compact_every and epoch > 0 and epoch % compact_every == 0:
            sp = batch_df.sparkSession
            mark = stage_meter(on_stage, epoch)
            for t in tables:
                # compact_every alone = majors on every minor epoch
                tiered_compact(
                    sp, t, epoch, compact_every, major_every or compact_every
                )
                mark(f"compact:{t}")
        if epoch_fn(batch_df, epoch) is not None:
            processed += 1

    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()
    return processed
