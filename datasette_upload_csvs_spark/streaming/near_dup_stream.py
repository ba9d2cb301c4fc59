"""Incremental NEAR-duplicate detection: new documents checked
against everything already ingested, without re-scanning history.

The batch near-dup pipeline (operators/dedup.py) is all-pairs within
one corpus snapshot. A training-data ingest needs the incremental
question instead: "is this NEW document a near-dup of anything seen
BEFORE?" — answered per micro-batch against a maintained LSH band
index:

  per batch:  signatures(new docs) → band keys
              ⋈ stored band table          → new-vs-history candidates
              ⋈ batch's own band keys       → new-vs-new candidates
              exact-verify candidates (Jaccard on shingle-hash sets)
              write pairs/bands/sets into this epoch's `_batch_id`
              partitions (dynamic partition overwrite — idempotent
              under replay; see streaming/epoch_write.py)

State is the band table — O(corpus × bands) small keys, a TABLE, not
executor memory, so it survives restarts and scales with storage.
Each batch's work is proportional to the batch and its candidates,
never to corpus history. foreachBatch because the index is read AND
appended within one batch (mutable-state join, like streaming/cdc.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators.dedup import (
    cap_bucket_side,
    _band_keys,
    _hash_shingle_frame,
    _jaccard_verify,
    _signatures_from_hashes,
)
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    read_state,
    stage_meter,
    write_epoch_partition,
)


#: probe-key broadcast guard: the (band, bucket) key set of one
#: micro-batch is hint-broadcast for the history prune only below
#: this many keys (batch_docs × n_bands); above it the semi-join is
#: left to AQE's runtime sizing (no driver-side collect risk).
_PROBE_KEY_BROADCAST_MAX = 5_000_000


def semi_prune_fused(
    hist: DataFrame,
    keys_src: DataFrame,
    key_cols: list,
    broadcast_probe: bool,
    materialize: bool = False,
) -> DataFrame:
    """Left-semi-reduce ``hist`` to rows sharing ``key_cols`` with
    ``keys_src``, probing on ONE fused 64-bit key — xxhash64 over the
    key columns — instead of the composite key. A single-long join
    key gets Spark's dense long-keyed hashed relation; the composite
    key pays generic row hashing per probe. Measured on the 66M-row
    near-dup index at a 26k-doc batch: 9.9 s → 1.9 s for the
    scan+semi stage (the dominant term of every probe epoch once
    history >> batch); re-verified end-to-end at 71.5M rows in r15
    (2.2× epoch wall, 2.8× task-time vs the composite key —
    BENCH_PROBE_SCALE.json).

    Correctness: a fused-key collision can only ADMIT a foreign
    history row — every consumer re-matches survivors on the REAL
    key columns (candidate joins / anti joins), so emitted rows are
    unchanged; the survivor superset is only what the cap stage
    sees. Expected extra rows ≈ |keys|·|hist| / 2^64 — zero in
    practice. The probe-key distinct also shrinks: one 8-byte long
    instead of the composite row.

    ``materialize=True`` eagerly localCheckpoints the SURVIVORS so
    multi-consumer callers (the cap guard's stats aggregate + tagged
    join + auto frame) read one materialization instead of
    re-deriving the scan+semi lineage per subtree. Use it when the
    semi INPUT embeds per-row expansion work (the phash/wide_fp
    probe, wide_fp_stream.fp_probe_epoch, probes an n_chunks×
    Generate over the fingerprint store) and survivors are
    match-bounded (small): measured at 2M-fp stores, epoch wall
    −23% (phash) / −25% (wide_fp) at 32 cores and −15% / −22% at 8
    cores, task-time −15% / −35% (BENCH_PROBE_SCALE.json). Do NOT
    use it where survivors are themselves O(millions) — on the
    71.5M-row near-dup index the checkpoint write+barrier cost 1.7×
    the epoch wall at 32 idle cores (it only paid under 8-core
    saturation), so near_dup keeps the plain semi. Row-identical
    either way (a checkpoint changes execution, never contents).

    Executor-loss caveat: a localCheckpoint truncates lineage and
    keeps its blocks only on the executors that computed them, so
    survivor blocks lost to an executor failure or a dynamic-
    allocation decommission cannot be recomputed — the epoch fails
    instead of recovering (restarting the drain from its checkpoint
    redelivers the epoch, which replays idempotently). Long-running
    drains on clusters with dynamic allocation are the exposed case."""
    k = F.xxhash64(*[F.col(c) for c in key_cols])
    pk = keys_src.select(k.alias("_pk")).distinct()
    if broadcast_probe:
        pk = F.broadcast(pk)
    out = (
        hist.withColumn("_pk", k)
        .join(pk, "_pk", "left_semi")
        .drop("_pk")
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
    return out


def near_dup_epoch(
    batch_df: DataFrame,
    epoch: int,
    pairs_table: str,
    index_table: str,
    threshold: float = 0.7,
    num_perm: int = 128,
    n_bands: int = 32,
    bucket_star_cap: int | str | None = None,
    on_stage=None,
    batch_rows_max: int | None = None,
) -> dict | None:
    """One epoch of incremental near-dup maintenance — factored out of
    the foreachBatch closure so the replay test can invoke a single
    epoch directly. Exactly-once across the three mutable stores
    (pairs / bands / sets) under at-least-once redelivery via the
    shared epoch_write recipe: history reads mask this epoch's own
    ``_batch_id`` partition, writes are per-epoch dynamic partition
    overwrites (see streaming/epoch_write.py).

    ``bucket_star_cap`` (default None = historical behavior): the
    joined-against band relation has oversized (band, bucket) groups
    collapsed to their min-id anchor (dedup.cap_bucket_side) — a
    sub-threshold template family accumulated in the maintained
    index then costs each probe 1 candidate per band instead of K
    (the same s-curve failure mode BENCH_DEDUP_SKEW measures for the
    batch operator). Jaccard is still exactly verified on every
    emitted pair; genuine families stay CC-connected through anchor
    edges, since every member was a probe once.

    PROBE-BUCKET PRUNING (round-13, the history-coupling fix): the
    maintained band index is joined on (band, bucket), so index rows
    whose key no row of THIS batch carries can never contribute a
    candidate — they used to be unioned, cap-aggregated, and shuffled
    anyway, making every epoch's shuffle O(index) instead of
    O(batch + matches). History bands are now LEFT-SEMI reduced to
    the batch's own (band, bucket) key set before the cap and the
    candidate join: the index is SCANNED once per epoch (columnar,
    no shuffle) and only matching buckets enter the joins. The same
    reduction applies to the shingle-set store: only doc_ids that
    appear in a surviving candidate are read into the verify join.
    Emitted pairs are unchanged for any FIXED cap (pruned-away rows
    could never join); with cap="auto" the guard's forecast now sees
    the probed buckets' distribution instead of the whole index's —
    the statistic that actually governs this epoch's join mass.

    Returns ``{"cand_pairs": n}`` — the distinct candidate count this
    epoch generated (the quantity ``bucket_star_cap`` bounds; verified
    pairs can be 0 on a sub-threshold relation while candidates grow
    with history). The count rides the pairs write via Observation —
    no extra job. None for an empty batch.

    ``batch_rows_max`` (optional): a caller-known UPPER BOUND on
    ``batch_df``'s row count (e.g. funnel_epoch's pre-dedup batch
    count). When provided, this epoch runs TWO fewer Spark jobs: the
    ``isEmpty`` probe (0 means empty → return None; a positive bound
    skips the probe) and the ``sets.count()`` broadcast guard (the
    bound decides instead — conservative: a bound over the broadcast
    limit falls back to AQE sizing, never the reverse). A positive
    bound over an all-duplicate batch runs the epoch's empty plans
    instead of short-circuiting — writes of empty frames write no
    partitions, and the return is ``{"cand_pairs": 0}`` rather than
    None.

    ``on_stage(epoch, stage, seconds)`` (optional) is the per-stage
    cost meter: when set, sub-stage boundaries are FORCED eager
    (counts on persisted frames) so each stage's wall is attributable
    — slightly different execution than the unmetered plan, so
    benchmark headline numbers come from unmetered runs. (The
    candidate checkpoint is NOT attribution-only: it always runs, see
    the inline note.) Stages: nd_sig, nd_cand, nd_verify_pairs,
    nd_index_write, nd_sets_write."""
    from pyspark.sql import Observation

    if batch_rows_max is not None:
        if batch_rows_max == 0:
            return None
    elif batch_df.isEmpty():
        return None
    _stage = stage_meter(on_stage, epoch)
    spark = batch_df.sparkSession
    rows = num_perm // n_bands
    sets_table = f"{index_table}__sets"
    sets = _hash_shingle_frame(batch_df, "text", "doc_id", 3).persist()
    sig = _signatures_from_hashes(sets, "doc_id", num_perm)
    new_bands = _band_keys(sig, "doc_id", n_bands, rows).persist()
    if on_stage is not None:
        new_bands.count()
    _stage("nd_sig")

    have_index = spark.catalog.tableExists(index_table)
    if have_index:
        # the session caches table file listings; inside a
        # foreachBatch thread a previous batch's append is NOT
        # automatically visible — without the refresh, batch N
        # joins against batch N-2's index and silently misses
        # pairs (observed: stale index_rows across epochs)
        spark.catalog.refreshTable(index_table)
        # mask our own partition: on a replay the first attempt may
        # already have written this batch's bands
        old_bands = read_state(spark, index_table, epoch).select(
            "doc_id", "band", "bucket"
        )
        # history prune (see docstring): scan the index, keep only
        # the batch's buckets — probed on the fused single-long key
        # (semi_prune_fused; survivors re-match on the real
        # (band, bucket) in the candidate join below). Broadcast the
        # probe keys while the bound (batch_docs × n_bands distinct
        # keys at most) is small; past the guard let AQE size the
        # semi at runtime. The caller-supplied bound replaces the
        # count job when available (see batch_rows_max).
        n_docs_bound = (
            batch_rows_max if batch_rows_max is not None else sets.count()
        )
        old_bands = semi_prune_fused(
            old_bands,
            new_bands,
            ["band", "bucket"],
            n_docs_bound * n_bands <= _PROBE_KEY_BROADCAST_MAX,
        )
        all_bands = old_bands.unionByName(new_bands)
    else:
        all_bands = new_bands
    all_bands = cap_bucket_side(
        all_bands, ["band", "bucket"], "doc_id", bucket_star_cap
    )
    # candidates where at least one side is NEW: join new bands
    # against (old + new); a<b dedups the in-batch mirror pairs
    cand = (
        new_bands.alias("a")
        .join(all_bands.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("id_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    obs = Observation()
    cand = cand.observe(obs, F.count(F.lit(1)).alias("cand_pairs"))
    # materialize candidates eagerly: the relation has TWO consumers
    # below (the verify join and its id-reduction semi), and a lazy
    # persist lets the verify job's concurrent stages RACE the cache
    # and compute the band join twice (measured +45% per epoch at
    # 13k-doc batches). Candidates are 16 B/pair and cap-bounded, so
    # the checkpoint write is trivial; it also cuts the verify plan's
    # lineage at the candidate boundary (the batch operator's
    # scratch-barrier argument, minhash_lsh_candidates).
    cand = cand.localCheckpoint(eager=True)
    _stage("nd_cand")
    if spark.catalog.tableExists(sets_table):
        spark.catalog.refreshTable(sets_table)
        old_sets = read_state(spark, sets_table, epoch).select(
            *sets.columns
        )
        all_sets = old_sets.unionByName(sets)
    else:
        all_sets = sets
    # verify-input reduction: only docs that appear in a candidate
    # need their shingle sets read. The id list is candidate-bounded
    # (small under any cap), so AQE turns the semi into a broadcast
    # at runtime — the set store is scanned, never shuffled.
    cand_ids = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    all_sets = all_sets.join(cand_ids, "doc_id", "left_semi")
    pairs = _jaccard_verify(cand, all_sets, "doc_id", threshold)
    # The pairs write materializes its plan BEFORE the index/sets
    # writes mutate the tables that plan reads — keep this order.
    write_epoch_partition(
        pairs.withColumn("_batch_id", F.lit(epoch)), pairs_table
    )
    _stage("nd_verify_pairs")
    write_epoch_partition(
        new_bands.withColumn("_batch_id", F.lit(epoch)), index_table
    )
    _stage("nd_index_write")
    write_epoch_partition(
        sets.withColumn("_batch_id", F.lit(epoch)), sets_table
    )
    _stage("nd_sets_write")
    sets.unpersist()
    new_bands.unpersist()
    return {"cand_pairs": obs.get["cand_pairs"]}


def maintain_near_dup_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    pairs_table: str,
    index_table: str,
    threshold: float = 0.7,
    num_perm: int = 128,
    n_bands: int = 32,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    major_every: int | None = None,
    bucket_star_cap: int | str | None = None,
) -> int:
    """Drain a parquet stream of (doc_id, text) into near-dup PAIRS
    (pairs_table) while maintaining the LSH band index + shingle-set
    store (index_table, index_table + '__sets'). Trigger.AvailableNow;
    returns micro-batches processed. Pair direction: id_a < id_b, so
    batch-vs-history and in-batch pairs land identically to a batch
    run over the full corpus (verified by test).

    `checkpoint_dir` makes the stream RESUMABLE: a stopped/killed
    query restarted with the same checkpoint skips already-committed
    source files, so the maintained index keeps extending instead of
    reprocessing history (restart test proves index == batch-rebuilt).
    All three tables are `_batch_id`-partitioned with masked reads +
    per-epoch dynamic partition overwrite (see near_dup_epoch), so
    BOTH the common between-batch kill AND a mid-batch kill+replay
    recover to exactly the contents of an uninterrupted run.

    ``compact_every`` / ``major_every`` fold all three tables on the
    shared drain's schedule (epoch_write.drain_epochs: major-only
    folds every N epochs, or the generational tiered_compact schedule
    with majors every M — and why folding inside the sink is
    replay-safe)."""

    epoch_fn = functools.partial(
        near_dup_epoch,
        pairs_table=pairs_table,
        index_table=index_table,
        threshold=threshold,
        num_perm=num_perm,
        n_bands=n_bands,
        bucket_star_cap=bucket_star_cap,
    )
    return drain_epochs(
        spark,
        source_dir,
        schema,
        epoch_fn,
        (pairs_table, index_table, f"{index_table}__sets"),
        checkpoint_dir=checkpoint_dir,
        compact_every=compact_every,
        major_every=major_every,
    )
