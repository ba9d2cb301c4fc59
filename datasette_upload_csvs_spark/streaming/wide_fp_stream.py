"""Incremental WIDE-fingerprint near-dup detection: the 128-bit
SimHash tier (operators/dedup.simhash128 +
fingerprint_hamming_pairs_wide) under a stream, and the one
fingerprint-probe epoch (fp_probe_epoch) that it and
streaming/phash_stream.py share.

The scale-regime twin of streaming/phash_stream.py: a text-corpus
ingest keeps asking "is this NEW document a near-duplicate of
anything seen BEFORE?" — at 10⁸⁺-document state the 64-bit tier's
16-bit pigeonhole keys densify quadratic (BENCH_FP_SCALE.json), so
the maintained state here is the two-word fingerprint and the
incremental join buckets on 32-bit keys:

  state:  fp table (doc_id, fp0, fp1) — 16 bytes per document ever
          seen; the ONLY thing history contributes (never text).
  batch:  simhash128 over the batch (one md5 per token, both words)
          → (64·w/c)-bit chunk keys for batch AND history (a
          map-only projection of the fp table) → join on
          (chunk, val), new-vs-history and new-vs-new → exact
          128-bit Hamming verify ≤ k (recall-exact for k ≤
          n_chunks−1) → write pairs + fingerprints into this
          epoch's ``_batch_id`` partitions.

Chunk keys, Hamming and the recall-radius rule are the batch
operator's (dedup._fp_chunk_keys / _hamming / _check_fp_chunking).
Exactly-once via the shared epoch_write recipe (masked reads +
per-epoch dynamic partition overwrite); both state tables fold under
``compact_every``. Stream == batch pinned by
tests/test_wide_fp_stream.py against fingerprint_hamming_pairs_wide
over the full corpus snapshot.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup
from datasette_upload_csvs_spark.operators.dedup import (
    _check_fp_chunking,
    _fp_chunk_keys,
    _hamming,
)
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    read_state,
    write_epoch_partition,
)
from datasette_upload_csvs_spark.streaming.near_dup_stream import (
    _PROBE_KEY_BROADCAST_MAX,
    semi_prune_fused,
)

FP_COLS = ("fp0", "fp1")


def fp_probe_epoch(
    batch_df: DataFrame,
    epoch: int,
    fingerprint: Callable[[DataFrame], DataFrame],
    fp_cols,
    pairs_table: str,
    fp_table: str,
    max_hamming: int,
    n_chunks: int,
    id_col: str,
    bucket_star_cap: int | str | None,
) -> dict | None:
    """One epoch of incremental fingerprint near-dup maintenance over
    the pigeonhole chunk join: ``fingerprint`` maps the batch to
    (id_col, *fp_cols) 64-bit words; new fingerprints are probed
    against the maintained fp table (new-vs-history) and against
    each other (new-vs-new), every candidate is exactly Hamming-
    verified ≤ max_hamming, and pairs + fingerprints are written into
    this epoch's ``_batch_id`` partitions (history reads mask it, so
    a replayed epoch is idempotent). The chunking/radius rule is
    checked first — max_hamming ≥ n_chunks would silently lose pairs.

    ``bucket_star_cap``: see wide_fp_epoch. Returns ``{}`` for a
    processed batch, None for an empty one (the epoch-function
    contract epoch_write.drain_epochs counts by)."""
    _check_fp_chunking(len(fp_cols), n_chunks, max_hamming)
    if batch_df.isEmpty():
        return None
    sp = batch_df.sparkSession
    keys = ["chunk", "val"]
    fp_new = fingerprint(batch_df).select(id_col, *fp_cols).persist()
    new_chunks = _fp_chunk_keys(fp_new, fp_cols, id_col, n_chunks).persist()

    def side(chunks: DataFrame, id_alias: str, prefix: str) -> DataFrame:
        return chunks.select(
            F.col(id_col).alias(id_alias),
            *[F.col(c).alias(prefix + c) for c in fp_cols],
            *keys,
        )

    cands = []
    if sp.catalog.tableExists(fp_table):
        # foreachBatch threads cache file listings — refresh or batch
        # N joins against batch N-2's fingerprints (the stale-listing
        # bug near_dup_epoch documents)
        sp.catalog.refreshTable(fp_table)
        # probe-bucket pruning: history chunks whose (chunk, val) key
        # no batch row carries can never contribute a candidate —
        # left-semi them away BEFORE the cap's groupBy, so the
        # per-epoch shuffle is O(batch + matches), not O(history).
        # The chunk expansion stays map-side over the fp scan;
        # materialize=True computes it once for the cap guard's
        # several consumers (see semi_prune_fused).
        hist_chunks = dedup.cap_bucket_side(
            semi_prune_fused(
                _fp_chunk_keys(
                    read_state(sp, fp_table, epoch), fp_cols, id_col,
                    n_chunks,
                ),
                new_chunks,
                keys,
                fp_new.count() * n_chunks <= _PROBE_KEY_BROADCAST_MAX,
                materialize=True,
            ),
            keys,
            id_col,
            bucket_star_cap,
        )
        cands.append(  # new vs history — direction normalized
            side(new_chunks, "id_n", "n_")
            .join(side(hist_chunks, "id_h", "h_"), keys)
            .select(
                F.least("id_h", "id_n").alias("id_a"),
                F.greatest("id_h", "id_n").alias("id_b"),
                _hamming(fp_cols, "n_", "h_").alias("hamming"),
            )
        )
    nn = side(new_chunks, "id_a", "a_").join(
        side(
            dedup.cap_bucket_side(new_chunks, keys, id_col, bucket_star_cap),
            "id_b",
            "b_",
        ),
        keys,
    )
    ham = _hamming(fp_cols, "a_", "b_").alias("hamming")
    if bucket_star_cap is None:
        # symmetric self-join: a<b halves the mirror pairs up front
        nn = nn.filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", ham
        )
    else:
        # right side is anchor-capped (asymmetric): an anchor is the
        # bucket MIN, so a<b would drop every (member, anchor) star
        # edge — normalize instead; the shared distinct dedups
        nn = nn.filter(F.col("id_a") != F.col("id_b")).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            ham,
        )
    cand = functools.reduce(DataFrame.unionByName, cands + [nn])
    pairs = (
        cand.distinct()
        .filter(F.col("hamming") <= max_hamming)
        .withColumn("_batch_id", F.lit(epoch))
    )
    # pairs write materializes BEFORE the fp append, so a crash
    # between the two replays into masked reads + partition rewrite
    write_epoch_partition(pairs, pairs_table)
    write_epoch_partition(
        fp_new.withColumn("_batch_id", F.lit(epoch)), fp_table
    )
    new_chunks.unpersist()
    fp_new.unpersist()
    return {}


def wide_fp_epoch(
    batch_df: DataFrame,
    epoch: int,
    pairs_table: str,
    fp_table: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
    bucket_star_cap: int | str | None = None,
) -> dict | None:
    """One epoch of incremental 128-bit near-dup maintenance —
    factored out of the foreachBatch closure so the replay test can
    invoke a single epoch directly. Exactly-once across both mutable
    stores under at-least-once redelivery (epoch_write recipe).
    Recall contract and n_chunks validation match the batch operator
    fingerprint_hamming_pairs_wide: n_chunks a multiple of the word
    count with 1/2/4/8/16 chunks per word, exact for max_hamming ≤
    n_chunks−1 (enforced).

    ``bucket_star_cap`` (default None = historical exact behavior):
    the joined-AGAINST side of both candidate joins (maintained
    history, and the batch's own self-join right side) has its
    oversized (chunk, val) buckets collapsed to their min-id anchor
    (dedup.cap_bucket_side) — a dense fingerprint family of K docs
    in 10⁸-doc state then costs each probe 1 candidate instead of K,
    per chunk. Hamming is still exactly verified on every emitted
    pair; families stay CC-connected through anchor edges (every
    member was a probe once), the batch operators' recall
    contract.

    Returns ``{}`` for a processed batch, None for an empty one (the
    epoch-function contract epoch_write.drain_epochs counts by)."""
    return fp_probe_epoch(
        batch_df,
        epoch,
        lambda b: dedup.simhash128(b, text_col, id_col, portable=portable),
        FP_COLS,
        pairs_table,
        fp_table,
        max_hamming,
        n_chunks,
        id_col,
        bucket_star_cap,
    )


def maintain_wide_fp_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    pairs_table: str,
    fp_table: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    major_every: int | None = None,
    portable: bool = True,
    bucket_star_cap: int | str | None = None,
) -> int:
    """Drain a parquet stream of (doc_id, text) into 128-bit near-dup
    PAIRS while maintaining the fingerprint table.
    Trigger.AvailableNow; returns micro-batches processed.
    Exactly-once via wide_fp_epoch; ``checkpoint_dir``,
    ``compact_every`` and ``major_every`` (both tables folded) are the
    shared drain's — see epoch_write.drain_epochs (``major_every``
    selects the generational tiered_compact schedule). A bad
    ``n_chunks``/``max_hamming`` raises before the stream starts."""
    _check_fp_chunking(len(FP_COLS), n_chunks, max_hamming)
    epoch_fn = functools.partial(
        wide_fp_epoch,
        pairs_table=pairs_table,
        fp_table=fp_table,
        max_hamming=max_hamming,
        n_chunks=n_chunks,
        portable=portable,
        bucket_star_cap=bucket_star_cap,
    )
    return drain_epochs(
        spark,
        source_dir,
        schema,
        epoch_fn,
        (pairs_table, fp_table),
        checkpoint_dir=checkpoint_dir,
        compact_every=compact_every,
        major_every=major_every,
    )
