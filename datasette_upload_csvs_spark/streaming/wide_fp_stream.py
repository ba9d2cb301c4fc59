"""Incremental WIDE-fingerprint near-dup detection: the 128-bit
SimHash tier (operators/dedup.simhash128 +
fingerprint_hamming_pairs_wide) under a stream.

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

Exactly-once via the shared epoch_write recipe (masked reads +
per-epoch dynamic partition overwrite); both state tables fold under
``compact_every``. Stream == batch pinned by
tests/test_wide_fp_stream.py against fingerprint_hamming_pairs_wide
over the full corpus snapshot.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    read_state,
    write_epoch_partition,
)

FP_COLS = ("fp0", "fp1")


def _wide_chunks(
    fp: DataFrame, id_col: str, n_chunks: int = 4
) -> DataFrame:
    """(id, fp0, fp1, chunk, val): the multi-word pigeonhole keys —
    the same slicing dedup._fp_near_dup_pairs uses (chunk i of word w
    covers bits [bits·j, bits·(j+1)), j = i mod cpw), map-only."""
    n_words = len(FP_COLS)
    cpw = n_chunks // n_words
    bits = 64 // cpw
    mask = (1 << bits) - 1

    def val(w, j):
        if cpw == 1:
            return F.col(FP_COLS[w])
        return F.shiftrightunsigned(
            F.col(FP_COLS[w]), bits * j
        ).bitwiseAND(F.lit(mask))

    return fp.select(
        F.col(id_col),
        *[F.col(c) for c in FP_COLS],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w * cpw + j).alias("chunk"),
                        val(w, j).alias("val"),
                    )
                    for w in range(len(FP_COLS))
                    for j in range(cpw)
                ]
            )
        ).alias("cc"),
    ).select(id_col, *FP_COLS, "cc.chunk", "cc.val")


def _ham(prefix_a: str, prefix_b: str):
    return F.bit_count(
        F.col(f"{prefix_a}0").bitwiseXOR(F.col(f"{prefix_b}0"))
    ) + F.bit_count(
        F.col(f"{prefix_a}1").bitwiseXOR(F.col(f"{prefix_b}1"))
    )


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
    Recall contract matches the batch operator: exact for
    max_hamming ≤ n_chunks−1 (enforced), with the same n_chunks
    validation as fingerprint_hamming_pairs_wide — an n_chunks that
    is not a multiple of the word count would make _wide_chunks emit
    FEWER chunks than nominal (n_chunks=3 → cpw=1 → 2 chunks) and
    the nominal-count guard below would silently under-protect.

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
    n_words = len(FP_COLS)
    if n_chunks % n_words != 0:
        raise ValueError(
            f"n_chunks={n_chunks} must be a multiple of the fingerprint "
            f"word count {n_words}"
        )
    if (n_chunks // n_words) not in (1, 2, 4, 8, 16):
        raise ValueError(
            f"chunks-per-word must be one of 1/2/4/8/16, got "
            f"{n_chunks // n_words}"
        )
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming={max_hamming} with n_chunks={n_chunks} is "
            "recall-LOSSY; raise n_chunks"
        )
    if batch_df.isEmpty():
        return None
    sp = batch_df.sparkSession
    fp_new = (
        dedup.simhash128(batch_df, text_col, id_col, portable=portable)
        .select(id_col, *FP_COLS)
        .persist()
    )
    new_chunks = _wide_chunks(fp_new, id_col, n_chunks).persist()

    cands = []
    if sp.catalog.tableExists(fp_table):
        # foreachBatch threads cache file listings — refresh or batch
        # N joins against batch N-2's fingerprints (the stale-listing
        # bug near_dup_epoch documents)
        sp.catalog.refreshTable(fp_table)
        # probe-bucket pruning (round-13, same move as
        # near_dup_epoch): history chunks whose (chunk, val) key no
        # batch row carries can never contribute a candidate —
        # left-semi them away BEFORE the cap's groupBy, so the
        # per-epoch shuffle is O(batch + matches), not O(history).
        # The chunk expansion itself stays map-side over the fp
        # scan. Hint-broadcast the batch's key set while bounded.
        from datasette_upload_csvs_spark.streaming.near_dup_stream import (
            _PROBE_KEY_BROADCAST_MAX,
            semi_prune_fused,
        )

        # materialize=True (r15): the semi's input embeds the
        # n_chunks× Generate over the fingerprint store, and the cap
        # guard below re-derives that scan+expand per subtree;
        # survivors are match-bounded, so one eager checkpoint
        # computes the expansion once — epoch wall −25% at 32 cores
        # / −22% at 8 on the 2M-fp leg (BENCH_PROBE_SCALE.json).
        hist_chunks = dedup.cap_bucket_side(
            semi_prune_fused(
                _wide_chunks(
                    read_state(sp, fp_table, epoch).select(
                        id_col, *FP_COLS
                    ),
                    id_col,
                    n_chunks,
                ),
                new_chunks,
                ["chunk", "val"],
                fp_new.count() * n_chunks <= _PROBE_KEY_BROADCAST_MAX,
                materialize=True,
            ),
            ["chunk", "val"],
            id_col,
            bucket_star_cap,
        )
        cands.append(  # new vs history — direction normalized
            new_chunks.select(
                F.col(id_col).alias("id_n"),
                F.col("fp0").alias("n0"),
                F.col("fp1").alias("n1"),
                "chunk",
                "val",
            )
            .join(
                hist_chunks.select(
                    F.col(id_col).alias("id_h"),
                    F.col("fp0").alias("h0"),
                    F.col("fp1").alias("h1"),
                    "chunk",
                    "val",
                ),
                ["chunk", "val"],
            )
            .select(
                F.least("id_h", "id_n").alias("id_a"),
                F.greatest("id_h", "id_n").alias("id_b"),
                _ham("n", "h").alias("hamming"),
            )
        )
    a = new_chunks.select(
        F.col(id_col).alias("id_a"),
        F.col("fp0").alias("a0"),
        F.col("fp1").alias("a1"),
        "chunk",
        "val",
    )
    b = dedup.cap_bucket_side(
        new_chunks, ["chunk", "val"], id_col, bucket_star_cap
    ).select(
        F.col(id_col).alias("id_b"),
        F.col("fp0").alias("b0"),
        F.col("fp1").alias("b1"),
        "chunk",
        "val",
    )
    nn = a.join(b, ["chunk", "val"])
    if bucket_star_cap is None:
        # symmetric self-join: a<b halves the mirror pairs up front
        nn = nn.filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", _ham("a", "b").alias("hamming")
        )
    else:
        # right side is anchor-capped (asymmetric): an anchor is the
        # bucket MIN, so a<b would drop every (member, anchor) star
        # edge — normalize instead; the shared distinct dedups
        nn = nn.filter(F.col("id_a") != F.col("id_b")).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            _ham("a", "b").alias("hamming"),
        )
    cands.append(nn)  # new vs new
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
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
    selects the generational tiered_compact schedule)."""
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
