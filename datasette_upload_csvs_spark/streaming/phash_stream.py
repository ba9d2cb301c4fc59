"""Incremental binary-payload near-dup detection: perceptual hashes
of NEW media checked against everything already ingested, without
re-hashing history.

The multimodal twin of streaming/near_dup_stream.py (text) and
ann_stream.py (embeddings): an image-corpus ingest keeps asking "is
this NEW payload a near-duplicate of anything seen BEFORE?" —
boilerplate logos, re-encoded mirrors, watermark variants. Per-batch
work is one Arrow perceptual-hash pass over the batch plus a
pigeonhole chunk join against the maintained fingerprint table:

  state:  fp table (media_id, dhash64) — one 8-byte fingerprint per
          payload ever seen; the ONLY thing history contributes, so
          the state table is O(ids), never O(payload bytes).
  batch:  perceptual_hashes (operators/multimodal.py — stride-stub
          decode, real dHash math) → 16-bit chunk keys for the batch
          AND for history (a map-only projection of the fp table) →
          join on (chunk, val), new-vs-history and new-vs-new →
          exact Hamming verify ≤ k (recall-exact for k ≤ 3) → write
          pairs + fingerprints into this epoch's ``_batch_id``
          partitions.

Exactly-once via the shared epoch_write recipe (masked reads +
per-epoch dynamic partition overwrite), and the fp table is eligible
for compact_state_table folding like every other state table —
`compact_every` wires it in. Stream == batch pinned by
tests/test_phash_stream.py against dedup.fingerprint_hamming_pairs
over the full corpus snapshot.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup as _dedup
from datasette_upload_csvs_spark.operators.multimodal import (
    perceptual_hashes,
)
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    read_state,
    write_epoch_partition,
)


def _fp_chunks(fp: DataFrame, id_col: str = "media_id") -> DataFrame:
    """(id, dhash64, chunk, val): the 4×16-bit pigeonhole keys — the
    same bucketing dedup._fp_near_dup_pairs uses, map-only."""
    return fp.select(
        F.col(id_col),
        F.col("dhash64"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("dhash64"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("cc"),
    ).select(id_col, "dhash64", "cc.chunk", "cc.val")


def phash_epoch(
    batch_df: DataFrame,
    epoch: int,
    pairs_table: str,
    fp_table: str,
    max_hamming: int = 2,
    payload_col: str = "payload",
    id_col: str = "media_id",
    bucket_star_cap: int | str | None = None,
) -> dict | None:
    """One epoch of incremental perceptual-hash maintenance —
    factored out of the foreachBatch closure so the replay test can
    invoke a single epoch directly. Exactly-once across both mutable
    stores under at-least-once redelivery (epoch_write recipe):
    history reads mask this epoch's own partition, writes are
    per-epoch dynamic partition overwrites.

    ``bucket_star_cap`` (default None = historical behavior): the
    joined-against side of both candidate joins has oversized
    (chunk, val) buckets collapsed to their min-id anchor
    (dedup.cap_bucket_side) — a K-member perceptual-hash family in
    maintained state costs each probe 1 candidate per chunk instead
    of K; hamming still exactly verified on every emitted pair,
    families stay CC-connected through anchor edges.

    Returns ``{}`` for a processed batch, None for an empty one (the
    epoch-function contract epoch_write.drain_epochs counts by)."""
    if batch_df.isEmpty():
        return None
    sp = batch_df.sparkSession
    fp_new = perceptual_hashes(
        batch_df, payload_col=payload_col, id_col=id_col
    ).select(id_col, "dhash64").persist()
    new_chunks = _fp_chunks(fp_new, id_col).persist()

    cands = []
    if sp.catalog.tableExists(fp_table):
        # foreachBatch threads cache file listings — refresh or batch
        # N joins against batch N-2's fingerprints (the stale-listing
        # bug near_dup_epoch documents)
        sp.catalog.refreshTable(fp_table)
        # probe-bucket pruning (round-13, same move as
        # near_dup_epoch): only history chunks sharing a (chunk,
        # val) key with THIS batch can contribute a candidate —
        # semi-reduce before the cap so the per-epoch shuffle is
        # O(batch + matches), not O(history). 4 chunks per phash.
        from datasette_upload_csvs_spark.streaming.near_dup_stream import (
            _PROBE_KEY_BROADCAST_MAX,
            semi_prune_fused,
        )

        # materialize=True (r15): the semi's input embeds the 4×
        # chunk Generate over the fingerprint store, and the cap
        # guard below re-derives that scan+expand per subtree (stats
        # aggregate + tagged join); survivors are match-bounded, so
        # one eager checkpoint computes the expansion once — epoch
        # wall −23% at 32 cores / −15% at 8 on the 2M-fp leg
        # (BENCH_PROBE_SCALE.json).
        hist_chunks = _dedup.cap_bucket_side(
            semi_prune_fused(
                _fp_chunks(
                    read_state(sp, fp_table, epoch).select(
                        id_col, "dhash64"
                    ),
                    id_col,
                ),
                new_chunks,
                ["chunk", "val"],
                fp_new.count() * 4 <= _PROBE_KEY_BROADCAST_MAX,
                materialize=True,
            ),
            ["chunk", "val"],
            id_col,
            bucket_star_cap,
        )
        cands.append(  # new vs history — direction normalized
            new_chunks.select(
                F.col(id_col).alias("id_n"),
                F.col("dhash64").alias("fp_n"),
                "chunk",
                "val",
            )
            .join(
                hist_chunks.select(
                    F.col(id_col).alias("id_h"),
                    F.col("dhash64").alias("fp_h"),
                    "chunk",
                    "val",
                ),
                ["chunk", "val"],
            )
            .select(
                F.least("id_h", "id_n").alias("id_a"),
                F.greatest("id_h", "id_n").alias("id_b"),
                F.bit_count(
                    F.col("fp_n").bitwiseXOR(F.col("fp_h"))
                ).alias("hamming"),
            )
        )
    a = new_chunks.select(
        F.col(id_col).alias("id_a"), F.col("dhash64").alias("fp_a"),
        "chunk", "val",
    )
    b = _dedup.cap_bucket_side(
        new_chunks, ["chunk", "val"], id_col, bucket_star_cap
    ).select(
        F.col(id_col).alias("id_b"), F.col("dhash64").alias("fp_b"),
        "chunk", "val",
    )
    nn = a.join(b, ["chunk", "val"])
    if bucket_star_cap is None:
        nn = nn.filter(F.col("id_a") < F.col("id_b")).select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias(
                "hamming"
            ),
        )
    else:
        # right side is anchor-capped: a<b would drop every
        # (member, anchor) star edge — normalize; distinct dedups
        nn = nn.filter(F.col("id_a") != F.col("id_b")).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias(
                "hamming"
            ),
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


def maintain_phash_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    pairs_table: str,
    fp_table: str,
    max_hamming: int = 2,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    bucket_star_cap: int | str | None = None,
) -> int:
    """Drain a parquet stream of (media_id, payload) into perceptual
    near-dup PAIRS while maintaining the fingerprint table.
    Trigger.AvailableNow; returns micro-batches processed.
    Exactly-once via phash_epoch; ``checkpoint_dir`` and
    ``compact_every`` (both tables folded) are the shared drain's —
    see epoch_write.drain_epochs."""
    epoch_fn = functools.partial(
        phash_epoch,
        pairs_table=pairs_table,
        fp_table=fp_table,
        max_hamming=max_hamming,
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
    )
