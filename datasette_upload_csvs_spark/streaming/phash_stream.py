"""Incremental binary-payload near-dup detection: perceptual hashes
of NEW media checked against everything already ingested, without
re-hashing history.

The multimodal twin of streaming/near_dup_stream.py (text) and
ann_stream.py (embeddings): an image-corpus ingest keeps asking "is
this NEW payload a near-duplicate of anything seen BEFORE?" —
boilerplate logos, re-encoded mirrors, watermark variants. Per-batch
work is one Arrow perceptual-hash pass over the batch plus a
pigeonhole chunk join against the maintained fingerprint table — the
fingerprint-probe epoch wide_fp_stream.fp_probe_epoch, shared with
the 128-bit SimHash stream:

  state:  fp table (media_id, dhash64) — one 8-byte fingerprint per
          payload ever seen; the ONLY thing history contributes, so
          the state table is O(ids), never O(payload bytes).
  batch:  perceptual_hashes (operators/multimodal.py — stride-stub
          decode, real dHash math) → 16-bit chunk keys for the batch
          AND for history (a map-only projection of the fp table) →
          join on (chunk, val), new-vs-history and new-vs-new →
          exact Hamming verify ≤ k (recall-exact for k ≤ 3,
          enforced) → write pairs + fingerprints into this epoch's
          ``_batch_id`` partitions.

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

from datasette_upload_csvs_spark.operators.dedup import _check_fp_chunking
from datasette_upload_csvs_spark.operators.multimodal import (
    perceptual_hashes,
)
from datasette_upload_csvs_spark.streaming.epoch_write import drain_epochs
from datasette_upload_csvs_spark.streaming.wide_fp_stream import (
    fp_probe_epoch,
)

# the phash fingerprint: one 64-bit dHash word probed in 4×16-bit chunks
_PHASH_COLS = ("dhash64",)
_PHASH_CHUNKS = 4


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
    per-epoch dynamic partition overwrites. The probe is
    wide_fp_stream.fp_probe_epoch over one 64-bit word in 4×16-bit
    chunks, so max_hamming ≥ 4 (recall-lossy) raises ValueError.

    ``bucket_star_cap`` (default None = historical behavior): the
    joined-against side of both candidate joins has oversized
    (chunk, val) buckets collapsed to their min-id anchor
    (dedup.cap_bucket_side) — a K-member perceptual-hash family in
    maintained state costs each probe 1 candidate per chunk instead
    of K; hamming still exactly verified on every emitted pair,
    families stay CC-connected through anchor edges.

    Returns ``{}`` for a processed batch, None for an empty one (the
    epoch-function contract epoch_write.drain_epochs counts by)."""
    return fp_probe_epoch(
        batch_df,
        epoch,
        functools.partial(
            perceptual_hashes, payload_col=payload_col, id_col=id_col
        ),
        _PHASH_COLS,
        pairs_table,
        fp_table,
        max_hamming,
        _PHASH_CHUNKS,
        id_col,
        bucket_star_cap,
    )


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
    see epoch_write.drain_epochs. A lossy ``max_hamming`` raises
    before the stream starts."""
    _check_fp_chunking(len(_PHASH_COLS), _PHASH_CHUNKS, max_hamming)
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
