"""Incremental curation annotation: per-document quality, language,
and repetition verdicts computed as documents ARRIVE, appended to a
maintained annotations table.

The batch pipeline (pipeline.curate_corpus) re-derives annotations
for the whole corpus; an ingest-time pipeline wants them exactly
once per document, the moment the document lands. All three
annotators are per-doc (no cross-doc state), so the stream is
embarrassingly incremental — the interesting part is the contract:

  - exactly-once TABLE CONTENTS per doc_id across restarts.
    foreachBatch delivery is at-least-once (a crash after the sink
    write but before the offset commit replays the batch on
    restart), so the sink itself must be idempotent: every batch
    lands in its own `_batch_id` partition via dynamic partition
    overwrite, and a replayed batch OVERWRITES its partition instead
    of appending a duplicate. At-least-once delivery + idempotent
    write = exactly-once contents — the same recovery grain
    near_dup_stream.py documents.
  - stream == batch: after draining, the annotations table (minus
    the `_batch_id` bookkeeping column) must equal the batch
    operators run over the full corpus, bit for bit.

foreachBatch (not a plain writeStream sink) keeps the door open for
batch-local joins; Trigger.AvailableNow drains deterministically.
Contrast with near_dup_stream.py, where per-batch work joins a
maintained index — here each batch is self-contained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import curation, textstats
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    write_epoch_partition,
)


def annotate(batch: DataFrame) -> DataFrame:
    """One doc in, one annotation row out (quality score, language,
    repetition keep verdict) — pure Catalyst expressions, reusable
    verbatim by the batch path (the stream==batch proof depends on
    sharing this exact function)."""
    q = textstats.quality_scores(batch).select("doc_id", "quality_score")
    lang = textstats.language_id(batch).select("doc_id", "predicted_lang")
    rep = curation.repetition_stats(batch).select("doc_id", "keep")
    return (
        batch.select("doc_id")
        .join(q, "doc_id")
        .join(lang, "doc_id")
        .join(rep, "doc_id")
    )


def _write_batch(out: DataFrame, annotations_table: str) -> None:
    """Idempotent batch write: rows land in their `_batch_id`
    partition under dynamic partition overwrite, so a foreachBatch
    REPLAY (at-least-once delivery: crash after the write, before the
    offset commit) overwrites the identical partition rather than
    appending a duplicate. Epoch ids are stable across restarts, which
    is what makes the partition the correct idempotency key. Delegates
    to the shared streaming.epoch_write helper."""
    write_epoch_partition(out, annotations_table)


def annotate_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    annotations_table: str,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
) -> int:
    """Drain a parquet stream of (doc_id, text) into the annotations
    table via foreachBatch + Trigger.AvailableNow. Returns the number
    of micro-batches processed (every delivered batch, empty ones
    included). Re-running with the same checkpoint resumes from
    stored offsets — already-annotated files are never re-read, and a
    replayed epoch overwrites its own partition (_write_batch), so
    table contents stay exactly-once. ``compact_every`` folds the
    table on the shared drain's schedule (epoch_write.drain_epochs)."""

    def epoch_fn(batch: DataFrame, batch_id: int) -> dict:
        _write_batch(
            annotate(batch).withColumn("_batch_id", F.lit(batch_id)),
            annotations_table,
        )
        return {}

    return drain_epochs(
        spark,
        source_dir,
        schema,
        epoch_fn,
        (annotations_table,),
        checkpoint_dir=checkpoint_dir,
        compact_every=compact_every,
    )
