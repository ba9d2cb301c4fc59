"""Incremental 128-bit SimHash near-dup (streaming scale-regime
tier): the stream must find exactly the pairs the batch pipeline
(dedup.fingerprint_hamming_pairs_wide over the corpus snapshot)
finds, regardless of how documents split across arrival batches; a
replayed epoch must leave both state tables bit-identical; and
compact_every keeps partition counts bounded."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup
from datasette_upload_csvs_spark.streaming.epoch_write import BASE_EPOCH
from datasette_upload_csvs_spark.streaming.wide_fp_stream import (
    maintain_wide_fp_stream,
    wide_fp_epoch,
)


def _doc_corpus(spark, sf_dir):
    """documents plus an exact-text twin of every 5th doc — guaranteed
    hamming-0 pairs that cross arrival batches (twin ids land in a
    different mod-3 class than their base)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    twins = docs.filter(F.pmod("doc_id", F.lit(5)) == 0).select(
        (F.col("doc_id") + F.lit(10_000_001)).alias("doc_id"), "text"
    )
    return docs.unionByName(twins)


def _batch_pairs(corpus):
    fp = dedup.simhash128(corpus)
    return {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "doc_id", max_hamming=3
        ).collect()
    }


def _drain(spark, corpus, tmp_path, tables, **kw):
    src = str(tmp_path / "doc_stream")
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        part = corpus.filter(F.pmod("doc_id", F.lit(3)) == i)
        d = str(tmp_path / f"d{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        name = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(d, name), os.path.join(src, f"arrival_{i}.parquet")
        )
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return maintain_wide_fp_stream(
        spark,
        src,
        "doc_id bigint, text string",
        pairs_table=tables[0],
        fp_table=tables[1],
        max_hamming=3,
        **kw,
    )


def test_wide_fp_stream_equals_batch(spark, sf_dir, tmp_path):
    corpus = _doc_corpus(spark, sf_dir)
    n = _drain(spark, corpus, tmp_path, ("wf_pairs", "wf_fp"))
    assert n == 3
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("wf_pairs").collect()
    }
    assert got == _batch_pairs(corpus) and got
    # fingerprint store holds each doc's two words exactly once
    fp = spark.table("wf_fp")
    assert fp.count() == fp.select("doc_id").distinct().count() == corpus.count()
    # every planted twin found at hamming 0
    planted = {
        r["doc_id"] for r in corpus.filter(F.col("doc_id") > 10_000_000).collect()
    }
    found_b = {b for _, b, h in got if h == 0}
    assert planted <= found_b
    for t in ("wf_pairs", "wf_fp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_wide_fp_epoch_replay_idempotent(spark, sf_dir):
    corpus = _doc_corpus(spark, sf_dir)
    b0 = corpus.filter(F.pmod("doc_id", F.lit(2)) == 0)
    b1 = corpus.filter(F.pmod("doc_id", F.lit(2)) == 1)
    tables = ("wfr_pairs", "wfr_fp")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    wide_fp_epoch(b0, 0, *tables)
    wide_fp_epoch(b1, 1, *tables)
    snap = {
        t: sorted(map(tuple, spark.table(t).collect())) for t in tables
    }
    wide_fp_epoch(b1, 1, *tables)  # at-least-once redelivery
    for t in tables:
        assert sorted(map(tuple, spark.table(t).collect())) == snap[t], t
    # and the two-epoch split equals the batch pipeline
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("wfr_pairs").collect()
    }
    assert got == _batch_pairs(corpus)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_wide_fp_stream_compaction_bounded(spark, sf_dir, tmp_path):
    corpus = _doc_corpus(spark, sf_dir)
    n = _drain(
        spark, corpus, tmp_path, ("wfc_pairs", "wfc_fp"), compact_every=2
    )
    assert n == 3
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("wfc_pairs").collect()
    }
    assert got == _batch_pairs(corpus)
    for t in ("wfc_pairs", "wfc_fp"):
        parts = sorted(
            r["_batch_id"]
            for r in spark.table(t).select("_batch_id").distinct().collect()
        )
        assert parts[0] == BASE_EPOCH and len(parts) <= 3, (t, parts)
    for t in ("wfc_pairs", "wfc_fp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_wide_fp_epoch_recall_contract(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        wide_fp_epoch(df, 0, "x_pairs", "x_fp", max_hamming=4, n_chunks=4)


def test_wide_fp_stream_tiered_schedule(spark, sf_dir, tmp_path):
    """compact_every=minor, major_every=major: the generational fold
    under a live stream — same pair results, partitions bounded, and
    a major that is not a multiple of the minor is rejected."""
    corpus = _doc_corpus(spark, sf_dir)
    n = _drain(
        spark, corpus, tmp_path, ("wft_pairs", "wft_fp"),
        compact_every=1, major_every=2,
    )
    assert n == 3
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("wft_pairs").collect()
    }
    assert got == _batch_pairs(corpus)
    for t in ("wft_pairs", "wft_fp"):
        parts = sorted(
            r["_batch_id"]
            for r in spark.table(t).select("_batch_id").distinct().collect()
        )
        assert parts[0] == BASE_EPOCH and len(parts) <= 3, (t, parts)
    with pytest.raises(ValueError):
        maintain_wide_fp_stream(
            spark, "/nonexistent", "doc_id bigint, text string",
            "x_p", "x_f", compact_every=2, major_every=3,
        )
    for t in ("wft_pairs", "wft_fp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
