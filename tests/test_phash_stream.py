"""Incremental perceptual-hash near-dup (streaming multimodal tier):
the stream must find exactly the pairs the batch pipeline
(dedup.fingerprint_hamming_pairs over the corpus snapshot) finds,
regardless of how payloads are split across arrival batches; a
replayed epoch must leave both state tables bit-identical; and
compact_every keeps partition counts bounded."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup, multimodal
from datasette_upload_csvs_spark.streaming.epoch_write import BASE_EPOCH
from datasette_upload_csvs_spark.streaming.phash_stream import (
    maintain_phash_stream,
    phash_epoch,
)


def _media_corpus(spark, sf_dir):
    """documents-derived media plus an exact-payload twin of every
    5th doc — guaranteed hamming-0 pairs that cross arrival batches
    (twin ids land in a different mod-3 class than their base)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = multimodal.fake_documents_media(docs).select(
        "media_id", "payload"
    )
    twins = media.filter(F.pmod("media_id", F.lit(5)) == 0).select(
        (F.col("media_id") + F.lit(10_000_001)).alias("media_id"),
        "payload",
    )
    return media.unionByName(twins)


def _batch_pairs(corpus):
    fp = multimodal.perceptual_hashes(corpus).select("media_id", "dhash64")
    return {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.fingerprint_hamming_pairs(
            fp, "dhash64", "media_id", max_hamming=2
        ).collect()
    }


def _drain(spark, corpus, tmp_path, tables, **kw):
    src = str(tmp_path / "media_stream")
    os.makedirs(src, exist_ok=True)
    for i in range(3):
        part = corpus.filter(F.pmod("media_id", F.lit(3)) == i)
        d = str(tmp_path / f"m{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        name = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(d, name), os.path.join(src, f"arrival_{i}.parquet")
        )
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return maintain_phash_stream(
        spark,
        src,
        "media_id bigint, payload binary",
        pairs_table=tables[0],
        fp_table=tables[1],
        max_hamming=2,
        **kw,
    )


def test_phash_stream_equals_batch(spark, sf_dir, tmp_path):
    corpus = _media_corpus(spark, sf_dir)
    n = _drain(spark, corpus, tmp_path, ("ph_pairs", "ph_fp"))
    assert n == 3
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("ph_pairs").collect()
    }
    assert got == _batch_pairs(corpus) and got
    # fingerprint store holds each payload's hash exactly once
    fp = spark.table("ph_fp")
    assert fp.count() == fp.select("media_id").distinct().count() == corpus.count()
    # every planted twin found at hamming 0
    planted = {
        r["media_id"] for r in corpus.filter(F.col("media_id") > 10_000_000).collect()
    }
    found_b = {b for _, b, h in got if h == 0}
    assert planted <= found_b
    for t in ("ph_pairs", "ph_fp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_phash_epoch_replay_idempotent(spark, sf_dir):
    corpus = _media_corpus(spark, sf_dir)
    b0 = corpus.filter(F.pmod("media_id", F.lit(2)) == 0)
    b1 = corpus.filter(F.pmod("media_id", F.lit(2)) == 1)
    tables = ("phr_pairs", "phr_fp")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    phash_epoch(b0, 0, *tables)
    phash_epoch(b1, 1, *tables)
    snap = {
        t: sorted(map(tuple, spark.table(t).collect())) for t in tables
    }
    phash_epoch(b1, 1, *tables)  # at-least-once redelivery
    for t in tables:
        assert sorted(map(tuple, spark.table(t).collect())) == snap[t], t
    # and the two-epoch split equals the batch pipeline
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("phr_pairs").collect()
    }
    assert got == _batch_pairs(corpus)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_phash_stream_compaction_bounded(spark, sf_dir, tmp_path):
    corpus = _media_corpus(spark, sf_dir)
    n = _drain(
        spark, corpus, tmp_path, ("phc_pairs", "phc_fp"), compact_every=2
    )
    assert n == 3
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table("phc_pairs").collect()
    }
    assert got == _batch_pairs(corpus)
    for t in ("phc_pairs", "phc_fp"):
        parts = sorted(
            r["_batch_id"]
            for r in spark.table(t).select("_batch_id").distinct().collect()
        )
        assert parts[0] == BASE_EPOCH and len(parts) <= 3, (t, parts)
    for t in ("phc_pairs", "phc_fp"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_phash_stream_empty_arrival_folds_and_probes_once(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An empty arrival file is delivered as its own micro-batch: it
    is not counted as processed, the fold scheduled on its epoch still
    runs, and every delivered batch is probed for emptiness exactly
    once (by phash_epoch — the drain itself never probes)."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    corpus = _media_corpus(spark, sf_dir)
    src = str(tmp_path / "media_stream_empty")
    os.makedirs(src)
    parts = [
        corpus.filter(F.pmod("media_id", F.lit(3)) == i) for i in range(3)
    ] + [corpus.limit(0)]  # the last epoch's arrival holds no rows
    for i, part in enumerate(parts):
        d = str(tmp_path / f"e{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        name = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"arrival_{i}.parquet")
        shutil.copy(os.path.join(d, name), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))  # arrival order
    tables = ("phe_pairs", "phe_fp")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    probes = []
    is_empty = ClassicDataFrame.isEmpty

    def counting_is_empty(self):
        probes.append(1)
        return is_empty(self)

    monkeypatch.setattr(ClassicDataFrame, "isEmpty", counting_is_empty)
    n = maintain_phash_stream(
        spark,
        src,
        "media_id bigint, payload binary",
        pairs_table=tables[0],
        fp_table=tables[1],
        max_hamming=2,
        compact_every=1,
    )
    monkeypatch.undo()

    assert n == 3  # the empty epoch is delivered but not processed
    assert len(probes) == len(parts)  # one probe per delivered batch
    for t in tables:
        got_parts = {
            r["_batch_id"]
            for r in spark.table(t).select("_batch_id").distinct().collect()
        }
        # epoch 3 (empty) still folded epochs 0..2 into BASE
        assert got_parts == {BASE_EPOCH}, (t, got_parts)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in spark.table(tables[0]).collect()
    }
    assert got == _batch_pairs(corpus)
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
