"""Streaming twin of the oversized-bucket guard: a dense fingerprint
family accumulated in maintained state makes every probe join all K
members per chunk/band. With bucket_star_cap the joined-against side
collapses oversized buckets to their min-id anchor
(dedup.cap_bucket_side): per-probe candidates drop from K to 1,
hamming/jaccard verify still runs on every emitted pair, and
connected components are preserved (each member was a probe once and
joined the then-anchor)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup, graph
from datasette_upload_csvs_spark.streaming.near_dup_stream import (
    near_dup_epoch,
)
from datasette_upload_csvs_spark.streaming.phash_stream import phash_epoch
from datasette_upload_csvs_spark.streaming.wide_fp_stream import (
    wide_fp_epoch,
)


def _epoch_docs(spark, ids, text):
    return spark.createDataFrame(
        [(i, text if i < 90_000 else f"uniq{i} " + " ".join(
            f"u{i}w{j}" for j in range(20)
        )) for i in ids],
        "doc_id long, text string",
    )


FAMILY_TEXT = " ".join(f"fam{j:02d}" for j in range(30))


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _phash_docs_epoch(batch, epoch, pairs_t, fp_t, bucket_star_cap):
    """phash_epoch over the same docs, the text bytes as payload."""
    return phash_epoch(
        batch.withColumn("payload", F.encode("text", "utf-8")),
        epoch, pairs_t, fp_t, id_col="doc_id",
        bucket_star_cap=bucket_star_cap,
    )


def _run_wide(spark, prefix, cap, epoch_fn=wide_fp_epoch,
              family_only=False):
    pairs_t, fp_t = f"{prefix}_pairs", f"{prefix}_fp"
    _drop(spark, pairs_t, fp_t)
    # epoch 0: 40-member exact-fp family + 5 unique docs
    epoch_fn(
        _epoch_docs(spark, list(range(40)) + list(range(90_000, 90_005)),
                    FAMILY_TEXT),
        0, pairs_t, fp_t, bucket_star_cap=cap,
    )
    # epoch 1: 10 more family members + 5 unique
    epoch_fn(
        _epoch_docs(
            spark,
            list(range(100, 110)) + list(range(90_005, 90_010)),
            FAMILY_TEXT,
        ),
        1, pairs_t, fp_t, bucket_star_cap=cap,
    )
    out = spark.table(pairs_t).select("id_a", "id_b")
    n = (
        out.filter(F.col("id_b") < 90_000) if family_only else out
    ).count()
    comp = {
        r["vertex"]: r["component"]
        for r in graph.connected_components(out).collect()
    }
    _drop(spark, pairs_t, fp_t)
    return n, comp


def test_wide_fp_stream_cap_preserves_components(spark):
    n_uncapped, comp_uncapped = _run_wide(spark, "wfpcap_a", None)
    n_capped, comp_capped = _run_wide(spark, "wfpcap_b", 8)
    # uncapped: C(40,2) + C(10,2) + 40*10 cross = 1225 family pairs
    assert n_uncapped == 1225
    # capped: anchor stars only — 39 + (10 history + 9 in-batch) = 58
    assert n_capped == 58
    assert comp_capped == comp_uncapped
    fam = set(range(40)) | set(range(100, 110))
    assert {comp_capped[v] for v in fam} == {0}
    spark.catalog.clearCache()


def test_phash_stream_cap_preserves_components(spark):
    """The same family run through phash_epoch's bucket_star_cap
    path (the shared fingerprint-probe epoch over one 64-bit word):
    family-id pairs only, since unique payloads may land within the
    perceptual-hash radius of each other."""
    n_uncapped, comp_uncapped = _run_wide(
        spark, "phcap_a", None, _phash_docs_epoch, family_only=True
    )
    n_capped, comp_capped = _run_wide(
        spark, "phcap_b", 8, _phash_docs_epoch, family_only=True
    )
    assert n_uncapped == 1225
    assert n_capped == 58
    assert comp_capped == comp_uncapped
    fam = set(range(40)) | set(range(100, 110))
    assert {comp_capped[v] for v in fam} == {0}
    spark.catalog.clearCache()


def _run_minhash(spark, prefix, cap):
    pairs_t, idx_t = f"{prefix}_pairs", f"{prefix}_idx"
    _drop(spark, pairs_t, idx_t, f"{idx_t}__sets")
    near_dup_epoch(
        _epoch_docs(spark, list(range(30)) + list(range(90_000, 90_004)),
                    FAMILY_TEXT),
        0, pairs_t, idx_t, bucket_star_cap=cap,
    )
    near_dup_epoch(
        _epoch_docs(spark, list(range(100, 108)), FAMILY_TEXT),
        1, pairs_t, idx_t, bucket_star_cap=cap,
    )
    out = spark.table(pairs_t).select("id_a", "id_b")
    n = out.count()
    comp = {
        r["vertex"]: r["component"]
        for r in graph.connected_components(out).collect()
    }
    _drop(spark, pairs_t, idx_t, f"{idx_t}__sets")
    return n, comp


def test_near_dup_stream_cap_preserves_components(spark):
    n_uncapped, comp_uncapped = _run_minhash(spark, "ndcap_a", None)
    n_capped, comp_capped = _run_minhash(spark, "ndcap_b", 8)
    assert n_capped < n_uncapped / 5, (n_capped, n_uncapped)
    assert comp_capped == comp_uncapped
    fam = set(range(30)) | set(range(100, 108))
    assert {comp_capped[v] for v in fam} == {0}
    spark.catalog.clearCache()


def test_cap_bucket_side_validation_and_identity(spark):
    rel = spark.createDataFrame(
        [(1, 7, 0), (2, 7, 0), (3, 8, 0)], "doc_id long, val long, chunk int"
    )
    with pytest.raises(ValueError):
        dedup.cap_bucket_side(rel, ["chunk", "val"], "doc_id", 1)
    # None and a never-tripping cap are both the identity
    assert dedup.cap_bucket_side(
        rel, ["chunk", "val"], "doc_id", None
    ) is rel
    assert sorted(
        map(tuple, dedup.cap_bucket_side(
            rel, ["chunk", "val"], "doc_id", 10
        ).select("doc_id", "val", "chunk").collect())
    ) == [(1, 7, 0), (2, 7, 0), (3, 8, 0)]
    # cap=2: the size-2 bucket passes, a size-3 bucket would collapse
    big = spark.createDataFrame(
        [(i, 9, 0) for i in range(5)], "doc_id long, val long, chunk int"
    )
    kept = dedup.cap_bucket_side(big, ["chunk", "val"], "doc_id", 2)
    assert [r["doc_id"] for r in kept.collect()] == [0]
    spark.catalog.clearCache()


def test_ann_stream_cap_preserves_components(spark):
    """Embedding twin: a family of identical vectors co-occupies
    every (table_id, bucket); capped epochs emit anchor stars with
    identical connected components."""
    from datasette_upload_csvs_spark.streaming.ann_stream import ann_epoch

    base = [1.0] + [0.0] * 63

    def emb(ids):
        rows = []
        for i in ids:
            if i < 90_000:
                rows.append((i, base))
            else:
                v = [0.0] * 64
                v[i % 64] = 1.0
                v[(i * 7) % 64] = -1.0
                rows.append((i, v))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def run(prefix, cap):
        pt, it = f"{prefix}_pairs", f"{prefix}_idx"
        _drop(spark, pt, it, f"{it}__vecs")
        ann_epoch(emb(list(range(25)) + [90_001, 90_002]), 0, pt, it,
                  bucket_star_cap=cap)
        ann_epoch(emb(list(range(100, 108))), 1, pt, it,
                  bucket_star_cap=cap)
        out = spark.table(pt).select("id_a", "id_b")
        n = out.count()
        comp = {
            r["vertex"]: r["component"]
            for r in graph.connected_components(out).collect()
        }
        _drop(spark, pt, it, f"{it}__vecs")
        return n, comp

    n_u, c_u = run("anncap_a", None)
    n_c, c_c = run("anncap_b", 8)
    assert n_c < n_u / 5, (n_c, n_u)
    assert c_c == c_u
    fam = set(range(25)) | set(range(100, 108))
    assert {c_c[v] for v in fam} == {0}
    spark.catalog.clearCache()
