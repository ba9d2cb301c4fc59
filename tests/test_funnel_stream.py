"""Streaming twin of the staged curation funnel (round-10 VERDICT
item 3): ONE 3-batch arrival drives quality → exact dedup → near-dup
(capped) → decontamination → cluster-safe split with shared state,
compaction firing MID-DRAIN, and the post-drain fold equals
run_curation_funnel over the union corpus — per-stage counts AND the
survivor (doc_id, cluster_id, split) rows, id-exactly."""

from __future__ import annotations

import os
import shutil
from unittest import mock

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from datasette_upload_csvs_spark.pipeline import run_curation_funnel
from datasette_upload_csvs_spark.sources.parquet import read_table
from datasette_upload_csvs_spark.streaming.funnel_stream import (
    funnel_epoch,
    funnel_stream_stages,
    funnel_tables,
    run_curation_funnel_stream,
)

DOC_SCHEMA = "doc_id bigint, text string"
PREFIX = "fstream"


def _land(df, key_col, n_batches, out_dir, tmp_path, tag):
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_batches):
        part = df.filter(F.pmod(key_col, F.lit(n_batches)) == i)
        d = str(tmp_path / f"{tag}{i}")
        part.coalesce(1).write.mode("overwrite").parquet(d)
        name = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(d, name),
            os.path.join(out_dir, f"arrival_{i}.parquet"),
        )


def _drop_state(spark):
    for t in funnel_tables(PREFIX):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _batch_funnel(corpus, benchmark):
    stages, split_summary, shard_summary = run_curation_funnel(
        corpus, benchmark=benchmark
    )
    return (
        [(s.name, s.n_docs, s.n_tokens) for s in stages],
        stages,
        split_summary,
        shard_summary,
    )


def _assert_stream_equals_batch(spark, corpus, benchmark, tmp_path,
                                tag, cap="auto"):
    src = str(tmp_path / f"{tag}_arrivals")
    _land(corpus, "doc_id", 3, src, tmp_path, tag)
    _drop_state(spark)
    try:
        # an empty batch is no epoch: None, and no state table made
        assert funnel_epoch(corpus.limit(0), 0, PREFIX, None) is None
        assert not any(
            spark.catalog.tableExists(t) for t in funnel_tables(PREFIX)
        )
        # count emptiness probes: the foreachBatch frame is a classic
        # DataFrame, so the patch must target that class
        with mock.patch.object(
            ClassicDataFrame,
            "isEmpty",
            autospec=True,
            side_effect=ClassicDataFrame.isEmpty,
        ) as probe:
            n = run_curation_funnel_stream(
                spark,
                src,
                DOC_SCHEMA,
                benchmark=benchmark,
                prefix=PREFIX,
                bucket_star_cap=cap,
                compact_every=2,  # fires at epoch 2 — MID-drain
                checkpoint_dir=str(tmp_path / f"ck_{tag}"),
            )
        assert n == 3
        # no emptiness probe: funnel_epoch's batch count decides it
        assert probe.call_count == 0
        spark.catalog.clearCache()
        res = funnel_stream_stages(spark, PREFIX)
        want_counts, batch_stages, b_split, b_shards = _batch_funnel(
            corpus, benchmark
        )
        assert res.stages == want_counts

        # id-exact survivor rows, not just counts: the fold's exact
        # winners / CC labels / split keys are the batch funnel's
        split_stage = {s.name: s for s in batch_stages}[
            "cluster_safe_split"
        ]
        want_rows = {
            (r["doc_id"], r["cluster_id"], r["split"])
            for r in split_stage.frame.select(
                "doc_id", "cluster_id", "split"
            ).collect()
        }
        got_rows = {
            (r["doc_id"], r["cluster_id"], r["split"])
            for r in res.survivors.select(
                "doc_id", "cluster_id", "split"
            ).collect()
        }
        assert got_rows == want_rows and got_rows

        assert {tuple(r) for r in res.split_summary.collect()} == {
            tuple(r) for r in b_split.collect()
        }
        assert {tuple(r) for r in res.shard_summary.collect()} == {
            tuple(r) for r in b_shards.collect()
        }
        # compaction really fired mid-drain: epochs 0..1 folded into
        # the BASE partition of the docs state table
        parts = {
            r["_batch_id"]
            for r in spark.table(f"{PREFIX}_docs")
            .select("_batch_id")
            .distinct()
            .collect()
        }
        assert -1 in parts and 0 not in parts and 1 not in parts
    finally:
        _drop_state(spark)
        spark.catalog.clearCache()


def test_streaming_funnel_matches_batch_on_fixture_corpus(
    spark, sf_dir, tmp_path
):
    """The registry entry's exact split (benchmark = every 10th doc)
    over the sf fixture corpus: stream+fold == batch funnel,
    auto-capped on both sides, compaction mid-drain."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.pmod("doc_id", F.lit(10)) != 0)
    benchmark = d.filter(F.pmod("doc_id", F.lit(10)) == 0)
    _assert_stream_equals_batch(
        spark, corpus, benchmark, tmp_path, "fx"
    )


def test_streaming_funnel_matches_batch_on_template_corpus(
    spark, tmp_path
):
    """Adversarial shape: a sub-threshold template family (the cap's
    target), exact-dup families (the exact stage's target), a genuine
    near-dup family (CC's target) — caps ENGAGED on both paths, same
    staged outputs. Texts are built to pass the Gopher stage (≥20
    words incl. stopwords, mean word length in range)."""
    stop = "the and for with that this from "
    tmpl = " ".join(f"tmpl{j}" for j in range(30))
    rows = []
    for i in range(240):
        if i % 2 == 0:
            # template family: shared 30-token boilerplate + a
            # 12-token unique tail → pairwise jaccard ≈ 0.59, safely
            # SUB-threshold yet band-colliding at ~0.98 (the cap's
            # exact failure mode)
            rows.append(
                (i, stop + tmpl + " " + " ".join(
                    f"u{j}x{i}" for j in range(12)
                ))
            )
        else:
            rows.append(
                (i, stop + " ".join(f"v{j}x{i}" for j in range(20)))
            )
    # exact-dup family: one text repeated 7 times; the GLOBAL min id
    # (3002, pmod 3 == 2) arrives in the LAST batch while member 3003
    # (pmod 3 == 0) arrives first and gets indexed — so the fold's
    # indexed-id → winner-id translation is genuinely exercised, not
    # vacuous
    dup_text = stop + " ".join(f"dup{j}" for j in range(25))
    for mid in (3003, 3004, 3002, 3005, 3006, 3007, 3008):
        rows.append((mid, dup_text))
    # genuine near-dup pair from rare tokens
    nd = stop + " ".join(f"planted{j}" for j in range(25))
    rows.append((2000, nd))
    rows.append((2001, nd.rsplit(" ", 1)[0] + " plantedZZ"))
    corpus = spark.createDataFrame(rows, DOC_SCHEMA)
    benchmark = spark.createDataFrame(
        [(9000, stop + " ".join(f"planted{j}" for j in range(25)))],
        DOC_SCHEMA,
    )
    _assert_stream_equals_batch(
        spark, corpus, benchmark, tmp_path, "tpl"
    )


def test_streaming_funnel_tiered_compaction_matches_batch(
    spark, sf_dir, tmp_path
):
    """Round-13: the generational (tiered) compaction schedule under
    the composed funnel — minor folds every 2 epochs, a MAJOR fold at
    epoch 4 — still yields the batch funnel's staged outputs id-
    exactly, and the per-stage attribution hook reports every funnel
    stage. 6 arrivals so both a minor-only window (epoch 2) and a
    major fold (epoch 4) fire mid-drain."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.pmod("doc_id", F.lit(10)) != 0)
    benchmark = d.filter(F.pmod("doc_id", F.lit(10)) == 0)
    src = str(tmp_path / "tiered_arrivals")
    _land(corpus, F.col("doc_id"), 6, src, tmp_path, "tiered")
    _drop_state(spark)
    stage_rows = []
    try:
        n = run_curation_funnel_stream(
            spark,
            src,
            DOC_SCHEMA,
            benchmark=benchmark,
            prefix=PREFIX,
            compact_every=2,
            major_every=4,
            checkpoint_dir=str(tmp_path / "ck_tiered"),
            on_stage=lambda ep, st, s: stage_rows.append((ep, st, s)),
        )
        assert n == 6
        spark.catalog.clearCache()
        res = funnel_stream_stages(spark, PREFIX)
        want_counts, batch_stages, _, _ = _batch_funnel(
            corpus, benchmark
        )
        assert res.stages == want_counts
        split_stage = {s.name: s for s in batch_stages}[
            "cluster_safe_split"
        ]
        want_rows = {
            (r["doc_id"], r["cluster_id"], r["split"])
            for r in split_stage.frame.select(
                "doc_id", "cluster_id", "split"
            ).collect()
        }
        got_rows = {
            (r["doc_id"], r["cluster_id"], r["split"])
            for r in res.survivors.select(
                "doc_id", "cluster_id", "split"
            ).collect()
        }
        assert got_rows == want_rows and got_rows
        # tiered partition layout: major at epoch 4 folded [0,4) and
        # the epoch-2 run into BASE; epochs 4..5 remain open-window
        parts = {
            r["_batch_id"]
            for r in spark.table(f"{PREFIX}_docs")
            .select("_batch_id")
            .distinct()
            .collect()
        }
        assert -1 in parts, parts
        assert parts.isdisjoint({0, 1, 2, 3}), parts
        # attribution: every funnel stage reported for metered epochs
        names = {st for _, st, _ in stage_rows}
        for expect in (
            "prep", "exact_gate", "nd_sig", "nd_cand",
            "nd_verify_pairs", "nd_index_write", "nd_sets_write",
            "docs_write",
        ):
            assert expect in names, (expect, names)
        assert any(st.startswith("compact:") for st in names), names
    finally:
        _drop_state(spark)
        spark.catalog.clearCache()
