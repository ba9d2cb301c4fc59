"""Streaming twin of pipeline.run_curation_funnel (round-10 VERDICT
item 3): ONE multi-batch arrival drives quality → exact dedup →
near-dup (capped) → decontamination → cluster-safe split with SHARED
state tables, and a post-drain fold reproduces the batch funnel's
staged outputs ID-EXACTLY on the union corpus.

This is the incremental form of the reference's whole product loop
(upload → progress → queryable table, reference __init__.py:173-222):
documents arrive in batches, each batch pays work proportional to
ITSELF plus its candidates — never to corpus history — and the
curation verdicts are derivable at any drain point.

Architecture — what is incremental vs what is a fold:

* Per epoch (foreachBatch, exactly-once via streaming/epoch_write):
  - project (doc_id, text, n_tok); Gopher verdict (the SAME
    gopher_keep_expr the batch funnel compiles — shared so the two
    can never drift) and the benchmark-gram decontamination verdict
    are computed map-side on the batch and stored as per-doc flags;
  - exact dedup is keyed on md5(text): the batch's min-id doc per
    UNSEEN hash is indexed into the maintained near-dup state
    (near_dup_stream.near_dup_epoch — banded MinHash vs history +
    in-batch, exact-verified, bucket_star_cap on BOTH sides);
  - the docs state table stores (doc_id, h, n_tok, keep_q, clean,
    indexed) — ids and flags only, never text; the only text-derived
    state is the shingle/band index the near-dup stage maintains
    anyway.
* At any drain point, funnel_stream_stages folds the state tables:
  - exact winners = min doc_id per hash over ALL arrivals (id-exact
    equal to the batch funnel's md5 rank-1, by definition — a doc
    indexed earlier under the same hash has IDENTICAL text, so the
    maintained pairs translate 1:1 onto winners through the hash);
  - the deterministic low-df exact floor is completed at fold time
    from the maintained __sets state (minhash_near_dup_pairs' own
    dedup._low_df_pairs and _jaccard_verify — df counted over
    one-doc-per-hash, exactly the batch's post-exact-dedup relation);
  - connected components + canonical keep, decontam filter, the
    cluster-keyed split and balanced shards reuse the same operators
    the batch funnel calls.

The fold is Θ(survivors + low-df postings) over id/flag/hash state —
metadata-scale next to the corpus — so "stream then fold" keeps the
one-corpus-scan contract: arrival text is read exactly once, by the
epoch that ingests it.

Per-epoch cost contract (round-13; BENCH_FUNNEL_STREAM
scale_attr_major): every per-epoch stage is O(batch + matches + one
history SCAN), never an O(history) shuffle — the unseen-hash check
broadcasts the batch's hashes against the docs scan, the near-dup
maintainer semi-prunes the band index to the batch's buckets before
capping/joining, and the verify join reads only candidate ids' sets
(see near_dup_epoch). Measured flat at 260k docs (last/first
quartile 1.02, stage-attributed). The remaining history-coupled term
is the compaction fold itself: the default major-only schedule
rewrites O(history) every compact_every epochs (amortized
O(history/N) per epoch, visible as bounded spikes), and
``major_every`` routes the folds through the generational
tiered_compact — O(window + history/M) amortized — at the price of
more state partitions between majors (read amplification measured
~+25% on nd_cand at 260k: scale_attr_tiered). Pick major-only below
the crossover, tiered above it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import graph
from datasette_upload_csvs_spark.operators.dedup import (
    _jaccard_verify,
    _low_df_pairs,
)
from datasette_upload_csvs_spark.pipeline import (
    _hashed_grams,
    gopher_keep_expr,
)
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    read_state,
    stage_meter,
    write_epoch_partition,
)
from datasette_upload_csvs_spark.streaming.near_dup_stream import (
    near_dup_epoch,
)

# mask no real epoch: post-drain reads of the whole committed state
_NO_EPOCH = -(2**31)


def funnel_tables(prefix: str) -> tuple[str, ...]:
    """Every state table the streaming funnel maintains."""
    return (
        f"{prefix}_docs",
        f"{prefix}_pairs",
        f"{prefix}_index",
        f"{prefix}_index__sets",
    )


def funnel_epoch(
    batch_df: DataFrame,
    epoch: int,
    prefix: str,
    bench_grams: DataFrame | None,
    threshold: float = 0.7,
    decontam_n: int = 8,
    num_perm: int = 128,
    n_bands: int = 32,
    bucket_star_cap: int | str | None = "auto",
    on_stage=None,
) -> dict | None:
    """One funnel epoch — factored out of the foreachBatch closure so
    crash/replay tests can drive a single epoch. All writes are
    per-epoch dynamic partition overwrites and all history reads mask
    this epoch's own partition (epoch_write recipe), so a replayed
    epoch is idempotent across all four state tables.

    ``on_stage(epoch, stage, seconds)`` (optional) meters the epoch's
    stages: ``prep`` (projection + Gopher + md5 + decontam flag),
    ``exact_gate`` (unseen-hash increment vs history), the near-dup
    maintainer's nd_* sub-stages (see near_dup_epoch — which runs
    slightly different, forced-eager plans when metered), and
    ``docs_write``. Attribution mode adds counts on persisted frames,
    so headline timings should come from unmetered runs.

    Returns the near-dup maintainer's stats dict (``cand_pairs`` —
    see near_dup_epoch) or None for an empty batch."""
    _stage = stage_meter(on_stage, epoch)
    spark = batch_df.sparkSession
    docs_table = f"{prefix}_docs"
    from datasette_upload_csvs_spark.functions.text import token_count

    b = batch_df.select(
        "doc_id",
        "text",
        token_count(F.col("text")).cast("bigint").alias("n_tok"),
    ).withColumn("keep_q", gopher_keep_expr())
    b = b.withColumn("h", F.md5("text"))
    if bench_grams is None:
        b = b.withColumn("clean", F.lit(True))
    else:
        contam = (
            _hashed_grams(
                b.filter("keep_q"), decontam_n, keep_cols=["doc_id"]
            )
            .join(F.broadcast(bench_grams), "g")
            .select("doc_id")
            .distinct()
            .withColumn("_c", F.lit(True))
        )
        b = (
            b.join(contam, "doc_id", "left")
            .withColumn("clean", F.col("_c").isNull())
            .drop("_c")
        )
    b = b.persist()
    # ONE count per epoch: fills the persist, is the epoch's only
    # emptiness check, decides the exact-gate broadcast, and is the
    # batch_rows_max bound near_dup_epoch uses to skip its own
    # isEmpty probe + sets.count() guard job.
    n_b = b.count()
    if n_b == 0:
        b.unpersist()
        return None
    _stage("prep")
    # exact-dedup increment: index min-id per UNSEEN content hash
    # (one doc per exact family ever reaches the near-dup state; the
    # family's final min-id winner is resolved at fold time — any
    # member carries identical text, so bands/sets/pairs translate)
    firsts = (
        b.filter("keep_q")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("h").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if spark.catalog.tableExists(docs_table):
        spark.catalog.refreshTable(docs_table)
        # UNSEEN check without shuffling history (round-13): a plain
        # left_anti against the history hash set shuffles O(history)
        # every epoch (anti joins can only broadcast their right
        # side, and that side IS the history). Instead: (1) semi-
        # reduce history to the hashes THIS batch carries — the
        # batch's hash set is broadcast, history is scanned map-side,
        # never shuffled; (2) anti-join against that batch-bounded
        # hit set, which AQE broadcasts at runtime. Same rows out;
        # per-epoch cost O(history scan + batch), zero history
        # shuffle. (The r12 form also ran a needless .distinct() —
        # a full history shuffle+agg — on the anti's build side.)
        from datasette_upload_csvs_spark.streaming.near_dup_stream import (
            _PROBE_KEY_BROADCAST_MAX,
            semi_prune_fused,
        )

        # fused-key probe (semi_prune_fused): the md5-hex string key
        # would build a string-keyed hashed relation; the fused long
        # gets the dense one. A collision only admits a foreign h
        # into seen_hit — the anti below re-matches on the REAL h.
        seen_hit = semi_prune_fused(
            read_state(spark, docs_table, epoch)
            .filter("keep_q")
            .select("h"),
            firsts,
            ["h"],
            n_b <= _PROBE_KEY_BROADCAST_MAX,
        ).distinct()
        firsts = firsts.join(seen_hit, "h", "left_anti")
    to_index = firsts.select("doc_id", "text").persist()
    if on_stage is not None:
        to_index.count()
    _stage("exact_gate")
    nd_stats = near_dup_epoch(
        to_index,
        epoch,
        f"{prefix}_pairs",
        f"{prefix}_index",
        threshold=threshold,
        num_perm=num_perm,
        n_bands=n_bands,
        bucket_star_cap=bucket_star_cap,
        on_stage=on_stage,
        batch_rows_max=n_b,
    )
    _stage()  # nd_* stages metered internally
    indexed = to_index.select("doc_id").withColumn(
        "indexed", F.lit(True)
    )
    out = (
        b.select("doc_id", "h", "n_tok", "keep_q", "clean")
        .join(indexed, "doc_id", "left")
        .withColumn("indexed", F.coalesce("indexed", F.lit(False)))
    )
    write_epoch_partition(
        out.withColumn("_batch_id", F.lit(epoch)), docs_table
    )
    _stage("docs_write")
    b.unpersist()
    to_index.unpersist()
    return nd_stats


def run_curation_funnel_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    benchmark: DataFrame | None = None,
    prefix: str = "funnel_stream",
    threshold: float = 0.7,
    decontam_n: int = 8,
    num_perm: int = 128,
    n_bands: int = 32,
    bucket_star_cap: int | str | None = "auto",
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    major_every: int | None = None,
    on_epoch=None,
    on_stage=None,
) -> int:
    """Drain a parquet stream of (doc_id, text) through the funnel's
    incremental stages (see module docstring). Trigger.AvailableNow;
    returns micro-batches processed.

    ``checkpoint_dir``, ``compact_every`` and ``major_every`` are the
    shared drain's (epoch_write.drain_epochs — the major-only vs
    tiered fold schedules and why in-sink folding is replay-safe);
    the four funnel_tables(prefix) are folded on schedule.

    `on_epoch(epoch)` (optional) is invoked after each non-empty
    epoch — the per-epoch cost meter hook for the widening bench.
    `on_stage(epoch, stage, seconds)` (optional) is the per-stage
    attribution hook (see funnel_epoch; metered runs force extra
    materializations — keep headline timings unmetered). Compaction
    is metered as ``compact:<table>`` stages."""
    bench_grams = None
    if benchmark is not None:
        # benchmark is static and benchmark-sized: materialize its
        # gram set ONCE; every epoch broadcast-joins the checkpoint
        # instead of re-scanning the benchmark relation
        bench_grams = (
            _hashed_grams(benchmark.select("text"), decontam_n)
            .select("g")
            .distinct()
            .localCheckpoint(eager=True)
        )

    def epoch_fn(batch_df: DataFrame, epoch: int) -> dict | None:
        stats = funnel_epoch(
            batch_df,
            epoch,
            prefix,
            bench_grams,
            threshold=threshold,
            decontam_n=decontam_n,
            num_perm=num_perm,
            n_bands=n_bands,
            bucket_star_cap=bucket_star_cap,
            on_stage=on_stage,
        )
        if stats is not None and on_epoch is not None:
            on_epoch(epoch)
        return stats

    return drain_epochs(
        spark,
        source_dir,
        schema,
        epoch_fn,
        funnel_tables(prefix),
        checkpoint_dir=checkpoint_dir,
        compact_every=compact_every,
        major_every=major_every,
        on_stage=on_stage,
    )


@dataclass
class StreamFunnelResult:
    """Post-drain fold: staged (name, n_docs, n_tokens) rows mirroring
    run_curation_funnel's FunnelStage counts, plus the survivor frame
    (doc_id, n_tok, cluster_id, split) and the shard summary."""

    stages: list[tuple[str, int, int]]
    survivors: DataFrame
    split_summary: DataFrame
    shard_summary: DataFrame


def funnel_stream_stages(
    spark: SparkSession,
    prefix: str = "funnel_stream",
    threshold: float = 0.7,
    exact_floor_max_df: int | None = 5,
    val_fraction_hex: tuple[str, ...] = ("0", "1", "2"),
    num_shards: int = 16,
) -> StreamFunnelResult:
    """Fold the maintained state into the batch funnel's staged
    outputs — ID-EXACT equal to run_curation_funnel over the union
    corpus (pinned by tests/test_funnel_stream.py):

    * exact winners: min doc_id per content hash over all arrivals —
      the definition run_curation_funnel's md5 rank-1 window computes;
    * maintained pairs translate onto winners through the hash (the
      indexed doc and the winner carry identical text);
    * the low-df exact floor (df ∈ [2, max_df], the batch operator's
      dedup._low_df_pairs) is completed here from the __sets
      state — df counted over one-doc-per-hash, exactly the batch's
      post-exact-dedup relation — then exact-verified;
    * CC + canonical keep, decontam flags, cluster-keyed split and
      balanced shards reuse the batch operators verbatim.

    Everything here reads id/flag/hash/shingle STATE, never corpus
    text — Θ(survivors), not Θ(corpus)."""
    from datasette_upload_csvs_spark.operators.export import (
        balanced_shards,
    )

    docs = read_state(spark, f"{prefix}_docs", _NO_EPOCH).persist()
    quality = docs.filter("keep_q")
    winners = (
        quality.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("h").orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .persist()
    )
    # indexed-id → winner-id translation (1:1 through the hash)
    trans = (
        docs.filter("indexed")
        .select(F.col("doc_id").alias("_idx_id"), "h")
        .join(winners.select("h", F.col("doc_id").alias("_win_id")), "h")
        .select("_idx_id", "_win_id")
    )

    if spark.catalog.tableExists(f"{prefix}_pairs"):
        pairs = read_state(spark, f"{prefix}_pairs", _NO_EPOCH).select(
            "id_a", "id_b"
        )
    else:  # nothing ever passed quality → no near-dup state
        pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    if exact_floor_max_df is not None and spark.catalog.tableExists(
        f"{prefix}_index__sets"
    ):
        sets = read_state(
            spark, f"{prefix}_index__sets", _NO_EPOCH
        ).select("doc_id", "sh")
        floor_cand = _low_df_pairs(sets, "doc_id", exact_floor_max_df)
        floor_pairs = _jaccard_verify(
            floor_cand, sets, "doc_id", threshold
        ).select("id_a", "id_b")
        pairs = pairs.unionByName(floor_pairs)
    pairs_w = (
        pairs.join(
            trans.select(
                F.col("_idx_id").alias("id_a"),
                F.col("_win_id").alias("_wa"),
            ),
            "id_a",
        )
        .join(
            trans.select(
                F.col("_idx_id").alias("id_b"),
                F.col("_win_id").alias("_wb"),
            ),
            "id_b",
        )
        .select(
            F.least("_wa", "_wb").alias("id_a"),
            F.greatest("_wa", "_wb").alias("id_b"),
        )
        .distinct()
    )
    cc = graph.connected_components(pairs_w)
    labeled = (
        winners.join(cc, winners["doc_id"] == cc["vertex"], "left")
        .select(
            "doc_id",
            "n_tok",
            "clean",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .persist()
    )
    canonical = labeled.filter(F.col("cluster_id") == F.col("doc_id"))
    decontaminated = canonical.filter("clean").select(
        "doc_id", "n_tok", "cluster_id"
    )
    split_col = F.when(
        F.substring(
            F.md5(F.col("cluster_id").cast("string")), 1, 1
        ).isin(*val_fraction_hex),
        "val",
    ).otherwise("train")
    survivors = decontaminated.withColumn(
        "split", split_col
    ).localCheckpoint(eager=True)

    def _cnt(frame) -> tuple[int, int]:
        r = frame.agg(
            F.count("*").alias("n"), F.sum("n_tok").alias("t")
        ).collect()[0]
        return int(r["n"]), int(r["t"] or 0)

    stages = []
    for name, frame in (
        ("scan", docs),
        ("gopher_quality", quality),
        ("exact_dedup", winners),
        ("near_dup_groups", canonical),
        ("decontaminated", decontaminated),
        ("cluster_safe_split", survivors),
    ):
        n, t = _cnt(frame)
        stages.append((name, n, t))
    sharded = balanced_shards(
        survivors.filter(F.col("split") == "train").select(
            "doc_id", "n_tok"
        ),
        "n_tok",
        num_shards=num_shards,
    )
    shard_summary = sharded.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    ).localCheckpoint(eager=True)
    r = shard_summary.agg(
        F.sum("n_docs").alias("n"), F.sum("total_tokens").alias("t")
    ).collect()[0]
    stages.append(("export_shards", int(r["n"] or 0), int(r["t"] or 0)))
    split_summary = survivors.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum("n_tok").alias("n_tokens"),
    ).localCheckpoint(eager=True)
    docs.unpersist()
    winners.unpersist()
    labeled.unpersist()
    return StreamFunnelResult(
        stages=stages,
        survivors=survivors,
        split_summary=split_summary,
        shard_summary=shard_summary,
    )
