"""End-to-end corpus curation: the composite LLM-data pipeline.

One call chains the engine's operators the way a training-data run
does: exact dedup → near-dup removal (MinHash-LSH) → repetition
filter (Gopher-style) → quality filter → language tag →
deterministic train/val split → stats. Every stage is
a DataFrame transformation; nothing materializes until the final
write/count, so Catalyst optimizes across stage boundaries (e.g. the
quality filter's token array reuses the tokenizer expression the
lang-id stage needs — one pass, not two).

Scale notes: the only heavy shuffles are the two dedup joins (content
digest; LSH band buckets). Quality/lang/split are map-side. The
output is hash-partitionable by split for downstream sharding.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import curation, dedup, graph, textstats


@dataclass
class CurationStats:
    n_input: int
    n_after_exact_dedup: int
    n_after_near_dedup: int
    n_after_repetition: int
    n_after_quality: int
    n_train: int
    n_val: int


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.7,
    val_fraction_hex: tuple[str, ...] = ("0", "1", "2"),
) -> tuple[DataFrame, CurationStats]:
    """Returns (curated DataFrame with split/lang/quality columns,
    stage-by-stage stats)."""
    n_input = docs.count()

    # 1. exact dedup (digest shuffle only)
    exact = dedup.dedup_exact(docs, text_col, id_col)
    n_exact = exact.count()

    # 2. near-dup removal, cluster-aware: pair lists under-dedup
    # transitive clusters (edges (A,C),(B,C) alone would keep both A
    # and B though A~B~C is one group), so resolve pairs to connected
    # components and keep exactly the canonical (min-id) doc of each.
    pairs = dedup.minhash_near_dup_pairs(
        exact, text_col, id_col, threshold=near_dup_threshold
    )
    cc = graph.connected_components(pairs.select("id_a", "id_b"))
    losers = cc.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias(id_col)
    )
    deduped = exact.join(losers, id_col, "left_anti")
    n_near = deduped.count()

    # 2.5 repetition cut (Gopher A1.1: template spam shows up as
    # dup-word / top-word / dup-bigram dominance, orthogonal to the
    # stopword/length quality rules below). Doc-keyed aggregation —
    # shares the shuffle key the dedup stages already used.
    rep_keep = curation.repetition_stats(deduped, text_col, id_col).filter(
        F.col("keep")
    ).select(id_col)
    deduped = deduped.join(rep_keep, id_col, "left_semi")
    n_repetition = deduped.count()

    # 3. quality + language annotation (single map-side pass each)
    quality = textstats.quality_scores(deduped, text_col, id_col).select(
        id_col, "quality_score"
    )
    lang = textstats.language_id(deduped, text_col, id_col).select(
        id_col, "predicted_lang"
    )
    annotated = deduped.join(quality, id_col).join(lang, id_col)
    filtered = annotated.filter(F.col("quality_score") >= min_quality)
    n_quality = filtered.count()

    # 4. deterministic hash split (stable across engines/runs)
    split = F.when(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin(
            *val_fraction_hex
        ),
        "val",
    ).otherwise("train")
    curated = filtered.withColumn("split", split)
    n_train = curated.filter(F.col("split") == "train").count()
    n_val = curated.filter(F.col("split") == "val").count()

    return curated, CurationStats(
        n_input=n_input,
        n_after_exact_dedup=n_exact,
        n_after_near_dedup=n_near,
        n_after_repetition=n_repetition,
        n_after_quality=n_quality,
        n_train=n_train,
        n_val=n_val,
    )


# ====================================================================
# The staged full funnel: one materialization per stage, one corpus
# scan total — the shape a 100 TB curation run actually executes.
# ====================================================================


@dataclass
class FunnelStage:
    """One materialized funnel stage: its survivors frame (local-
    checkpointed — downstream stages consume THIS, never a fresh
    corpus scan), doc/token counts, and (optional) the executed-plan
    string captured before materialization for scan-provenance
    pins."""

    name: str
    n_docs: int
    n_tokens: int
    frame: DataFrame
    plan: str | None = None


def run_curation_funnel(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup_threshold: float = 0.7,
    exact_floor_max_df: int | None = 5,
    decontam_n: int = 8,
    num_shards: int = 16,
    val_fraction_hex: tuple[str, ...] = ("0", "1", "2"),
    bucket_star_cap: int | str | None = "auto",
    run_stage=None,
    capture_plans: bool = False,
    release_stage_frames: bool = False,
) -> tuple[list[FunnelStage], DataFrame, DataFrame]:
    """The full curation funnel composed as a STAGED job graph:

      scan → Gopher quality → exact dedup → near-dup groups (star
      MinHash+LSH edges → connected components, keep canonical) →
      exact 8-gram decontamination vs `benchmark` → cluster-safe
      train/val split → size-balanced shard export.

    Returns (stages, split_summary, shard_summary).

    Execution contract — what the per-component registry entries
    can't show and BENCH_FUNNEL_SCALE measures:

    * **One corpus scan.** Stage 0 localCheckpoints (doc_id, text,
      n_tok); every later stage consumes the PREVIOUS stage's
      checkpoint. Without the explicit materialization boundaries
      Spark's lazy evaluation would re-derive each stage's input
      from the parquet scan per action — a hidden O(stages ×
      corpus) text re-read that is invisible at one SF and ruinous
      at 100 TB. (The trade is checkpoint storage for the survivor
      set; survivors shrink monotonically, so the bound is one
      corpus-sized copy that decays per stage.)
    * **Per-stage attribution.** `run_stage(name, thunk)` wraps
      each stage's materialization (default: just call it), so a
      bench can time and byte-meter each stage in isolation — the
      thunk runs the stage's jobs and nothing else.
    * **Text is dropped at the first stage that no longer needs
      it** (after decontamination); the split/shard stages move
      only (doc_id, n_tok, cluster_id).
    * `capture_plans=True` stores each stage's executed-plan string
      (planned BEFORE materialization) on the FunnelStage so tests
      can pin scan provenance: stages after the first must contain
      no parquet FileScan of the corpus — only the decontamination
      stage may scan `benchmark`.

    `release_stage_frames=True` frees each stage's checkpoint BLOCKS
    as soon as the next stage has materialized (and sets that
    FunnelStage.frame to None — an unpersisted localCheckpoint cannot
    be recomputed, so a dangling reference must fail loudly, not
    lazily). Default False keeps every frame addressable (tests,
    interactive use). At scale the default holds ~#stages
    corpus-sized text copies in block storage simultaneously — the
    5M-doc bench point ran a 78 GB host out of disk exactly this way
    — while the release mode's peak is two adjacent stages. The last
    stage's frame is always kept (the split/shard consumers read it).
    Note DataFrame.unpersist() is a NO-OP for localCheckpoint frames
    (they are not cacheManager entries); the release goes through the
    checkpointed RDD on the logical plan.

    `benchmark` defaults to None = skip decontamination (counts
    pass through). The near-dup stage reuses dedup_groups' exact
    recipe (banded MinHash + exact-Jaccard verify + low-df floor,
    star edges) and split keys on the near-dup CLUSTER id — two
    near-duplicates can never straddle train/val even if the dedup
    stage is later relaxed to keep more than the canonical doc."""
    from datasette_upload_csvs_spark.functions.text import token_count
    from datasette_upload_csvs_spark.operators.export import balanced_shards

    run_stage = run_stage or (lambda name, thunk: thunk())
    stages: list[FunnelStage] = []

    def _materialize(name, frame_builder):
        """frame_builder is called INSIDE the stage thunk so that
        every job the stage triggers — including eager work buried
        in operator calls (the MinHash collapse gate's detection
        aggregate, connected_components' per-round checkpoints) — is
        attributed to THIS stage by the run_stage wrapper."""

        def thunk():
            frame = frame_builder()
            plan = None
            if capture_plans:
                plan = (
                    frame._jdf.queryExecution().executedPlan().toString()
                )
            ck = frame.localCheckpoint(eager=True)
            agg = ck.agg(
                F.count("*").alias("n"), F.sum("n_tok").alias("t")
            ).collect()[0]
            return FunnelStage(
                name, agg["n"], agg["t"] or 0, ck, plan
            )

        stage = run_stage(name, thunk)
        if release_stage_frames and stages:
            # the new stage's checkpoint is self-contained — the
            # previous stage's blocks are no longer reachable work
            graph._release_checkpoint_blocks(
                stages[-1].frame, "funnel stage"
            )
            stages[-1].frame = None
            # shuffle files behind the released stage are removed by
            # ContextCleaner only after a DRIVER GC collects their
            # ShuffleDependency; the default periodic GC (30 min)
            # outlives a whole multi-million-doc funnel, so the
            # scratch dir accumulates every stage's shuffle at once
            # (observed: 5.76M-doc run filling an 80 GB disk). Force
            # the GC at the stage boundary — the one moment the
            # previous stage's lineage truly is garbage.
            dedup._driver_gc(docs.sparkSession)
        stages.append(stage)
        return stage.frame

    # 0. the ONLY corpus scan: project id/text, token count fused in
    base = _materialize(
        "scan",
        lambda: docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            token_count(F.col(text_col)).cast("bigint").alias("n_tok"),
        ),
    )

    # 1. Gopher quality rules (Rae et al. '21 §A1.1) — map-side
    # codegen over the token array, same verdict the standalone
    # gopher_quality_filters entry emits (gopher_keep_expr is SHARED
    # with the streaming funnel so the two can never drift)
    s1 = _materialize(
        "gopher_quality", lambda: base.filter(gopher_keep_expr())
    )

    # 2. exact dedup: one hash-partitioned window, rank-1 per
    # content group (same recipe as dedup_exact_ranks)
    from pyspark.sql import Window

    wexact = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s2 = _materialize(
        "exact_dedup",
        lambda: s1.withColumn("_rn", F.row_number().over(wexact))
        .filter(F.col("_rn") == 1)
        .drop("_rn"),
    )

    # 3. near-dup groups: banded MinHash star edges + CC, keep the
    # canonical (min-id) member; carry cluster_id for the split
    def _near_dup():
        pairs = dedup.minhash_near_dup_pairs(
            s2,
            threshold=near_dup_threshold,
            exact_floor_max_df=exact_floor_max_df,
            pair_mode="star",
            # oversized-bucket guard (see minhash_lsh_candidates):
            # at corpus scale, sub-threshold boilerplate families
            # band-collide and go quadratic in the candidate join —
            # BENCH_FUNNEL_SCALE's capped-vs-uncapped A/B measures
            # the effect on this exact stage. Default "auto": the
            # cap threshold is forecast from the bucket distribution
            # in the same job graph (no manual bucket_stats probe —
            # nobody runs one at 100 TB) and is a proven no-op while
            # candidate mass stays corpus-linear.
            bucket_star_cap=bucket_star_cap,
            # bounded-scratch mode rides the same flag as frame
            # release: both exist so corpus-scale runs have a
            # high-water mark of max-over-phases, not sum
            scratch_checkpoints=release_stage_frames,
        ).select("id_a", "id_b")
        cc = graph.connected_components(pairs)
        labeled = s2.join(
            cc, s2["doc_id"] == cc["vertex"], "left"
        ).select(
            "doc_id",
            "text",
            "n_tok",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        return labeled.filter(F.col("cluster_id") == F.col("doc_id"))

    s3 = _materialize("near_dup_groups", _near_dup)

    # 4. exact n-gram decontamination (GPT-3/Gopher screen):
    # benchmark grams are usually benchmark-sized (tiny vs corpus) —
    # but the join hint is left to AQE, which sees the distinct gram
    # set's ACTUAL runtime size: a forced F.broadcast here collected
    # the full gram relation to the driver even when it was
    # corpus-scaled, and at the 5.76M-doc funnel decade (640k
    # benchmark docs → ~26M grams ≈ 200+ MB) that single hint made
    # the decontamination stage go ×3.3 per-doc (216 s vs a linear
    # ~65 s projection — BENCH_FUNNEL_SCALE 1280× row, round-11
    # VERDICT item 5). AQE broadcasts when the built side is under
    # threshold and shuffle-joins when it is not — the right plan at
    # both ends, chosen from measured bytes instead of a guess.
    def _decontam():
        if benchmark is None:
            return s3.select("doc_id", "n_tok", "cluster_id")
        bench_grams = (
            _hashed_grams(
                benchmark.select(F.col(text_col).alias("text")),
                decontam_n,
            )
            .select("g")
            .distinct()
        )
        contam = (
            _hashed_grams(s3, decontam_n, keep_cols=["doc_id"])
            .join(bench_grams, "g")
            .select("doc_id")
            .distinct()
        )
        return s3.join(contam, "doc_id", "left_anti").select(
            "doc_id", "n_tok", "cluster_id"  # text dropped here
        )

    s4 = _materialize("decontaminated", _decontam)

    # 5. cluster-safe split: md5 over the near-dup CLUSTER id —
    # map-side, no shuffle beyond the summary aggregate
    split_col = F.when(
        F.substring(
            F.md5(F.col("cluster_id").cast("string")), 1, 1
        ).isin(*val_fraction_hex),
        "val",
    ).otherwise("train")
    s5 = _materialize(
        "cluster_safe_split", lambda: s4.withColumn("split", split_col)
    )

    # 6. size-balanced shard export over the train slice (two-phase
    # banded rank — no global window; see operators/export.py)
    def shard_thunk():
        sharded = balanced_shards(
            s5.filter(F.col("split") == "train").select("doc_id", "n_tok"),
            "n_tok",
            num_shards=num_shards,
        )
        summary = sharded.groupBy("shard_id").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        plan = None
        if capture_plans:
            plan = summary._jdf.queryExecution().executedPlan().toString()
        ck = summary.localCheckpoint(eager=True)
        agg = ck.agg(
            F.sum("n_docs").alias("n"), F.sum("total_tokens").alias("t")
        ).collect()[0]
        return FunnelStage(
            "export_shards", agg["n"] or 0, agg["t"] or 0, ck, plan
        )

    shard_stage = run_stage("export_shards", shard_thunk)
    stages.append(shard_stage)

    split_summary = s5.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum("n_tok").alias("n_tokens"),
    )
    return stages, split_summary, shard_stage.frame


def gopher_keep_expr(text_col: str = "text"):
    """The funnel's Gopher quality verdict (Rae et al. '21 §A1.1) as
    a single codegen Column: 20–100k words, mean word length 3–10,
    ≥80% alphabetic words, ≥2 stopwords. ONE definition shared by the
    batch funnel (run_curation_funnel stage 1) and the streaming
    funnel (streaming/funnel_stream.py) so the two stages can never
    drift."""
    from datasette_upload_csvs_spark.functions.text import STOPWORDS

    w = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    nz = F.greatest(F.size(w), F.lit(1)).cast("double")
    mwl = (
        F.aggregate(
            w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).cast("double")
        / nz
    )
    fa = F.size(F.filter(w, lambda x: x.rlike("[a-zA-Z]"))).cast(
        "double"
    ) / nz
    return (
        F.size(w).between(20, 100000)
        & mwl.between(3.0, 10.0)
        & (fa >= 0.8)
        & (F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) >= 2)
    )


def _hashed_grams(
    d: DataFrame, n: int, keep_cols: list[str] | None = None
) -> DataFrame:
    """(keep_cols..., g): one row per distinct hashed n-token gram
    per row of `d` — the decontamination gram relation (same
    equality classes as queries._hashed_gram_rows: xxhash64 over the
    n token slots of a materialized token array; short docs hash one
    gram of all tokens + deterministic trailing nulls)."""
    keep_cols = keep_cols or []
    toks = d.select(
        *[F.col(c) for c in keep_cols],
        F.explode(
            F.array(
                F.filter(
                    F.split(F.col("text"), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            )
        ).alias("_t"),
    )
    t = F.col("_t")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - F.lit(n), F.lit(0)))
    grams = F.array_distinct(
        F.transform(
            idx, lambda i: F.xxhash64(*[F.get(t, i + j) for j in range(n)])
        )
    )
    return toks.select(
        *[F.col(c) for c in keep_cols], F.explode(grams).alias("g")
    )
