"""Incremental embedding near-neighbor detection: new vectors
checked against everything already ingested, without re-scoring
history.

The embedding twin of streaming/near_dup_stream.py (text): a
training-data ingest keeps asking "is this NEW embedding a
near-duplicate of anything seen BEFORE?" (semantic dedup at ingest
time, the streaming form of dedup_embedding_cosine). Re-scoring the
corpus per batch is corpus-linear per append — the same scale bug
the maintained shingle index exists to fix. Instead:

  state:  bands table (vec_id, table_id, bucket) — multi-table
          sign-of-projection LSH codes (operators/similarity's
          deterministic hyperplanes), plus a vecs table holding each
          vector ONCE.
  batch:  bucket the new vectors per table → join vs stored bands
          (new-vs-history) and vs the batch's own bands (new-vs-new)
          → distinct candidate pairs → exact cosine verify ≥ τ →
          write pairs/bands/vectors into this epoch's `_batch_id`
          partitions (dynamic partition overwrite — idempotent under
          replay; see streaming/epoch_write.py).

Per-batch work is proportional to the batch and its bucket
collisions, never to corpus history; multi-table OR-construction
sets recall (P[missed] = Π per-table split probabilities — for
near-identical vectors each table agrees with probability ≈
(1 − θ/π)^planes, so tables multiply the miss exponent).

foreachBatch because the bands table is read AND appended within a
batch (mutable-state join — same shape as near_dup_stream/cdc).
Stream == batch proof: tests/test_ann_stream.py drains 3 micro-
batches and pins the pairs table equal to a one-shot run of the
SAME banded algorithm over the full corpus snapshot (identical
hyperplanes, identical verify expressions — exact equality, no
tolerance).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.functions.vector import (
    as_double_array,
    cosine,
    double_array_frame,
)
from datasette_upload_csvs_spark.operators.similarity import (
    _hyperplane,
    _lsh_bucket_expr,
)
from datasette_upload_csvs_spark.operators import dedup as _dedup
from datasette_upload_csvs_spark.streaming.epoch_write import (
    drain_epochs,
    read_state,
    write_epoch_partition,
)


@functools.lru_cache(maxsize=16)
def _table_bucket_entries(n_tables: int, n_planes: int, dim: int):
    """One (table_id, bucket) struct expression per hash table over a
    double-array column `v` — planes disjoint across tables (table t
    uses plane indices t*n_planes .. t*n_planes+n_planes-1).

    Memoized per process: building the expressions is ~1.5-2.3 s of
    pure py4j traffic (n_tables×n_planes×dim = 2048 F.lit calls plus
    the HOF lambdas), paid on EVERY batch-query invocation and every
    streaming ANN epoch before this cache (measured: of
    ann_bands_recall's 3.9 s wall, ~2.4 s was driver-side, and this
    construction is ~2 s of it). Columns are immutable unresolved
    expression fragments — reusing them across DataFrames/sessions in
    one process is exactly how prepared plans behave; the JVM gateway
    outlives any SparkSession restart inside a process. Each bucket
    is similarity._lsh_bucket_expr over the table's plane range."""
    # tuple: the cached value must not be mutable by callers
    return tuple(
        F.struct(
            F.lit(t).alias("table_id"),
            _lsh_bucket_expr(n_planes, dim, t * n_planes).alias("bucket"),
        )
        for t in range(n_tables)
    )


def _multi_table_bands(
    emb: DataFrame,
    n_tables: int,
    n_planes: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, v, table_id, bucket): one sign-pattern bucket per
    hash table. ONE corpus scan — all n_tables×n_planes projections
    are computed in a single projection and exploded as (table_id,
    bucket) structs; the earlier union-of-4-selects form re-scanned
    the source once per table, and every un-persisted consumer
    multiplied that again."""
    v = double_array_frame(emb, vec_col, id_col)
    entries = _table_bucket_entries(n_tables, n_planes, dim)
    return v.select(
        id_col, "v", F.explode(F.array(*entries)).alias("tb")
    ).select(id_col, "v", F.col("tb.table_id"), F.col("tb.bucket"))


def multi_table_bands_arrow(
    emb: DataFrame,
    n_tables: int,
    n_planes: int,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow twin of _multi_table_bands: ALL table×plane projections
    as one numpy matmul per batch (V @ P.T over the stacked
    n_tables*n_planes plane matrix), signs bit-packed per table.
    Pinned equal to the expression path on the fixtures
    (tests/test_ann_stream.py) — a sign could only differ on a
    projection within an ulp of zero, where either bucket is a valid
    LSH choice. Swap in when bucketing dominates the stream's batch
    cost (PLANS_r06.md §5c ceiling: 32 interpreted dim-64 dots/row)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType, DoubleType, IntegerType, LongType, StructField,
        StructType,
    )

    pmat = np.array(
        [
            _hyperplane(t * n_planes + p, dim)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("v", ArrayType(DoubleType())),
            StructField("table_id", IntegerType()),
            StructField("bucket", IntegerType()),
        ]
    )

    def bands(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (v @ pmat.T) >= 0  # (B, tables*planes)
            bits = bits.reshape(len(v), n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2).astype(np.int32)
            ids = pdf[id_col].values
            out = {
                id_col: np.repeat(ids, n_tables),
                "v": [row for row in list(pdf[vec_col]) for _ in range(n_tables)],
                "table_id": np.tile(
                    np.arange(n_tables, dtype=np.int32), len(v)
                ),
                "bucket": buckets.reshape(-1),
            }
            yield pd.DataFrame(out)

    return emb.select(id_col, vec_col).mapInPandas(bands, schema)


def _verified_pairs(
    cand: DataFrame, vecs_a: DataFrame, vecs_b: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, cos_sim) for candidate (id_a < id_b) pairs whose
    exact cosine clears the threshold."""
    j = (
        cand.join(
            vecs_a.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")),
            "id_a",
        )
        .join(
            vecs_b.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb")),
            "id_b",
        )
        .withColumn("cos_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
    )
    return j.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def embedding_ann_batch(
    emb: DataFrame,
    threshold: float = 0.99,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    collapse_exact: bool = True,
    pair_mode: str = "clique",
    dup_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """One-shot banded near-neighbor pairs over a corpus snapshot —
    the equality twin the streaming path is pinned against.

    ``dup_stats`` (optional): a caller-precomputed ``(nd, ng)`` pair
    — row count and distinct-``xxhash64(v)`` count of the DOUBLE
    array relation this function derives from ``emb`` — used for the
    exact-dup collapse gate instead of running the gate aggregate
    here. Callers that already aggregate over the corpus (the
    ann_bands_recall gate folds its planted-count pass and this
    statistic into ONE job) skip a full corpus action; the values
    MUST equal what dedup._dup_mass_stats(v, xxhash64(v)) would
    return, or the regime choice diverges (pinned by
    test_ann_gate_fold). Ignored when collapse_exact is False.

    The interpreted sign-projection bucketing (n_tables×n_planes
    dim-wide dots per vector — the PLANS_r06 §5c ceiling) is paid
    ONCE: the bucket frame (small int keys, no vectors) persists and
    feeds both sides of the candidate self-join; the verify sides
    read the double-array frame directly instead of distinct-ing the
    exploded bands relation. Caching contract as elsewhere: callers
    running many jobs clearCache() between them (bench.py does).

    `collapse_exact` is the vector twin of the dedup-side fix
    (operators/dedup.minhash_near_dup_pairs): K identical embeddings
    — duplicate documents produce EXACTLY these — share every
    (table, bucket) key, so the candidate self-join does
    n_tables·K²/2 work and the verify re-scores every member pair.
    Behind the same dup-mass gate, identical vectors (grouped by the
    hash of the double array) band and verify once per GROUP;
    verified rep pairs expand to member pairs (identical arrays ⟹
    the member cosine IS the rep cosine), and intra-group pairs take
    the group's SELF-cosine, verified once per group through the
    same _verified_pairs expression — identical input arrays give
    the bit-identical value any member pair would, zero-vector /
    non-finite groups drop exactly as the plain path drops them, and
    the per-pair cost is a long-key join, not an interpreted cosine.
    The streaming twin needs no collapse: its per-epoch join is
    already candidate=output-bound for exact dups (each new copy
    joins its group's history bucket once).

    `pair_mode="star"` emits the connectivity-equivalent linear edge
    set instead of the full relation — rep-level cross pairs plus
    K−1 rep→member star edges per group, each star edge carrying the
    group's verified self-cosine (identical transitive closure and
    vertex set; see dedup.minhash_near_dup_pairs). Use for cluster /
    dup-set consumers where a 10⁶-identical-vector group must not
    emit C(K,2) rows."""
    if pair_mode not in ("clique", "star"):
        raise ValueError(f"pair_mode must be 'clique' or 'star', got {pair_mode!r}")
    from datasette_upload_csvs_spark.operators.dedup import (
        _COLLAPSE_MIN_DUP,
        _intra_clique_pairs,
    )

    v = double_array_frame(emb)
    members = None
    bands_src = v
    if collapse_exact:
        # gate statistic in ONE exact aggregate (r14, see
        # dedup._dup_mass_stats): same (nd, ng) as the old keyed
        # groupBy chain, so the regime decision is unchanged — the
        # dup-light regime skips the per-key exchange and the groups
        # persist it always dropped.
        nd, ng = (
            dup_stats
            if dup_stats is not None
            else _dedup._dup_mass_stats(v, F.xxhash64("v"))
        )
        if nd - ng >= max(_COLLAPSE_MIN_DUP, 0.01 * nd):
            # dup-heavy regime: persist the keyed projection so the
            # groups aggregate and the members join share ONE scan of
            # the input instead of re-deriving it per consumer (r15,
            # closing the r14 ADVICE double-scan). The gate aggregate
            # above remains its own pre-pass by construction — it must
            # run before the regime is known, and persisting the input
            # unconditionally would tax every dup-light call (the
            # common regime) for the rare corpus that trips.
            keyed = v.select(
                "vec_id", F.xxhash64("v").alias("_k")
            ).persist()
            groups = (
                keyed.groupBy("_k")
                .agg(
                    F.min("vec_id").alias("_rep"),
                    F.count("*").alias("_gc"),
                )
                .persist()
            )
            members = (
                keyed.join(groups, "_k")
                .select("vec_id", "_rep", "_gc")
                .persist()
            )
            bands_src = v.join(
                groups.select(F.col("_rep").alias("vec_id")),
                "vec_id",
                "left_semi",
            )
    entries = _table_bucket_entries(n_tables, n_planes, dim)
    bands = (
        bands_src.select("vec_id", F.explode(F.array(*entries)).alias("tb"))
        .select("vec_id", F.col("tb.table_id"), F.col("tb.bucket"))
        .persist()
    )
    a = bands.select(F.col("vec_id").alias("id_a"), "table_id", "bucket")
    b = bands.select(F.col("vec_id").alias("id_b"), "table_id", "bucket")
    cand = (
        a.join(b, ["table_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = _verified_pairs(cand, v, v, threshold)
    if members is None:
        return verified
    if pair_mode == "star":
        # one self-cosine per dup GROUP (zero/non-finite groups drop
        # exactly as the plain path drops them), fanned out to the
        # K−1 star edges; verified cross pairs stay at rep level
        self_cand = (
            members.filter(F.col("_gc") >= 2)
            .select(F.col("_rep").alias("id_a"), F.col("_rep").alias("id_b"))
            .distinct()
        )
        group_cos = _verified_pairs(self_cand, v, v, threshold).select(
            F.col("id_a").alias("_rep"), "cos_sim"
        )
        intra = (
            members.filter(
                (F.col("_gc") >= 2) & (F.col("vec_id") != F.col("_rep"))
            )
            .join(group_cos, "_rep")
            .select(
                F.col("_rep").alias("id_a"),
                F.col("vec_id").alias("id_b"),
                "cos_sim",
            )
        )
        return verified.unionByName(intra)
    ma = members.select(F.col("_rep").alias("id_a"), F.col("vec_id").alias("_ma"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("vec_id").alias("_mb"))
    cross = (
        verified.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "cos_sim",
        )
    )
    # one self-cosine per dup GROUP: bit-identical to the cosine the
    # plain path computes for any member pair (same input arrays),
    # including the NaN drop for zero/non-finite vectors
    self_cand = (
        members.filter(F.col("_gc") >= 2)
        .select(F.col("_rep").alias("id_a"), F.col("_rep").alias("id_b"))
        .distinct()
    )
    group_cos = _verified_pairs(self_cand, v, v, threshold).select(
        F.col("id_a").alias("_rep"), "cos_sim"
    )
    intra = (
        _intra_clique_pairs(members, "vec_id", keep_group=True)
        .join(group_cos, "_rep")
        .select("id_a", "id_b", "cos_sim")
    )
    return cross.unionByName(intra)


def ann_epoch(
    batch_df: DataFrame,
    epoch: int,
    pairs_table: str,
    index_table: str,
    threshold: float = 0.99,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    bucket_star_cap: int | str | None = None,
) -> dict | None:
    """One epoch of incremental ANN maintenance — factored out of the
    foreachBatch closure so the replay test can invoke a single epoch
    directly (semantics must not depend on the streaming engine never
    re-delivering, because it may).

    Exactly-once across the THREE mutable stores under at-least-once
    redelivery, via the shared epoch_write recipe:
      * history reads mask this epoch's own ``_batch_id`` partition,
        so a replay whose crash happened after any of the three
        writes still scores the new batch against exactly the
        pre-batch corpus the first attempt saw;
      * all three writes are per-epoch dynamic partition overwrites —
        a replay rewrites its partitions instead of double-appending.

    ``bucket_star_cap`` (default None = historical behavior): the
    joined-against side of both candidate joins has oversized
    (table_id, bucket) groups collapsed to their min-id anchor
    (dedup.cap_bucket_side) — a K-member near-identical embedding
    family in maintained state costs each probe 1 candidate per
    table instead of K; cosine is still exactly verified on every
    emitted pair, families stay CC-connected through anchor edges.

    Returns ``{}`` for a processed batch, None for an empty one (the
    epoch-function contract epoch_write.drain_epochs counts by)."""
    if batch_df.isEmpty():
        return None
    sp = batch_df.sparkSession
    vecs_table = f"{index_table}__vecs"
    bands = _multi_table_bands(batch_df, n_tables, n_planes, dim).persist()
    new_vecs = bands.select("vec_id", "v").distinct().persist()

    cands = []
    if sp.catalog.tableExists(index_table):
        # the session caches table file listings; inside a
        # foreachBatch thread a previous batch's append is NOT
        # automatically visible — without the refresh, batch N joins
        # against batch N-2's index and silently misses pairs (the
        # stale-listing bug observed in near_dup_epoch)
        sp.catalog.refreshTable(index_table)
        # mask our own partition: on a replay the first attempt may
        # already have appended this batch's bands
        # read_state also masks sub-BASE partitions (a staging left
        # by a crashed compaction) — see epoch_write.read_state
        # probe-bucket pruning (round-13, same move as
        # near_dup_epoch): only history index rows sharing a
        # (table_id, bucket) key with THIS batch can contribute a
        # candidate — semi-reduce before the cap so the per-epoch
        # shuffle is O(batch + matches), not O(index).
        from datasette_upload_csvs_spark.streaming.near_dup_stream import (
            _PROBE_KEY_BROADCAST_MAX,
            semi_prune_fused,
        )

        hist = _dedup.cap_bucket_side(
            semi_prune_fused(
                read_state(sp, index_table, epoch),
                bands,
                ["table_id", "bucket"],
                new_vecs.count() * n_tables <= _PROBE_KEY_BROADCAST_MAX,
            ),
            ["table_id", "bucket"],
            "vec_id",
            bucket_star_cap,
        )
        cands.append(  # new vs history — direction normalized
            bands.select(
                F.col("vec_id").alias("id_n"), "table_id", "bucket"
            )
            .join(
                hist.select(
                    F.col("vec_id").alias("id_h"), "table_id", "bucket"
                ),
                ["table_id", "bucket"],
            )
            .select(
                F.least("id_h", "id_n").alias("id_a"),
                F.greatest("id_h", "id_n").alias("id_b"),
            )
        )
    a = bands.select(F.col("vec_id").alias("id_a"), "table_id", "bucket")
    b = _dedup.cap_bucket_side(
        bands, ["table_id", "bucket"], "vec_id", bucket_star_cap
    ).select(F.col("vec_id").alias("id_b"), "table_id", "bucket")
    nn = a.join(b, ["table_id", "bucket"])
    if bucket_star_cap is None:
        nn = nn.filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b"
        )
    else:
        # right side is anchor-capped: a<b would drop every
        # (member, anchor) star edge — normalize; distinct dedups
        nn = nn.filter(F.col("id_a") != F.col("id_b")).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    cands.append(nn)  # new vs new
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    # eager checkpoint: the candidate relation has two consumers
    # below (the verify join and its id-reduction semi); a lazy
    # persist lets the verify job's concurrent stages race the cache
    # and compute the band joins twice (see near_dup_epoch) — the
    # checkpoint computes them exactly once and is candidate-bounded
    cand = cand.distinct().localCheckpoint(eager=True)

    if sp.catalog.tableExists(vecs_table):
        sp.catalog.refreshTable(vecs_table)  # same stale-listing hazard
        old_vecs = read_state(sp, vecs_table, epoch).select("vec_id", "v")
    else:
        old_vecs = new_vecs.limit(0)
    all_vecs = old_vecs.unionByName(new_vecs)
    # verify-input reduction (round-13): only vectors that appear in
    # a candidate need reading into the cosine verify — the id list
    # is candidate-bounded, so AQE broadcasts the semi at runtime and
    # the vector store is scanned, never shuffled.
    cand_ids = (
        cand.select(F.col("id_a").alias("vec_id"))
        .unionByName(cand.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    all_vecs = all_vecs.join(cand_ids, "vec_id", "left_semi")
    pairs = _verified_pairs(cand, all_vecs, all_vecs, threshold)
    # The pairs write materializes its plan BEFORE the index/vecs
    # writes mutate the tables that plan reads — keep this order.
    write_epoch_partition(
        pairs.withColumn("_batch_id", F.lit(epoch)), pairs_table
    )
    write_epoch_partition(
        bands.select("vec_id", "table_id", "bucket").withColumn(
            "_batch_id", F.lit(epoch)
        ),
        index_table,
    )
    write_epoch_partition(
        new_vecs.withColumn("_batch_id", F.lit(epoch)), vecs_table
    )
    bands.unpersist()
    new_vecs.unpersist()
    return {}


def maintain_embedding_ann_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    pairs_table: str,
    index_table: str,
    threshold: float = 0.99,
    n_tables: int = 4,
    n_planes: int = 8,
    dim: int = 64,
    checkpoint_dir: str | None = None,
    compact_every: int | None = None,
    bucket_star_cap: int | str | None = None,
) -> int:
    """Drain a parquet stream of (vec_id, embedding) into near-
    neighbor PAIRS (pairs_table) while maintaining the band index
    (index_table) and the vector store (index_table + '__vecs').
    Trigger.AvailableNow; returns micro-batches processed. Pair
    direction id_a < id_b (least/greatest normalized), so
    batch-vs-history and in-batch pairs land identically to a batch
    run over the full corpus.

    `checkpoint_dir` makes the stream resumable. All three tables are
    `_batch_id`-partitioned with masked reads + per-epoch dynamic
    partition overwrite (see ann_epoch), so BOTH the common
    between-batch kill AND a mid-batch kill+replay recover to exactly
    the contents of an uninterrupted run — the same exactly-once
    contract as split_stream/curation_stream, proven by
    tests/test_ann_stream.py's replay test.

    `compact_every=N` folds closed epoch partitions (< the current
    epoch) of all three tables into their BASE partition every N
    epochs — bounded partition counts under unbounded streams; each
    fold rewrites the base (O(history)), so N tunes rewrite
    amplification vs partition count. The schedule and why folding
    inside the sink is replay-safe: epoch_write.drain_epochs."""
    epoch_fn = functools.partial(
        ann_epoch,
        pairs_table=pairs_table,
        index_table=index_table,
        threshold=threshold,
        n_tables=n_tables,
        n_planes=n_planes,
        dim=dim,
        bucket_star_cap=bucket_star_cap,
    )
    return drain_epochs(
        spark,
        source_dir,
        schema,
        epoch_fn,
        (pairs_table, index_table, f"{index_table}__vecs"),
        checkpoint_dir=checkpoint_dir,
        compact_every=compact_every,
    )
