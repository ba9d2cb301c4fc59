"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k — exact, one pass, fully
distributed (per-partition partial top-k via TakeOrderedAndProject;
no full sort materializes). Scale path: random-hyperplane LSH
bucketing — each vector lands in a small number of buckets, queries
probe only their own bucket(s), turning the scan into a targeted
join. Recall is tunable via number of hyperplanes / probes.

All vector math is Catalyst expressions (functions/vector.py).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.functions.vector import as_double_array, cosine, dot


def brute_force_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors of the vector with id `query_id`.

    The single query row is broadcast (it is one row), so the scan of
    the corpus is shuffle-free: map-side cosine + TakeOrderedAndProject
    partial top-k per partition, merged on the driver. This is the
    plan shape that survives 100 TB — no shuffle, no global sort.
    """
    v = emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    q = v.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        v.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
        )
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("neighbor_id").asc())
        .limit(k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cos_sim"),
        )
    )


def brute_force_topk_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k for a SET of queries in ONE corpus scan.

    N separate brute_force_topk calls scan the corpus N times; this
    broadcasts all Q query vectors, scores corpus×Q map-side in a
    single pass, then takes per-query top-k in two levels:

      1. local prune — row_number over (query_id, scan partition id):
         the shuffle key has Q×P distinct values, so no reducer sees
         more than one partition's scores for one query (the naive
         window over query_id alone funnels the whole corpus×Q
         relation through Q reducers — a skew cliff at scale);
      2. global merge — window over query_id on the ≤ Q×P×k pruned
         survivors, which is tiny by construction.

    Output: (query_id, neighbor_id, rank, cos_sim), deterministic via
    the (cos desc, neighbor_id asc) tiebreak.
    """
    from pyspark.sql import Window

    v = emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    q = v.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        v.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
        )
        .withColumn("part", F.spark_partition_id())
    )
    order = [F.col("cos_raw").desc(), F.col("neighbor_id").asc()]
    w_local = Window.partitionBy("query_id", "part").orderBy(*order)
    pruned = (
        scored.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("rn", "part")
    )
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos_raw", 6).alias("cos_sim"),
        )
    )


def lsh_topk_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate batch top-k: the bucketed-join scale path.

    Corpus and queries are both LSH-coded; candidates come from a
    join on bucket proximity (Hamming ≤ probe_hamming), so each
    query scores ~(probed buckets)/2^p of the corpus instead of all
    of it. Same two-level top-k as the exact batch. At 100 TB:
    repartition the corpus by bucket once, and query batches become
    co-located bucket joins — no full scans per batch.
    """
    from pyspark.sql import Window

    bucketed = lsh_bucket_ids(emb, n_planes, dim, vec_col, id_col)
    q = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        bucketed.join(
            F.broadcast(q),
            (
                F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")))
                <= probe_hamming
            )
            & (F.col(id_col) != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
        )
        .withColumn("part", F.spark_partition_id())
    )
    order = [F.col("cos_raw").desc(), F.col("neighbor_id").asc()]
    w_local = Window.partitionBy("query_id", "part").orderBy(*order)
    pruned = (
        scored.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("rn", "part")
    )
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos_raw", 6).alias("cos_sim"),
        )
    )


def anchor_topk_batch(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k_anchors: int = 64,
    probe_corpus: int = 3,
    probe_query: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate batch top-k via ANCHOR-CELL PROBING — the
    data-adaptive bucketed path (IVF with deterministic anchors).

    The k_anchors smallest-id vectors quantize the space: every
    corpus vector registers in its probe_corpus nearest anchor
    cells, every query probes its probe_query nearest cells, and
    candidates come from a bucket EQUI-JOIN on anchor_id. Anchor
    cells follow the data manifold, which is why this beats
    sign-random-projection LSH when true neighbors sit near the
    random-pair cosine background (measured on the test corpus:
    ≥ 0.92 recall@10 at ~25 % candidate fraction vs 0.57-0.75 for
    5-plane SRP probing half the corpus). At corpus scale k_anchors
    grows ∝ n (IVF rule): candidate fraction ≈
    probe_query·probe_corpus/k_anchors shrinks as anchors are
    added, while this fixed-k test corpus pays ~25 %.

    Scale shape: anchors broadcast (O(n·k) scoring, no n² stage);
    per-key windows see exactly k_anchors rows (skew-free);
    candidate dedup + two-level top-k bound every shuffle by
    Q×P×k rows (same pruning as brute_force_topk_batch).
    """
    from pyspark.sql import Window

    from datasette_upload_csvs_spark.functions.vector import l2_norm

    # repartition before the O(n·k) scoring: a single-file corpus
    # would otherwise run every interpreted HOF cosine on one core;
    # norms are precomputed once per vector so scoring is one dot +
    # one divide instead of three folds per (vector, anchor)
    par = emb.sparkSession.sparkContext.defaultParallelism
    v = (
        emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
        .repartition(par)
        .withColumn("nrm", l2_norm(F.col("v")))
    )
    anchors = v.filter(F.col(id_col) < k_anchors).select(
        F.col(id_col).alias("anchor_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    scored_anchors = v.join(F.broadcast(anchors)).select(
        id_col,
        "v",
        "nrm",
        "anchor_id",
        (dot(F.col("v"), F.col("av")) / (F.col("nrm") * F.col("anrm"))).alias(
            "ac"
        ),
    )
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("ac").desc(), F.col("anchor_id").asc()
    )
    # materialize the assignment ONCE: corpus cells and query cells
    # both derive from it, and without the persist each side re-runs
    # the full n×k anchor scoring (the most expensive stage)
    ranked = (
        scored_anchors.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= max(probe_corpus, probe_query))
        .persist()
    )
    corpus_cells = ranked.filter(F.col("rn") <= probe_corpus).select(
        id_col, "v", "anchor_id"
    )
    query_cells = (
        ranked.filter(
            F.col(id_col).isin(query_ids) & (F.col("rn") <= probe_query)
        )
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            "anchor_id",
        )
    )
    cand = (
        corpus_cells.join(F.broadcast(query_cells), "anchor_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"), "v", "qv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
    ).withColumn("part", F.spark_partition_id())
    order = [F.col("cos_raw").desc(), F.col("neighbor_id").asc()]
    w_local = Window.partitionBy("query_id", "part").orderBy(*order)
    pruned = (
        scored.withColumn("rn", F.row_number().over(w_local))
        .filter(F.col("rn") <= k)
        .drop("rn", "part")
    )
    w_global = Window.partitionBy("query_id").orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(w_global))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos_raw", 6).alias("cos_sim"),
        )
    )


# Deterministic pseudo-random hyperplanes: component h[p][d] derived
# from xxhash64-free integer mixing so plans contain only literals.
def _numpy_lloyd(x, k: int, seed: int, iters: int = 25):
    """Deterministic seeded k-means over a DRIVER-SIDE sample matrix
    (k-means++ init from a seeded RandomState, Lloyd to stability or
    `iters`). The coarse-quantizer fits in this module train on a
    bounded sample by design (O(k·dim) effective parameters — the
    FAISS convention), so the fit itself is a milliseconds-scale
    numpy loop; running it as m sequential MLlib jobs paid hundreds
    of scheduler round-trips to move the same few megabytes
    (measured: 16 sub-quantizer fits = ~15 s of wall for ~50 ms of
    arithmetic). Distributed work stays distributed: encoding /
    assignment over the full corpus runs as one Arrow mapInPandas
    argmin against these centroids."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    rs = np.random.RandomState(seed)
    k = min(k, n)
    cent = np.empty((k, x.shape[1]), dtype=np.float64)
    cent[0] = x[rs.randint(n)]
    d2 = ((x - cent[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot > 0:
            idx = rs.choice(n, p=d2 / tot)
        else:  # all remaining points identical to a chosen center
            idx = rs.randint(n)
        cent[j] = x[idx]
        d2 = np.minimum(d2, ((x - cent[j]) ** 2).sum(axis=1))
    xn2 = (x * x).sum(axis=1, keepdims=True)
    for _ in range(iters):
        dist = xn2 - 2.0 * (x @ cent.T) + (cent * cent).sum(axis=1)[None, :]
        asg = dist.argmin(axis=1)
        new = cent.copy()
        for j in range(k):
            mask = asg == j
            if mask.any():
                new[j] = x[mask].mean(axis=0)
        if np.allclose(new, cent, rtol=0, atol=1e-12):
            cent = new
            break
        cent = new
    return cent


def _argmin_codes_arrow(
    v_df: DataFrame,
    codebooks,
    sub: int,
    id_col: str,
    keep_v: bool = False,
    out_prefix: str = "code_",
):
    """One Arrow pass assigning every vector its nearest-centroid
    code per subspace (ties → lowest code, numpy argmin's rule).
    `codebooks` is an m×k×sub nested list; m=1 with sub=dim is the
    plain IVF assignment."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    mats = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    cn2 = [(c * c).sum(axis=1) for c in mats]
    m = len(mats)
    fields = [StructField(id_col, LongType())]
    if keep_v:
        fields.append(StructField("v", ArrayType(DoubleType())))
    fields += [
        StructField(f"{out_prefix}{j}", IntegerType()) for j in range(m)
    ]
    schema = StructType(fields)

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(list(pdf["v"]), dtype=np.float64)
            out = {id_col: pdf[id_col].values}
            if keep_v:
                out["v"] = pdf["v"]
            for j in range(m):
                xj = x[:, j * sub:(j + 1) * sub]
                d = (
                    (xj * xj).sum(axis=1, keepdims=True)
                    - 2.0 * (xj @ mats[j].T)
                    + cn2[j][None, :]
                )
                out[f"{out_prefix}{j}"] = d.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return v_df.select(id_col, "v").mapInPandas(enc, schema)


def _hyperplane(p: int, dim: int) -> list[float]:
    comps = []
    s = (p + 1) * 0x9E3779B97F4A7C15 % (1 << 63)
    for _ in range(dim):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        comps.append((s / float(1 << 63)) * 2.0 - 1.0)
    return comps


def lsh_bucket_ids(
    emb: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, v, bucket) — sign-of-projection LSH bucket per vector.

    bucket = n_planes-bit code; expected bucket population n/2^p.
    At corpus scale, repartition by bucket → co-located candidate
    neighborhoods; a query probes 1 bucket (+ optionally multiprobe
    neighbors at Hamming distance 1).
    """
    v = emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    return v.withColumn("bucket", _lsh_bucket_expr(n_planes, dim))


@functools.lru_cache(maxsize=16)
def _lsh_bucket_expr(n_planes: int, dim: int, first_plane: int = 0):
    """The n_planes-bit sign-pattern bucket over the double-array
    column ``v``, bit p from hyperplane ``first_plane + p`` (a
    multi-table index gives table t planes t*n_planes onward —
    ann_stream._table_bucket_entries). Memoized per process —
    construction is n_planes×dim F.lit py4j calls rebuilt identically
    per invocation otherwise (r14 change 6); Columns are immutable
    unresolved fragments, safe to reuse."""
    bucket = None
    for p in range(n_planes):
        plane = F.array(
            *[F.lit(c) for c in _hyperplane(first_plane + p, dim)]
        )
        bit = F.when(dot(F.col("v"), plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("int")


def lsh_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 6,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k via multiprobe LSH: search buckets whose
    code is within `probe_hamming` bits of the query's bucket.

    Returns the same schema as brute_force_topk. Recall < 1 by
    construction; measure with `recall_vs_brute_force`. Multiprobe
    trades recall against candidate-set size without re-hashing —
    the standard knob (Lv et al., multi-probe LSH, VLDB'07).
    """
    bucketed = lsh_bucket_ids(emb, n_planes, dim, vec_col, id_col)
    q = bucketed.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        bucketed.filter(F.col(id_col) != query_id)
        .join(
            F.broadcast(q),
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")))
            <= probe_hamming,
        )
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
        )
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("neighbor_id").asc())
        .limit(k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


def ivf_index(
    emb: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    fit_sample_target: int = 4096,
) -> tuple[DataFrame, DataFrame, int]:
    """Build the IVF index: (assigned inverted lists, centroids,
    fit_count).

    The coarse quantizer trains on a deterministic-seed SAMPLE of
    the corpus, never the full table: at 100 TB a full-corpus
    KMeans.fit is several complete passes just to place
    n_clusters×dim floats, while a few thousand vectors pin the same
    centroids (k-means needs O(k·dim) effective parameters).
    `fit_sample_target` caps the expected sample size; corpora at or
    below the target train on everything.

    The returned lists are repartitioned BY CLUSTER ID, so each
    inverted list is co-located: a probe of n_probe clusters touches
    n_probe partitions, not a shard of every partition — the
    IVF-Flat layout (FAISS) expressed as a DataFrame partitioning.
    Assignment itself is a map-side Arrow argmin against the
    centroid matrix riding the task closure, no shuffle before the
    repartition. The fit is the driver-side seeded numpy Lloyd over
    the bounded sample (_numpy_lloyd) — one sample collect replaces
    an MLlib KMeans job chain.
    """
    import numpy as np

    v = emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    n = v.count()
    fraction = min(1.0, float(fit_sample_target) / max(n, 1))
    fit_input = v.sample(fraction=fraction, seed=seed) if fraction < 1.0 else v
    sample = np.array(
        [row["v"] for row in fit_input.select("v").collect()],
        dtype=np.float64,
    )
    fit_count = len(sample)
    cent = _numpy_lloyd(sample, n_clusters, seed)
    dim = sample.shape[1]
    codebook = [[float(x) for x in c] for c in cent]
    assigned = (
        _argmin_codes_arrow(
            v, [codebook], dim, id_col, keep_v=True, out_prefix="cluster_"
        )
        .withColumnRenamed("cluster_0", "cluster")
        .repartition(n_clusters, "cluster")
    )
    spark = emb.sparkSession
    centers = spark.createDataFrame(
        [(i, c) for i, c in enumerate(codebook)],
        "cluster int, center array<double>",
    )
    return assigned, centers, fit_count


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: k-means
    coarse quantizer (sample-trained; see ivf_index) → per-cluster
    co-located inverted lists → probe the n_probe centroids nearest
    the query.

    A query touches n_probe/n_clusters of the corpus, and those
    rows live in whole partitions (the index is repartitioned by
    cluster), so partition pruning after a bucket-join keeps probe
    I/O proportional to the probed lists.
    """
    assigned, centers, _ = ivf_index(
        emb, n_clusters, vec_col, id_col, seed
    )
    q = assigned.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    # rank centroids by distance to the query; keep n_probe lists
    probed = (
        centers.join(F.broadcast(q))
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with("center", "qv", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .orderBy("dist")
        .limit(n_probe)
        .select("cluster")
    )
    candidates = assigned.join(F.broadcast(probed), "cluster").filter(
        F.col(id_col) != query_id
    )
    scored = candidates.join(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col("v"), F.col("qv")).alias("cos_raw"),
    )
    return (
        scored.orderBy(F.col("cos_raw").desc(), F.col("neighbor_id").asc())
        .limit(k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


def recall_vs_brute_force(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_planes: int = 6,
    probe_hamming: int = 1,
) -> DataFrame:
    """recall@k of the LSH path against the exact baseline (one row)."""
    exact = brute_force_topk(emb, query_id, k).select("neighbor_id")
    approx = lsh_topk(
        emb, query_id, k, n_planes, probe_hamming=probe_hamming
    ).select("neighbor_id")
    hit = exact.join(approx, "neighbor_id", "left_semi").count()
    total = exact.count()
    spark = emb.sparkSession
    return spark.createDataFrame(
        [(query_id, float(hit) / float(total) if total else 0.0)],
        "query_id long, recall double",
    )


def pq_index(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    fit_sample_target: int = 4096,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product-quantization index (Jégou et al., "Product
    Quantization for Nearest Neighbor Search"): split each vector
    into m subvectors, learn an n_codes-entry k-means codebook per
    subspace, store each vector as m small code ids (m·log2(n_codes)
    bits — 32 bits/vector at 8×16 vs 2048 for raw float64s).

    Codebooks train on a deterministic-seed sample (the ivf_index
    rule: k-means needs O(k·dim) effective parameters, never a full
    pass) via the driver-side seeded numpy Lloyd (_numpy_lloyd —
    the earlier m sequential MLlib fits paid ~15 s of scheduler
    round-trips for ~50 ms of arithmetic); encoding over the full
    corpus is ONE Arrow mapInPandas argmin pass across all m
    subspaces — no shuffle anywhere. Returns (codes DF with
    code_0..m-1 int columns, codebooks as an m×n_codes×sub_dim
    nested list for driver-side distance tables).
    """
    v = emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    dim = len(v.select("v").first()["v"])
    assert dim % m == 0, f"dim {dim} not divisible by m={m}"
    sub = dim // m

    n = v.count()
    fraction = min(1.0, float(fit_sample_target) / max(n, 1))
    fit_base = v.sample(fraction=fraction, seed=seed) if fraction < 1.0 else v

    import numpy as np

    sample = np.array(
        [row["v"] for row in fit_base.select("v").collect()],
        dtype=np.float64,
    )
    codebooks = [
        [
            [float(x) for x in c]
            for c in _numpy_lloyd(
                sample[:, j * sub:(j + 1) * sub], n_codes, seed + j
            )
        ]
        for j in range(m)
    ]
    codes = _argmin_codes_arrow(v, codebooks, sub, id_col)
    return codes, codebooks


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): the query
    stays exact; each corpus vector's distance is the sum over
    subspaces of ||q_j − codebook[j][code_j]||², read out of an
    m×n_codes lookup table built once per query.

    The table is a pure literal array expression, so scoring is a
    map-side whole-stage-codegen pass over the (tiny) code columns —
    the corpus's float vectors are never touched after indexing.
    Top-k is TakeOrderedAndProject (no global sort).
    """
    codes, codebooks = pq_index(
        emb, m, n_codes, vec_col, id_col, seed
    )
    sub = len(codebooks[0][0])
    q = (
        emb.filter(F.col(id_col) == query_id)
        .select(as_double_array(F.col(vec_col)).alias("qv"))
        .first()["qv"]
    )
    # driver-side m×n_codes distance table (m·n_codes·sub flops once
    # per query — microscopic next to any scan)
    dtab = [
        [
            sum(
                (q[j * sub + t] - codebooks[j][c][t]) ** 2
                for t in range(sub)
            )
            for c in range(n_codes)
        ]
        for j in range(m)
    ]
    adist = None
    for j in range(m):
        arr = F.array(*[F.lit(x) for x in dtab[j]])
        term = F.element_at(arr, F.col(f"code_{j}") + 1)
        adist = term if adist is None else adist + term
    return (
        codes.filter(F.col(id_col) != query_id)
        .select(
            F.lit(query_id).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            adist.alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
        .limit(k)
    )
