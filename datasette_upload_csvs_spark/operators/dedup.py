"""Deduplication operators for document corpora.

Five strategies, each scale-shaped for a 100 TB corpus:

- exact:          hash-groupBy on content digest — one shuffle on the
                  digest, never on the raw text.
- ngram Jaccard:  exact near-dup via a shingle inverted index — the
                  self-join is on the *shingle*, so only documents
                  sharing ≥1 shingle ever meet; never O(n²).
- MinHash + LSH:  signature → band buckets → candidate join →
                  exact verification. Sub-quadratic candidate
                  generation; the standard web-scale dedup recipe
                  (cf. Broder '97; same shape as Spark ML MinHashLSH,
                  re-expressed here with pure DataFrame ops so the
                  signature matrix stays JVM-side).
- SimHash:        64-bit weighted fingerprint; near-dups = small
                  Hamming distance, bucketed by 16-bit chunks
                  (Charikar '02 / the Google news-dedup shape).
- embedding:      cosine over an embedding column; blocked
                  all-pairs for exactness, LSH hyperplane buckets as
                  the scale path (see similarity.py).

All hot-path math is Catalyst expressions (xxhash64, higher-order
array functions, bitwise aggs) — no Python UDFs.
"""

from __future__ import annotations

from functools import lru_cache, reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.functions.text import shingles, tokens
from datasette_upload_csvs_spark.functions.vector import as_double_array, cosine

# ---------------------------------------------------------------- exact


def exact_dup_ranks(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Every row tagged with its duplicate-group rank (1 = keeper).

    Groups by md5 digest of the content, not the content itself, so
    the shuffle key is 32 bytes regardless of document size — at
    100 TB that is the difference between shuffling digests and
    shuffling the corpus.
    """
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_hash"),
        F.row_number().over(w).alias("dup_rank"),
        (F.row_number().over(w) == 1).alias("is_keeper"),
    )


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row of each exact-duplicate group."""
    r = exact_dup_ranks(docs, text_col, id_col)
    return docs.join(
        r.filter(F.col("dup_rank") == 1).select(id_col), on=id_col, how="left_semi"
    )


# ------------------------------------------------- shingle inverted index


def _shingle_hashes(col, n: int = 3):
    """Distinct 64-bit hashes of a doc's n-token shingles, without
    building shingle strings: xxhash64 over the n token slots
    directly (F.get is 0-based and null-safe past the end, matching
    the 'short doc = one shingle of all its tokens' convention —
    trailing nulls hash deterministically)."""
    t = tokens(col)
    k = F.size(t)
    idx = F.sequence(F.lit(0), F.greatest(k - F.lit(n), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.xxhash64(*[F.get(t, i + j) for j in range(n)]))
    )


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Repartition the corpus ONLY when it arrives under-parallel
    (small-file fixtures land as 1-2 partitions and shingling is
    CPU-bound per row). A 100 TB scan already has thousands of input
    splits — repartitioning it would shuffle the entire corpus TEXT
    before any work, the most expensive possible no-op — so wide
    inputs pass through untouched (partition count is scan metadata,
    no job)."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    try:
        n_in = docs.rdd.getNumPartitions()
    except Exception:
        n_in = 1
    if n_in >= par:
        return docs
    return docs.repartition(par, F.col(id_col))


def _hash_shingle_frame(
    docs: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id_col, sh) frame, sh = _shingle_hashes — but with the token
    array MATERIALIZED once per row behind a 1:1 explode(array(...))
    generator boundary. Inline, CollapseProject substitutes the
    tokenizer split() into every F.get slot, re-tokenizing n× per
    window (measured 8.8 s vs 0.34 s for the sf0.1 corpus at n=3):
    the generator is a projection barrier the optimizer cannot
    collapse through, so split() runs once per document. Output is
    expression-identical to select(id, _shingle_hashes(text, n))."""
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array(tokens(F.col(text_col)))).alias("_t"),
    )
    t = F.col("_t")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - F.lit(n), F.lit(0)))
    sh = F.array_distinct(
        F.transform(
            idx, lambda i: F.xxhash64(*[F.get(t, i + j) for j in range(n)])
        )
    )
    return toks.select(F.col(id_col), sh.alias("sh"))


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, shingle) exploded inverted-index relation, distinct."""
    return (
        docs.select(F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle"))
        .distinct()
    )


def _count_prune(cand, stats, id_col, measure, tau, count_col):
    """PPJoin-style count filter, shared by the capped branch and the
    MinHash exact floor. `cand` carries per-pair `count_col` =
    |shared shingles in the counted class|; `stats` carries per-doc
    (id, n_full, n_hot) where n_hot = shingles OUTSIDE the counted
    class that a pair could still share. shared ≤ count + min(n_hot)
    and shared ≤ min(n_full), so an upper bound on jaccard or
    containment is available from integers alone — pairs whose bound
    is < tau cannot pass the exact verify, making the prune
    output-invariant."""
    st_a = stats.select(
        F.col(id_col).alias("id_a"),
        F.col("n_full").alias("nf_a"),
        F.col("n_hot").alias("nh_a"),
    )
    st_b = stats.select(
        F.col(id_col).alias("id_b"),
        F.col("n_full").alias("nf_b"),
        F.col("n_hot").alias("nh_b"),
    )
    smax = F.least(
        F.col(count_col) + F.least("nh_a", "nh_b"),
        F.least("nf_a", "nf_b"),
    ).cast("double")
    if measure == "containment":
        ub = smax / F.least("nf_a", "nf_b").cast("double")
    else:
        ub = smax / (F.col("nf_a") + F.col("nf_b") - smax).cast("double")
    return (
        cand.join(st_a, "id_a")
        .join(st_b, "id_b")
        .filter(ub >= tau)
        .select("id_a", "id_b")
    )


def _doclist_pair_structs(ds):
    """Map-side candidate expansion over a grouped doc-list column:
    every unordered pair from `ds` as (id_a, id_b) structs — a
    bounded nested transform (≤ C(|ds|, 2) structs), no self-join."""
    return F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(
                    F.least(x, y).alias("id_a"),
                    F.greatest(x, y).alias("id_b"),
                ),
            ),
        )
    )


def _driver_gc(spark) -> None:
    """Driver JVM GC, so ContextCleaner frees the shuffle files of
    lineage that just became unreachable (the periodic GC outlives a
    corpus-scale run). Best-effort: hygiene never fails the caller."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


# exact-dup collapse activates only past this many duplicated docs
# (or 1% of the corpus, whichever is larger): below it the bucket
# self-join's 32·Σg² work is bounded and the collapse's extra stages
# cost more than they save — measured at sf0.1 (see
# minhash_near_dup_pairs docstring).
_COLLAPSE_MIN_DUP = 1024


def _dup_mass_stats(rel: DataFrame, *key_cols) -> tuple[int, int]:
    """(rows, distinct keys) of ``rel`` in ONE exact aggregate — the
    collapse-gate statistic without the old gate's job chain (keyed
    projection → per-key groupBy exchange → persisted groups frame →
    second aggregate). The values are IDENTICAL to that chain's
    (nd, ng), so every gate decision is unchanged; only the blocking
    gate job got cheaper (measured at sf0.1: 0.36-0.81 s chain →
    0.22-0.43 s single agg, and the dup-light regime — every real
    corpus — no longer persists/fills a groups frame it then drops).
    The keys are wrapped in ONE struct before count_distinct: a bare
    count_distinct(a, b) DROPS rows where any key expression is NULL
    (e.g. length(text) of a NULL text), while the groupBy chain
    counted NULL-keyed groups — the struct is itself never NULL and
    struct equality treats NULL fields exactly as grouping does, so
    the statistic matches the chain's on NULL-keyed corpora too
    (r15, closing the r14 ADVICE gap; pinned by the NULL-corpus case
    of test_dup_mass_stats_equals_groupby_gate).
    An HLL sketch was A/B'd here first and REJECTED: at any rsd the
    per-row sketch update + merge costs more than exact distinct at
    gate-decision scale (rsd 0.002 measured SECONDS per gate), and
    it trades the exact regime choice for nothing."""
    est = rel.agg(
        F.count("*").alias("nd"),
        F.count_distinct(F.struct(*key_cols)).alias("ng"),
    ).first()
    return (est["nd"] or 0), (est["ng"] or 0)


def _intra_clique_pairs(
    members: DataFrame,
    id_col: str,
    blocks: int = 32,
    keep_group: bool = False,
) -> DataFrame:
    """All C(K,2) pairs within each exact-duplicate group, emitted as
    a DISTRIBUTED blocked expansion: each group's sorted member list
    is exploded into `blocks` slices and repartitioned on
    (group, slice), so a 10⁴+-member group's clique materializes
    across the cluster instead of inside one task's nested transform
    (the output size is the pair contract's floor — this spreads the
    work, it never inflates it). ds is sorted, so emitting (x, later
    y) yields id_a < id_b with no normalization."""
    g = (
        members.filter(F.col("_gc") >= 2)
        .groupBy("_rep")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ds"))
    )
    k = F.size("ds")
    chunk = F.greatest(
        F.ceil((k - F.lit(1)).cast("double") / F.lit(blocks)).cast("int"),
        F.lit(1),
    )
    blk = (
        g.select(
            "_rep",
            "ds",
            F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("blk"),
        )
        .withColumn("_start", F.col("blk") * chunk + 1)
        .filter(F.col("_start") <= F.size("ds") - 1)
    )
    ds = F.col("ds")
    start = F.col("_start")
    mine = F.slice(ds, start, chunk)
    pairs = F.flatten(
        F.transform(
            mine,
            lambda x, i: F.transform(
                F.slice(ds, start + i + F.lit(1), F.size(ds)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    out = blk.repartition(F.col("_rep"), F.col("blk")).select(
        "_rep", F.explode(pairs).alias("p")
    )
    cols = (["_rep"] if keep_group else []) + ["p.id_a", "p.id_b"]
    return out.select(*cols)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.3,
    max_df: int | None = 20,
    prune_ub: tuple[str, float] | None = None,
    restrict_to_ids: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    The DEFAULT is the capped branch (max_df=20): the undecorated
    call is never the all-pairs plan. Pass max_df=None EXPLICITLY to
    get the uncapped single-pass baseline (small/trusted corpora
    only — see below for why it is a scale-killer).

    Plan shape (scale rationale): explode to (doc, shingle), shuffle
    once on shingle, join within shingle buckets, then aggregate pair
    counts. Cost is Σ bucket² over shingle buckets.

    `max_df` is the scale guard: a stop-shingle (boilerplate phrase
    present in df documents) creates an O(df²) bucket in the
    self-join — at corpus scale a single hot shingle can dominate
    the whole job. With `max_df` set, candidate generation drops
    shingles with document frequency > max_df (the classic
    frequent-item cut), then every surviving candidate pair is
    verified with EXACT Jaccard over the FULL shingle sets
    (array_intersect) — so emitted similarities are never
    approximate; only pairs whose entire overlap is stop-shingles
    can be missed, and those are the pairs whose similarity is
    boilerplate, not content. max_df=None keeps the exact
    single-pass count (small/trusted corpora, oracle baseline).

    The capped branch never materializes shingle STRINGS: sets are
    64-bit hash arrays (_shingle_hashes — same equivalence the
    MinHash verify relies on: |distinct hashes| == |distinct
    shingles| up to ~2^-64 per-pair collisions, pinned by the oracle
    hash-check), document frequency is a count-window over the ONE
    shingle-hash shuffle, and the candidate self-join reuses that
    same exchange — so the whole candidate stage costs one shuffle
    of (id, hash) longs instead of repeated string explode/distinct
    re-derivations.

    Caching contract (same as minhash_near_dup_pairs): the capped
    branch persists the per-doc hash-set frame, which the RETURNED
    lazy plan references from three consumers — it cannot unpersist
    before the caller materializes. Long-lived sessions issuing many
    calls should spark.catalog.clearCache() between jobs (bench.py
    and the driver harness do); the cached frame is one row per doc
    of ~8·|shingles| bytes, not corpus text.

    `prune_ub=(measure, tau)` (capped branch only) adds PPJoin-style
    count filtering between candidate generation and the exact
    verify: the pair expansion already yields c = |shared RARE
    shingles|, and shared ≤ c + min(hot_a, hot_b) where
    hot_x = |full set| − |rare subset| — so an upper bound on
    jaccard (shared/(n_a+n_b−shared), increasing in shared) or
    containment (shared/min(n_a,n_b)) is available from three
    integers per pair BEFORE touching the hash arrays. Pairs whose
    bound is < tau cannot pass the caller's exact filter, so pruning
    them is output-invariant (the oracles need no mirror) — it only
    skips the expensive array-intersect verify for hopeless pairs.
    Defaults to ("jaccard", threshold) when threshold > 0.

    `restrict_to_ids` (capped branch only) keeps only candidate
    pairs with ≥1 endpoint in the given single-column id frame —
    the incremental-append contract (operators/splits.py). The
    restriction lands BEFORE pair expansion: the posting lists are
    semi-joined to the batch docs' own shingles (broadcast — the id
    set and its shingle set are batch-sized), so the Σ C(df,2)
    expansion and the pair-count aggregate scale with the BATCH, not
    the corpus. Only the df count-window still reads the full
    corpus postings once (counts over (id, hash) longs — at 100 TB
    that index would be a maintained managed table, see
    operators/splits.py). Output-invariant versus filtering after
    expansion: every shingle shared by a kept pair contains the
    pair's new endpoint, so restricted candidate generation sees
    exactly the same shared-shingle evidence for kept pairs.
    """
    if restrict_to_ids is not None and max_df is None:
        raise ValueError("restrict_to_ids requires max_df (capped branch)")
    if max_df is not None:
        # shingling is CPU-bound per row; spread single-file inputs
        # (wide inputs pass through — see _spread)
        sets = _hash_shingle_frame(
            _spread(docs, id_col), text_col, id_col, n
        ).persist()
        # ONE shuffle on the shingle hash. The df cap rides a
        # count-window (counts only — a hot shingle is dropped before
        # any per-shingle array exists, so boilerplate can never
        # build a giant aggregation buffer), then the surviving
        # ≤ max_df doc-lists expand to candidate pairs MAP-SIDE with
        # a bounded nested transform (≤ C(max_df,2) structs per
        # shingle) — no self-join, no second shingle exchange.
        # (r14, tested and rejected: a count-first groupBy + left-semi
        # — the minhash exact floor's shape — measured SLOWER here,
        # min-of-5 at sf0.1: containment 2.49→2.63 s, capped jaccard
        # 2.29→2.65 s. The window's per-partition sort is cheaper
        # than the semi's extra exchange + hash build while the
        # postings exchange stays singular; the window still never
        # builds per-shingle arrays for hot shingles.)
        ex = sets.select(F.col(id_col), F.explode("sh").alias("shingle"))
        rare = ex.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle"))
        ).filter(F.col("df") <= max_df)
        pair_structs = _doclist_pair_structs(F.col("ds"))
        if prune_ub is None and threshold > 0:
            prune_ub = ("jaccard", threshold)
        # grouping (not distinct) makes the same exchange also yield
        # c = |shared rare shingles| — the count-filter input below.
        # The grouped doc-lists (the capped inverted index) persist
        # when pruning is on: the prune's per-doc rare counts read it
        # instead of re-running the df window — the shingle exchange
        # stays singular in the plan. Size is ≤ the postings already
        # cached in `sets` (hash longs only), spillable.
        grouped = rare.groupBy("shingle").agg(
            F.collect_list(F.col(id_col)).alias("ds")
        )
        rid = None
        if restrict_to_ids is not None:
            # persisted: three broadcast plans consume it (batch_sh
            # below, ra/rb endpoint flags) — independent re-evaluation
            # of a nondeterministic id frame (a limit(), a sample)
            # could otherwise cut shingles for one id set while
            # endpoint-flagging another, silently dropping pairs.
            # Same caching contract as `sets` (caller clearCache()s).
            rid = restrict_to_ids.select(
                F.col(restrict_to_ids.columns[0]).alias("_rid")
            ).persist()
            # Restrict BEFORE pair expansion: every shingle shared by
            # an output pair contains that pair's new endpoint, so
            # keeping only batch-touching shingles preserves the
            # candidate set AND the per-pair c_rare for every pair
            # with ≥1 new endpoint — while the expansion (the
            # Σ C(df,2) term) shrinks from corpus-scale to
            # O(batch shingles × C(max_df,2)). Old-old pairs sharing
            # a batch-touching shingle still appear and are dropped
            # by the endpoint filter below. The prune bound stays an
            # upper bound: n_rare undercounts on the restricted
            # index, so n_hot (and the bound) only grow.
            batch_sh = (
                sets.join(
                    F.broadcast(rid.withColumnRenamed("_rid", id_col)),
                    id_col,
                )
                .select(F.explode("sh").alias("shingle"))
                .distinct()
            )
            grouped = grouped.join(F.broadcast(batch_sh), "shingle", "left_semi")
        if prune_ub is not None:
            grouped = grouped.persist()
        cand = (
            grouped.select(F.explode(pair_structs).alias("p"))
            .groupBy("p.id_a", "p.id_b")
            .agg(F.count("*").alias("c_rare"))
        )
        if restrict_to_ids is not None:
            ra = rid.select(
                F.col("_rid").alias("id_a"), F.lit(True).alias("_a_new")
            )
            rb = rid.select(
                F.col("_rid").alias("id_b"), F.lit(True).alias("_b_new")
            )
            cand = (
                cand.join(F.broadcast(ra), "id_a", "left")
                .join(F.broadcast(rb), "id_b", "left")
                .filter(
                    F.coalesce("_a_new", F.lit(False))
                    | F.coalesce("_b_new", F.lit(False))
                )
                .drop("_a_new", "_b_new")
            )
        if prune_ub is not None:
            measure, tau = prune_ub
            # per-doc stats are 3 ints/doc — the prune join moves no
            # arrays; hot_x = full-set size − rare-subset size
            stats = (
                grouped.select(F.explode("ds").alias(id_col))
                .groupBy(id_col)
                .agg(F.count("*").alias("n_rare"))
                .join(
                    sets.select(
                        F.col(id_col), F.size("sh").alias("n_full")
                    ),
                    id_col,
                    "right",
                )
                .select(
                    F.col(id_col),
                    F.col("n_full"),
                    (F.col("n_full") - F.coalesce("n_rare", F.lit(0)))
                    .alias("n_hot"),
                )
            )
            cand = _count_prune(cand, stats, id_col, measure, tau, "c_rare")
        else:
            cand = cand.select("id_a", "id_b")
        sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        shared = F.size(F.array_intersect("sh_a", "sh_b"))
        return (
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                shared.cast("long").alias("shared"),
                F.size("sh_a").cast("long").alias("n_a"),
                F.size("sh_b").cast("long").alias("n_b"),
            )
            .withColumn(
                "jaccard",
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
        )
    sh = doc_shingles(docs, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, on="shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")
    )


# ------------------------------------------------------- MinHash + LSH

# 128 fixed multipliers/offsets for the permutation family
# h_i(x) = (a_i * x + b_i) mod 2^31-1 over 31-bit shingle hashes.
# 31-bit domain keeps a_i * x < 2^62, safe under ANSI long arithmetic.
_MERSENNE = (1 << 31) - 1


def _perm_consts(num_perm: int) -> list[tuple[int, int]]:
    # Deterministic LCG-derived constants (no RNG at plan time).
    consts = []
    s = 0x9E3779B97F4A7C15
    for _ in range(num_perm):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (s | 1) % _MERSENNE
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = s % _MERSENNE
        consts.append((a, b))
    return consts


def _signatures_from_hashes(
    sets: DataFrame, id_col: str = "doc_id", num_perm: int = 128
) -> DataFrame:
    """Signatures from an (id, sh array<long>) shingle-hash frame: the
    hashes are folded to 31 bits (pmod _MERSENNE), exploded, and
    reduced by one hash aggregation with num_perm codegen'd min
    states. Shared by the batch operator and the near-dup stream."""
    hashed = sets.select(
        F.col(id_col),
        F.explode(
            F.transform("sh", lambda h: F.pmod(h, F.lit(_MERSENNE)))
        ).alias("h"),
    )
    mins, arr = _perm_min_exprs(num_perm)
    sig = hashed.groupBy(id_col).agg(*mins)
    return sig.select(F.col(id_col), arr.alias("signature"))


@lru_cache(maxsize=8)
def _perm_min_exprs(num_perm: int):
    """(min-state aggregates, collect-array expr) for the
    num_perm-permutation signature. F.expr per aggregate: small SQL
    strings parse JVM-side; avoids building num_perm deep py4j
    Column trees (seconds of driver time). Memoized on top — the
    remaining num_perm F.expr round trips were still ~0.3-0.4 s per
    call, paid by every minhash consumer and every near-dup
    streaming epoch (r14 change 7)."""
    p = _MERSENNE
    mins = tuple(
        F.expr(f"min((h * {a}L + {b}L) % {p}L)").alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_consts(num_perm))
    )
    arr = F.expr("array(" + ",".join(f"m{i}" for i in range(num_perm)) + ")")
    return mins, arr


def oph_signatures(
    sets: DataFrame, id_col: str = "doc_id", num_perm: int = 128
) -> DataFrame:
    """One-permutation MinHash (Li/Owen/Zhang, NIPS 2012) from an
    (id, sh array<long>) relation of 64-bit shingle hashes.

    The k-permutation scheme costs |shingles|×k multiply-mod-min ops
    per doc (the arithmetic floor no matter how well it's compiled).
    OPH instead splits ONE hash's range into k bins — pmod(h, k) —
    and takes the min per bin: |shingles| ops total, a k× cut. Empty
    bins (P ≈ (1-1/k)^|sh|, ~1e-7 for 2000-shingle docs at k=128)
    are filled by rotation densification (borrow the next non-empty
    bin's min, up to 3 hops, then a sentinel) so signatures stay
    deterministic and comparable across engines.

    Collision behavior matches classic MinHash closely enough for
    banding: P(sig_a[i] == sig_b[i]) ≈ J(a,b) per non-empty bin, and
    downstream verification is exact anyway.

    When to use: corpora where per-shingle arithmetic dominates
    (long documents, many executors). Costs two extra shuffle
    stages (bin-agg + entry collect) vs the k-permutation
    aggregate, so on small/latency-bound runs the codegen'd
    _signatures_from_hashes path is faster; at 100 TB the
    |shingles|×k → |shingles| arithmetic cut is the win.
    """
    ex = sets.select(F.col(id_col), F.explode("sh").alias("h"))
    bins = (
        ex.groupBy(id_col, F.pmod("h", F.lit(num_perm)).alias("bin"))
        .agg(F.min("h").alias("m"))
    )
    ent = bins.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("bin", "m"))).alias("ent")
    )
    k = num_perm
    # Fast path: no empty bin (P(empty) ≈ (1-1/k)^|sh|, vanishing for
    # long documents) → entries sorted by bin are positional, O(1)
    # lookups. Short docs fall back to cyclic rotation densification
    # (borrow the NEXT non-empty bin's min, wrapping) — never a
    # shared sentinel, which would make unrelated short docs collide
    # in whole bands. Deterministic either way.
    sig = F.expr(
        f"IF(size(ent) = {k}, transform(sequence(0, {k - 1}), b -> ent[b].m), "
        f"transform(sequence(0, {k - 1}), b -> coalesce("
        f"mf[b], get(filter(ent, e -> e.bin > b), 0).m, ent[0].m)))"
    )
    return ent.withColumn("mf", F.map_from_entries("ent")).select(
        F.col(id_col), sig.alias("signature")
    )


def bucket_stats(
    rel: DataFrame, key_cols: list, id_col: str
) -> DataFrame:
    """One-row diagnostic over a bucketed candidate relation (banded
    signatures, fingerprint chunks): bucket-count/max/p99 and
    `pair_mass` = Σ C(b,2) — the exact number of join rows the
    bucket self-join will enumerate (before distinct) — and `n_ids`
    = distinct participating `id_col` values, the denominator for a
    pairs-per-doc forecast. The cheap "do I need bucket_star_cap?"
    probe: pair_mass orders of magnitude above n_ids means
    sub-threshold families are about to go quadratic
    (BENCH_DEDUP_SKEW's template shape). Run it on a sample or
    during capacity planning — or skip the manual probe entirely
    with bucket_star_cap="auto", which applies the same forecast
    inside the guarded join's own job graph (_auto_cap_frame)."""
    per = rel.groupBy(*key_cols).agg(F.count("*").alias("b"))
    n_ids = rel.agg(
        F.countDistinct(id_col).cast("bigint").alias("n_ids")
    )
    return per.agg(
        F.count("*").alias("n_buckets"),
        F.max("b").alias("max_bucket"),
        F.expr("percentile_approx(b, 0.99)").alias("p99_bucket"),
        F.sum(F.col("b") * (F.col("b") - 1) / 2)
        .cast("bigint")
        .alias("pair_mass"),
    ).crossJoin(F.broadcast(n_ids))


# bucket_star_cap="auto" policy knobs. The forecast is the same
# quantity bucket_stats reports: pair_mass = Σ C(b,2) = the exact
# pre-distinct row count of the bucket self-join. A healthy bucketed
# corpus keeps pair_mass within a small constant of the keyed-row
# count (BENCH_DEDUP_SKEW: candidates/doc constant at 8x/32x/128x
# widening); a template corpus blows orders of magnitude past it.
# Allowed join rows per keyed row before capping. Healthy bucketed
# corpora measure ~0.1-1 (BENCH_FUNNEL_STREAM's maintained index:
# 0.12; the funnel fixture: <1), so 2 keeps them no-op with margin.
# The r11 decade run showed why 8 was too loose: a corpus at 6 pairs
# per keyed row (190 candidates/doc, linear but pathologically dense)
# passed the old budget and pushed ~820M pre-distinct rows through
# the candidate join at 5.8M docs — the exact mass the star collapse
# exists to absorb, at zero cost to group consumers.
_AUTO_PAIR_BUDGET = 2
_AUTO_MIN_CAP = 16  # engaged cap is never below this (p99 is usually 1-2)
# bands 0..3 of the banding feed the "auto" forecast (see
# minhash_lsh_candidates): an 8×-cheaper unbiased per-band sample of
# the pair-mass ratio, deterministic for a fixed corpus.
_PROBE_BANDS = 4


def _auto_cap_frame(
    stats: DataFrame, pair_budget: int = _AUTO_PAIR_BUDGET
) -> DataFrame:
    """One-row frame {_cap: long} deriving bucket_star_cap="auto" from
    the per-bucket stats relation ({_bc} per bucket) IN the job graph
    — no driver collect, no separate probe pass. Since round 12 this
    in-graph form is consumed only by cap_bucket_side (the STREAMING
    guard, where the cap must live inside the micro-batch's own plan);
    the batch path (minhash_lsh_candidates) resolves "auto" with a
    1-row driver probe instead — the broadcast consumption pattern
    here was a stage barrier that cost +42% on the staged funnel even
    in the no-op regime (BENCH_FUNNEL_CODEAB.json).

    Policy: forecast the bucket self-join's pre-distinct row count
    (pair_mass = Σ C(b,2)). If it is within _AUTO_PAIR_BUDGET× the
    keyed-row count the join is corpus-linear already — the cap is
    set to max(b), a proven NO-OP (every bucket passes the <= filter;
    output row-identical to cap=None). Otherwise cap at
    max(_AUTO_MIN_CAP, p99 bucket size): the p99 keeps genuinely
    small buckets exact while the handful of quadratic families
    (sub-threshold template collisions — 99.7% of the pathological
    mass in BENCH_DEDUP_SKEW.json) collapse to anchor stars.

    Consumed as a broadcast crossJoin onto the tagged relation: one
    extra aggregation that rides the SAME (key → count) shuffle the
    guard already does, then a scalar available map-side.

    OUTPUT-CHANGE NOTE (r11 → r12): the default budget tightened
    8 → 2 (_AUTO_PAIR_BUDGET), so corpora whose pair mass is 2-8×
    their keyed-row count now get star-collapsed where earlier
    releases enumerated all pairs. Group/CC consumers are unaffected
    (the documented anchor-connectivity recall contract), but
    pair_mode='clique' consumers lose member-member edges inside
    oversized buckets in that regime. The threshold IS caller-tunable
    (ADVICE r12): pass ``auto_pair_budget=8`` to any public entry —
    minhash_lsh_candidates, minhash_near_dup_pairs, cap_bucket_side,
    run_curation_funnel — to restore the old threshold where clique
    pair sets must stay stable.

    Estimator note: this in-graph form decides the regime from the
    FULL bucket stats of the relation it guards; the batch path's
    driver probe decides from a _PROBE_BANDS-band subset estimate
    (see minhash_lsh_candidates). Near the budget boundary or on
    small corpora the two can pick different regimes for the same
    corpus; once ENGAGED, both derive the cap from a full-stats p99
    (batch re-aggregates the cached full banding), so the engaged
    threshold agrees."""
    return (
        stats.agg(
            F.sum("_bc").alias("_total"),
            F.sum(F.col("_bc") * (F.col("_bc") - 1) / 2).alias("_pm"),
            F.expr("percentile_approx(_bc, 0.99)").alias("_p99"),
            F.max("_bc").alias("_max"),
        )
        .select(
            F.coalesce(
                F.when(
                    F.col("_pm") <= F.lit(pair_budget) * F.col("_total"),
                    F.col("_max"),
                ).otherwise(
                    F.greatest(F.lit(_AUTO_MIN_CAP), F.col("_p99"))
                ),
                # empty relation: any value works, nothing to cap
                F.lit(_AUTO_MIN_CAP),
            )
            .cast("long")
            .alias("_cap")
        )
    )


def _validate_cap(cap) -> bool:
    """Shared bucket_star_cap validation; returns True for "auto"."""
    if cap == "auto":
        return True
    if not isinstance(cap, int) or cap < 2:
        raise ValueError(
            f'bucket_star_cap must be >= 2, "auto", or None; got {cap!r}'
        )
    return False


def cap_bucket_side(
    rel: DataFrame,
    key_cols: list,
    id_col: str,
    cap: int | str | None,
    auto_pair_budget: int = _AUTO_PAIR_BUDGET,
) -> DataFrame:
    """Collapse oversized buckets of a candidate-join SIDE to their
    min-id anchor row (all other columns ride along) — the streaming
    form of the bucket_star_cap guard. A probe joined against the
    capped side meets at most ONE row per oversized bucket, so a
    dense family of K near-identical fingerprints in maintained
    state costs each probe 1 candidate instead of K. Buckets at or
    under the cap are passed through untouched; cap=None is the
    identity. Connectivity argument for grouping consumers: every
    family member was a probe once and joined the then-anchor (a
    family member), so the family stays connected through anchor
    edges whenever members verify against anchors — the same
    contract as minhash_lsh_candidates' bucket_star_cap.

    cap="auto" derives the threshold from the relation's own bucket
    distribution in the same job graph (_auto_cap_frame): a proven
    no-op while forecast pair mass stays corpus-linear, max(16, p99)
    once it doesn't. ``auto_pair_budget`` tunes that regime boundary
    (see _auto_cap_frame's OUTPUT-CHANGE NOTE); ignored unless
    cap == "auto"."""
    if cap is None:
        return rel
    auto = _validate_cap(cap)
    # NOTE (r14, tested and rejected): an explicit
    # repartition(*key_cols) here — so the stats aggregate, the
    # tagged join side, and the auto cap-frame would share ONE
    # exchange instead of re-deriving ``rel``'s lineage per subtree —
    # measured a WASH on the 2.08M-doc near-dup history probe
    # (before walls 11.5-11.9 s/epoch, after 11.7-12.6; nd_cand
    # stage 5.5 vs 6.0 s): at runtime the duplicate subtrees overlap
    # on idle cores, and the added exchange pays back exactly what
    # the dedupe saves (BENCH_ND_CAP_AB.json).
    stats = rel.groupBy(*key_cols).agg(
        F.count("*").alias("_bc"), F.min(id_col).alias("_anchor")
    )
    tagged = rel.join(stats, list(key_cols))
    if auto:
        tagged = tagged.crossJoin(
            F.broadcast(_auto_cap_frame(stats, pair_budget=auto_pair_budget))
        )
        cap_col = F.col("_cap")
    else:
        cap_col = F.lit(cap)
    return (
        tagged.filter(
            (F.col("_bc") <= cap_col)
            | (F.col(id_col) == F.col("_anchor"))
        )
        # the stats join moves key_cols to the front — restore the
        # caller's column order (and drop the guard's work columns)
        .select(*rel.columns)
    )


def _band_keys(sig: DataFrame, id_col: str, n_bands: int, rows: int) -> DataFrame:
    """(id, band, bucket) LSH keys: band i's bucket is xxhash64 over
    signature slots [i·rows, (i+1)·rows) — pure codegen element_at
    lookups. The one band layout of the batch banding, its "auto"
    probe and the near-dup stream's maintained index."""
    band_sql = "array(" + ",".join(
        f"struct({i} AS band, xxhash64("
        + ",".join(
            f"element_at(signature, {i * rows + j + 1})" for j in range(rows)
        )
        + ") AS bucket)"
        for i in range(n_bands)
    ) + ")"
    return sig.select(
        id_col, F.explode(F.expr(band_sql)).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    sig: DataFrame,
    id_col: str = "doc_id",
    bands: int = 32,
    rows: int = 4,
    bucket_star_cap: int | str | None = None,
    scratch_checkpoints: bool = False,
    auto_pair_budget: int = _AUTO_PAIR_BUDGET,
) -> DataFrame:
    """Candidate pairs whose signatures collide in ≥1 LSH band.

    ``scratch_checkpoints`` (default off): materialize the candidate
    relation eagerly (localCheckpoint) INSIDE this function and
    release the banded cache + trigger a driver GC before returning,
    so the band self-join / cap-stats exchanges are collectable the
    moment candidates exist. NOTE: this bounds PEAK scratch only
    when candidate mass is itself bounded — pair it with a
    ``bucket_star_cap`` on skew-prone corpora (the funnel always
    does). With cap=None on a template-skewed corpus the candidate
    set is quadratic, and the eager checkpoint MATERIALIZES that
    mass to block storage: disk replaces shuffle scratch instead of
    bounding the high-water mark. The banded relation stays a persist
    either way — the (band, bucket) exchange reuse between the stats
    aggregate and the self-join is worth 3× the stage's shuffle
    volume (measured at 576k docs). See minhash_near_dup_pairs'
    scratch contract.

    Each doc emits `bands` (band_id, band_hash) keys; a shuffle on
    that composite key groups colliding docs. Self-join happens per
    bucket only — never across the corpus.

    ``bucket_star_cap`` is the oversized-bucket guard (default None
    = off, the historical all-pairs behavior). The LSH s-curve makes
    SUB-threshold families collide: a corpus where many documents
    share a long boilerplate template (pairwise jaccard ~0.5, below
    any dedup threshold) still band-collides with probability
    1-(1-j^rows)^bands ≈ 0.9 — the bucket self-join then enumerates
    ~the full C(K,2) of every template family and the verify stage
    rejects all of it (measured: 99.7% of the quadratic pair mass on
    a 50%-template corpus, BENCH_DEDUP_SKEW.json). With a cap,
    buckets larger than the cap contribute ANCHOR-STAR candidates
    (min-id doc vs each member, K-1 pairs) instead of all pairs —
    candidate mass becomes corpus-linear.

    ``bucket_star_cap="auto"`` derives the cap from the bucket-size
    distribution with ONE distributed aggregation over the banded
    relation and a 1-row driver fetch, then builds the plan for the
    chosen regime: forecast pair mass corpus-linear → the cap=None
    plan (a proven no-op, output row-identical to an uncapped run);
    otherwise the fixed-cap plan with cap = max(16, p99) as a
    literal. Use "auto" wherever nobody will run the bucket_stats
    probe first. Note "auto" makes this call EAGER: the probe
    PERSISTS the signature relation (unless the caller already did)
    and materializes it while aggregating a _PROBE_BANDS-band
    banding built directly from it, so an unpersisted ``sig`` has
    its DAG executed exactly once — by the probe — not once per
    consumer. The main plan (either regime) recomputes the full
    banding from the sig cache: one codegen xxhash64/explode pass
    whose self-join sides collapse to a ReusedExchange. (r14: the
    probe previously persisted the full BANDED relation instead —
    caching sig is bands× fewer cached rows and drops the banding
    cache round-trip from the blocking probe job; the banding layer
    the main plan re-derives is the cheap part. The persist is held
    past return and LRU-evicted — the same accepted storage trade
    as the engaged path's cache.)
    The r11 in-graph variant (broadcast _auto_cap_frame) kept the
    call lazy but cost +42% end-to-end on the staged funnel at sf0.1
    even in the no-op regime — the broadcast subquery is a stage
    barrier and the capped plan shape (stats join + branch union)
    ran regardless (BENCH_FUNNEL_CODEAB.json).

    ``auto_pair_budget`` (default _AUTO_PAIR_BUDGET = 2) is the
    "auto" regime threshold: forecast pair mass ≤ budget × keyed
    rows → no-op. Pass 8 to restore the pre-r12 threshold where
    pair_mode='clique' consumers need their r11 pair sets stable
    (see _auto_cap_frame's OUTPUT-CHANGE NOTE). Ignored unless
    bucket_star_cap == "auto".

    Estimator note (round-13, vs the streaming guard): the REGIME
    decision here uses the _PROBE_BANDS-band subset estimate of the
    pair-mass ratio (unbiased, concentrates in the regime that
    matters — see the inline note below), while cap_bucket_side's
    in-graph "auto" decides from the FULL bucket stats of its own
    relation. Near the budget boundary, or on very small corpora,
    the two can therefore pick different regimes for the same data.
    Once the probe decides ENGAGED, the cap VALUE is no longer the
    subset's: a second aggregation over the now-cached FULL banding
    computes the exact p99 the streaming guard would use, so an
    engaged batch run and an engaged streaming run cap at the same
    threshold.

    Recall contract under a cap (every emitted pair is still exactly
    verified downstream — false positives never change): a true
    near-dup pair inside an oversized bucket is recalled iff either
    endpoint is the bucket's anchor, OR the pair co-occupies a small
    bucket in another band, OR the caller's exact floor covers it.
    Duplicate FAMILIES — the genuine-near-dup shape that produces
    oversized buckets — stay connected through the anchor whenever
    members verify against the family's min-id doc, so connected-
    component consumers (dedup_groups-style) get identical groups;
    individual member-member edges inside oversized buckets are not
    emitted. Template families fail the anchor verifies and cost
    K-1 rejected rows instead of C(K,2).
    """
    banded = _band_keys(sig, id_col, bands, rows)

    def _finish(cand: DataFrame, cached: DataFrame | None) -> DataFrame:
        # scratch barrier (see docstring): candidates are 16 B/pair —
        # materialize them now, drop the banded/probe caches, and let
        # a driver GC hand the band-join/cap-stats exchanges to
        # ContextCleaner before the caller's verify phase runs
        if not scratch_checkpoints:
            return cand
        cand = cand.localCheckpoint(eager=True)
        if cached is not None:
            cached.unpersist()
        if sig_cached is not None:
            sig_cached.unpersist()
        _driver_gc(sig.sparkSession)
        return cand

    banded_cached = None
    sig_cached = None
    if bucket_star_cap is not None and _validate_cap(bucket_star_cap):
        # "auto": resolve the forecast to a CONCRETE regime here, with
        # one distributed aggregation and a 1-ROW driver fetch, then
        # build the plan for that regime. The r11 in-graph variant
        # (broadcast _auto_cap_frame crossJoined onto the tagged
        # relation) kept the decision inside one lazy plan, but the
        # broadcast subquery was a stage barrier AND the no-op regime
        # still paid the full capped plan shape (stats join + branch
        # union + distinct) — measured +42% on the staged funnel at
        # sf0.1 (BENCH_FUNNEL_CODEAB.json) for a cap that changed
        # nothing. A 1-row first() is NOT the manual capacity probe
        # the auto mode exists to avoid: it runs inside this
        # operator, the aggregation is fully distributed (the same
        # (band, bucket) shuffle the engaged guard needs), and only
        # one scalar row ever reaches the driver — valid at any
        # corpus size. Cost of the probe: this call triggers jobs
        # EAGERLY; the no-op regime's plan is then bit-identical to
        # cap=None, and the engaged regime gets a literal cap with
        # no broadcast barrier at all.
        #
        # The probe aggregates a fixed _PROBE_BANDS-band SUBSET of
        # the banding (bands 0..3 of the same band/row layout), not
        # all `bands`: bands are iid xxhash64 digests of disjoint
        # signature slices, so per-band pair mass / per-band keyed
        # rows is the same ratio the full-banding test compares
        # (E[pm_band] = pm_total/bands, rows_band = rows_total/bands)
        # and the subset estimate concentrates exactly in the regime
        # that matters — a large quadratic family contributes K²-ish
        # pairs to EVERY band's expectation. The subset is
        # deterministic for a fixed corpus (hash-derived, no RNG):
        # same corpus → same forecast → same plan, every run. The
        # probe's aggregation SHUFFLE is bands/_PROBE_BANDS (8× at
        # the default 32) cheaper than aggregating the full banded
        # relation, which at funnel scale sf0.1 was the difference
        # between +15% and noise on the staged-funnel wall
        # (BENCH_FUNNEL_CODEAB.json twins). Since round 13 the probe
        # RIDES the banded persist: materializing the cache computes
        # the full banding once (instead of a 4-band probe pass PLUS
        # a fresh full banding in the main plan) and executes an
        # unpersisted sig's DAG exactly once.
        n_probe = min(_PROBE_BANDS, bands)
        # r14 probe shave: the probe rides a persist of the SIGNATURE
        # relation, not the full banded relation. The expensive part
        # of the probe job is materializing the sig DAG (shingles +
        # num_perm-min agg) — that is cached either way — but caching
        # sig instead of banding (1 row/doc of num_perm longs vs
        # bands rows/doc) drops the bands× row-count cache round-trip
        # from the probe job, and the probe's banding layer is built
        # for the n_probe bands only (1/8 of the explode at the
        # defaults). The main plan recomputes the full banding from
        # the sig cache — one cheap codegen xxhash64/explode pass
        # whose self-join sides collapse to a ReusedExchange — so an
        # unpersisted ``sig`` still has its DAG executed exactly
        # once, by the probe (the r13 guarantee, one cache level
        # lower). Probe statistic unchanged: bands 0..n_probe-1 of
        # the identical band/row layout.
        if not (sig.storageLevel.useMemory or sig.storageLevel.useDisk):
            sig = sig_cached = sig.persist()
        row = (
            _band_keys(sig, id_col, n_probe, rows)
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("_bc"))
            .agg(
                F.sum("_bc").alias("_total"),
                F.sum(F.col("_bc") * (F.col("_bc") - 1) / 2).alias("_pm"),
            )
            .first()
        )
        if (
            row["_pm"] is None
            or row["_pm"] <= auto_pair_budget * (row["_total"] or 0)
        ):
            bucket_star_cap = None  # forecast corpus-linear: no-op
        else:
            # engaged: take the cap's p99 from the FULL banding (one
            # extra aggregation — engaged runs pay the capped plan
            # anyway) so the threshold matches the streaming guard's
            # full-stats p99 exactly instead of the 4-band subset's
            # estimate (ADVICE r12). The banding persist happens HERE
            # (from the sig cache) so the p99 job fills the cache the
            # engaged stats/join plan below reads.
            banded = banded_cached = banded.persist()
            p99 = (
                banded.groupBy("band", "bucket")
                .agg(F.count("*").alias("_bc"))
                .agg(F.expr("percentile_approx(_bc, 0.99)").alias("_p99"))
                .first()["_p99"]
            )
            bucket_star_cap = max(_AUTO_MIN_CAP, int(p99))

    if bucket_star_cap is None:
        if scratch_checkpoints and banded_cached is None:
            banded = banded_cached = banded.persist()
        a = banded.alias("a")
        b = banded.alias("b")
        return _finish(
            a.join(b, on=["band", "bucket"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct(),
            banded_cached,
        )
    # engaged (or caller-fixed) cap: bucket stats share the (band,
    # bucket) shuffle key with the join below, so the exchange is
    # reused, not duplicated. persist() lives until the caller's
    # plan is materialized and is then LRU-evicted (or dropped by a
    # catalog clearCache) — same accepted storage trade as the
    # signature cache note above. bucket_star_cap is a concrete int
    # here ("auto" was resolved to one above), so the cap is a plan
    # LITERAL — no broadcast-scalar barrier.
    if banded_cached is None:
        banded = banded_cached = banded.persist()
    stats = banded.groupBy("band", "bucket").agg(
        F.count("*").alias("_bc"), F.min(id_col).alias("_anchor")
    )
    tagged = banded.join(stats, ["band", "bucket"])
    cap_col = F.lit(bucket_star_cap)
    small = tagged.filter(F.col("_bc") <= cap_col)
    a = small.alias("a")
    b = small.alias("b")
    small_pairs = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    star_pairs = (
        tagged.filter(
            (F.col("_bc") > cap_col)
            & (F.col(id_col) != F.col("_anchor"))
        )
        .select(
            F.col("_anchor").alias("id_a"), F.col(id_col).alias("id_b")
        )
    )
    return _finish(
        small_pairs.unionByName(star_pairs).distinct(), banded
    )


def _low_df_pairs(
    sets: DataFrame, id_col: str, max_df: int, scratch: bool = False
) -> DataFrame:
    """The MinHash low-df exact floor, shared by the batch operator and
    the streaming funnel's fold: distinct (id_a < id_b) pairs sharing
    ≥1 shingle hash with df in [2, max_df]. Count-first — a hot
    shingle is dropped on counts alone, never building a doc-list —
    then an AQE-broadcastable join back and a bounded C(df,2)
    map-side expansion.

    ``scratch`` (minhash_near_dup_pairs' scratch_checkpoints): the df
    count and the doc-list join each exchange the exploded postings;
    checkpointing the small low-df hash set between them (plus a
    driver GC) frees the count's exchange before the join runs."""
    ex = sets.select(F.col(id_col), F.explode("sh").alias("h64"))
    dup_hashes = (
        ex.groupBy("h64")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("h64")
    )
    if scratch:
        dup_hashes = dup_hashes.localCheckpoint(eager=True)
        _driver_gc(sets.sparkSession)
    grouped = ex.join(dup_hashes, "h64").groupBy("h64").agg(
        F.collect_list(F.col(id_col)).alias("ds")
    )
    return (
        grouped.select(F.explode(_doclist_pair_structs(F.col("ds"))).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _jaccard_verify(
    cand: DataFrame, sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of the MinHash family: (id_a, id_b, jaccard
    = shared / (|a| + |b| − shared)) over the full (id, sh) hash sets,
    kept where ≥ ``threshold``. O(candidates): each pair side joins
    ``sets`` once (callers reduce ``sets`` to candidate ids first)."""
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    denom = F.size("sh_a") + F.size("sh_b") - shared
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", shared.cast("double") / denom.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.7,
    exact_floor_max_df: int | None = None,
    collapse_exact: bool = True,
    pair_mode: str = "clique",
    bucket_star_cap: int | str | None = None,
    scratch_checkpoints: bool = False,
    auto_pair_budget: int = _AUTO_PAIR_BUDGET,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.

    ``auto_pair_budget`` passes through to minhash_lsh_candidates'
    "auto" regime decision (see _auto_cap_frame's OUTPUT-CHANGE
    NOTE); ignored unless bucket_star_cap == "auto".

    ``scratch_checkpoints`` (default off — plans and results are
    identical either way): bound peak shuffle-scratch disk by
    breaking the one signatures→bands→candidates→verify job into
    sub-jobs at the candidate boundary. The combined candidate
    relation (LSH ∪ exact floor — tiny: 16 bytes/pair) is local-
    checkpointed, the signature cache is dropped, and a driver GC is
    triggered, so every exchange upstream of candidates (signature
    agg, band self-join, cap stats joins, floor df explode) is
    RELEASED before the verify join starts. Without this the whole
    chain is one job and its live exchange set is the SUM of all
    phases — measured ~80 GB at 5.8M docs, where the phased peak is
    the max (~30 GB). On a cluster the same pinning eats per-executor
    scratch; the barrier trades one extra job + a small checkpoint
    write for a bounded high-water mark.

    ``bucket_star_cap`` (default None = off) passes through to
    minhash_lsh_candidates: oversized band buckets contribute
    anchor-star candidates instead of all pairs — the guard against
    SUB-threshold template families, which band-collide at ~0.9
    probability and otherwise push C(K,2) doomed candidates into the
    verify join (see minhash_lsh_candidates' recall contract and
    BENCH_DEDUP_SKEW.json for the measured kill). Exact-dup families
    are already collapsed by the gate before banding, so the cap
    only ever sees distinct-text buckets.

    `collapse_exact` (default ON) closes the classic banded-LSH skew
    hole: K exact-duplicate documents share an identical signature,
    so they land in the SAME bucket of every band and the bucket
    self-join does 32·K²/2 work before `distinct` — at real-corpus
    skew (boilerplate pages duplicated 10⁴-10⁶×) that single bucket
    dwarfs the rest of the corpus. The fix groups docs by raw-text
    key (xxhash64 of the text + its length, a map-side projection
    of the input scan — identical text ⟹ identical token sequence
    ⟹ identical shingle array, so the key is a refinement of
    set-equality: it collapses exactly the identical-text
    duplication mode the skew hole comes from, and a permuted or
    re-whitespaced doc with the same shingle set merely stays
    uncollapsed — still correct, just unoptimized), bands and
    VERIFIES one representative per group, expands the verified rep
    pairs back to member pairs (which inherit the rep pair's exact
    jaccard — identical sets), and emits intra-group pairs directly
    with jaccard 1.0 through a distributed blocked clique expansion
    (_intra_clique_pairs). The OUTPUT is provably identical: members
    have identical signatures (collide iff their reps collide, and
    always collide intra-group), the df floor still counts real
    documents and loses no cross-group coverage under rep mapping
    (identical sets ⟹ the floor catches all member pairs of a group
    pair or none), and intra jaccard is exactly shared/denom = 1.0.
    Only the quadratic bucket work and the per-member re-verifies
    disappear. A dup-MASS gate (_COLLAPSE_MIN_DUP duplicated docs,
    or 1 % of the corpus) decides from ONE map+tiny-agg job over the
    raw scan — it never touches the shingle frame, so the expensive
    set materialization stays inside the main pipeline where it
    overlaps with everything else (keying the gate on the shingle
    sets instead was measured at ~1 s extra per call at sf0.1: it
    serialized the whole shingle computation into a standalone
    blocking job). Below the gate the plan is identical to
    collapse_exact=False.

    `pair_mode` picks the output contract:

    - "clique" (default): the full pair RELATION — intra-group
      output is the C(K,2) clique; consumers that read per-pair
      evidence (triangle census, cross-source matrix) need this. At
      K=10⁶ boilerplate dups the clique is 5·10¹¹ rows — the output
      itself is quadratic, by contract.
    - "star": a connectivity-equivalent edge SET, linear in K —
      intra-group output is the K−1 rep→member edges and verified
      cross-group pairs stay at REP level (one edge per group pair).
      The transitive closure and the vertex set are provably
      identical to the clique's: every member reaches its rep
      (star), reps of verified group pairs reach each other (rep
      edge), so any clique edge (mᵃ, mᵇ) is the path mᵃ–repᵃ–repᵇ–mᵇ;
      conversely every star edge is in the clique (reps are
      members). Consumers that only need connected components or
      the duplicated-vertex set (dedup_groups, cluster-safe splits,
      keep-best, dup-rate audits) get identical results with
      output linear in K. jaccard on star rows is the rep-pair /
      intra-group value, NOT a per-member-pair claim. When the gate
      does not trip, star output IS the full relation.

    Candidate generation is sub-quadratic (LSH); verification joins
    candidates back to the shingle index, so false positives cost one
    bounded join, and the output is exact (no LSH false positives).
    With bands=32/rows=4, P(candidate | j=0.7) ≈ 0.9998 — recall loss
    only matters within ~0.01 of the threshold.

    `exact_floor_max_df` adds a deterministic candidate FLOOR for
    consumers whose oracle is the exact edge set (the cluster/split
    queries): every pair sharing ≥1 shingle with document frequency
    in [2, floor_df] is unioned into the LSH candidate set before
    the shared exact verify. The floor targets exactly the region
    where LSH is weakest and covers it with what LSH lacks:

    - a NEAR-THRESHOLD pair lives in a small near-dup cluster, so
      its shared content shingles have df ≈ cluster size ≤ floor_df
      → floored deterministically (band-collision probability for
      such a pair is the ~1.5e-4 LSH recall gap);
    - a pair inside a LARGE duplicate cluster shares only hot
      shingles (df = cluster size > floor_df) → not floored, but its
      jaccard is near 1, where band collision is essentially certain
      (P(miss | j=0.9) < 1e-14 with 32×4 bands).

    A miss therefore needs both failure modes at once. The floor is
    cheap by construction: df counts are a hash-agg on the existing
    hash-set frame (a hot shingle is dropped on counts alone, never
    building a doc-list), and with df ≤ floor_df ≈ 5 the map-side
    pair expansion is a few thousand structs, so the extra exact
    verifies are noise. Keep the cap small — the capped-exact path
    (ngram_jaccard_pairs(max_df=...)) is the right tool when you
    want full coverage of mid-frequency shingles.
    """
    if pair_mode not in ("clique", "star"):
        raise ValueError(f"pair_mode must be 'clique' or 'star', got {pair_mode!r}")
    rows = num_perm // bands
    # Small-file inputs arrive as one partition; shingling is
    # CPU-bound per row (higher-order exprs are interpreted, not
    # codegen'd), so spread the corpus across the cluster first —
    # but ONLY when it arrives under-parallel (_spread): a wide scan
    # repartitioned here would shuffle the whole corpus text.
    docs = _spread(docs, id_col)
    # Shingle sets are represented as 64-bit hashes computed straight
    # from token n-tuples with multi-arg xxhash64 — the shingle STRING
    # is never materialized (no slice/array_join/string-distinct, the
    # dominant interpreted cost). |distinct hashes| == |distinct
    # shingles| and hash-array intersection == string intersection up
    # to a ~2^-64 per-pair collision — deterministic, and pinned by
    # the oracle hash-check at two scale factors. Computed once,
    # persisted, reused by the signature stage and both verify sides
    # (token array materialized per row — see _hash_shingle_frame).
    sets = _hash_shingle_frame(docs, text_col, id_col, n).persist()
    # Exact-dup collapse (see docstring): group key = hash of the
    # raw text + its length, a map-side projection of the input scan
    # (ids and 16-byte keys ride the exchanges — never text, never
    # the hash arrays; the gate job reads the text column once and
    # aggregates ~16 bytes/doc, it never forces the shingle frame).
    # The gate is dup MASS, not dup existence: below ~1k duplicated
    # docs the bucket self-join's 32·Σg² is bounded and the
    # collapse's extra stages cost more than they save (measured at
    # sf0.1), so light-dup corpora keep the plain plan; a skewed
    # corpus (boilerplate duplicated 10⁴+×) trips the gate and the
    # quadratic bucket work disappears.
    members = None
    sig_sets = sets
    if collapse_exact:
        # gate statistic in ONE exact aggregate (r14, see
        # _dup_mass_stats): same (nd, ng) the old groupBy chain
        # produced, so the regime decision is bit-identical — the
        # dup-light regime just stops paying the keyed exchange and
        # the groups-frame persist it always threw away.
        nd, ng = _dup_mass_stats(
            docs, F.xxhash64(F.col(text_col)), F.length(F.col(text_col))
        )
        if nd - ng >= max(_COLLAPSE_MIN_DUP, 0.01 * nd):
            # key on the raw TEXT: identical text ⟹ identical shingle
            # array, which is the duplication mode the collapse
            # targets (a permuted-token doc with the same set merely
            # stays uncollapsed — still correct, just unoptimized)
            # dup-heavy regime: persist the keyed projection so the
            # groups aggregate and the members join share ONE scan of
            # docs instead of re-deriving it per consumer (r15,
            # closing the r14 ADVICE double-scan). The gate aggregate
            # above stays a separate pre-pass by construction — it
            # runs before the regime is known; persisting docs
            # unconditionally would tax every dup-light call (the
            # common regime) for the rare corpus that trips.
            keyed = docs.select(
                F.col(id_col),
                F.xxhash64(F.col(text_col)).alias("_k"),
                F.length(F.col(text_col)).alias("_sz"),
            ).persist()
            groups = (
                keyed.groupBy("_k", "_sz")
                .agg(
                    F.min(id_col).alias("_rep"),
                    F.count("*").alias("_gc"),
                )
                .persist()
            )
            members = (
                keyed.join(groups, ["_k", "_sz"])
                .select(F.col(id_col), "_rep", "_gc")
                .persist()
            )
            rep_ids = groups.select(F.col("_rep").alias(id_col))
            sig_sets = sets.join(rep_ids, id_col, "left_semi")
    # Materialize signatures once: the band explode references the
    # signature array 32× and the banded relation self-joins; persist
    # = compute once, reuse on both join sides. (oph_signatures is
    # the alternative when per-shingle arithmetic dominates — at
    # sf0.1 its two extra shuffle stages cost more than the 128×
    # arithmetic cut saves, so the codegen'd k-permutation agg wins
    # here; measured 1.4s vs 2.1s end-to-end.)
    sig = _signatures_from_hashes(sig_sets, id_col, num_perm).persist()
    cand = minhash_lsh_candidates(
        sig, id_col, bands, rows, bucket_star_cap=bucket_star_cap,
        scratch_checkpoints=scratch_checkpoints,
        auto_pair_budget=auto_pair_budget,
    )
    if scratch_checkpoints:
        # candidates are materialized (lsh_candidates' scratch
        # barrier) — the signature cache has no further consumer
        sig.unpersist()
    if exact_floor_max_df is not None:
        # deterministic floor from the persisted hash-set frame (full
        # 64-bit hashes — the signature stage's 31-bit fold would
        # alias distinct shingles at corpus scale and misclassify
        # rare ones as hot)
        floor_cand = _low_df_pairs(
            sets, id_col, exact_floor_max_df, scratch=scratch_checkpoints
        )
        if members is not None:
            # map the (member-level) floor pairs to rep pairs; the
            # same-group pairs drop here and come back exactly once
            # through the intra clique below. Coverage is preserved:
            # identical sets contain identical shingles, so if the
            # floor caught ONE cross-group member pair via a low-df
            # shingle it caught them ALL — rep-level collapse loses
            # nothing (df itself is still counted over real docs).
            floor_cand = (
                floor_cand.join(
                    members.select(
                        F.col(id_col).alias("id_a"),
                        F.col("_rep").alias("_ra"),
                    ),
                    "id_a",
                )
                .join(
                    members.select(
                        F.col(id_col).alias("id_b"),
                        F.col("_rep").alias("_rb"),
                    ),
                    "id_b",
                )
                .filter(F.col("_ra") != F.col("_rb"))
                .select(
                    F.least("_ra", "_rb").alias("id_a"),
                    F.greatest("_ra", "_rb").alias("id_b"),
                )
                .distinct()
            )
        cand = cand.select("id_a", "id_b").unionByName(floor_cand).distinct()
    if scratch_checkpoints:
        # the scratch barrier (see docstring): the combined candidate
        # relation is tiny — checkpoint it and let the driver GC hand
        # the floor's join/agg exchanges to ContextCleaner before the
        # verify join runs (the LSH phase's exchanges were already
        # released inside minhash_lsh_candidates)
        cand = cand.localCheckpoint(eager=True)
        _driver_gc(docs.sparkSession)
    # Verify ONLY the candidate pairs (_jaccard_verify). In collapsed
    # mode candidates are REP pairs, so the expensive verify runs
    # once per group pair, not once per member pair.
    #
    # Semi-reduce the shingle relation to PARTICIPATING docs first —
    # in scratch_checkpoints mode only (round-11 VERDICT item 5).
    # While the candidate relation fits the broadcast threshold the
    # verify joins are broadcast-hash and the set relation is never
    # shuffled — but past it (measured at the 5.76M-doc funnel
    # decade: ~4.1M pairs ≈ 66 MB vs the 64 MB threshold) AQE flips
    # to shuffle joins and the FULL set relation (docs × shingle
    # arrays — 56 GB of input at that point) is exchanged twice,
    # once per pair side. Candidate ids are a tiny fraction of the
    # corpus in the dup-light regime every large corpus lives in, so
    # a left-semi on the exploded pair ids cuts the exchanged
    # payload to the participating slice; the id frame is half the
    # WIDTH of the pair frame (one long vs two), so AQE keeps
    # broadcasting it well past the pair flip.
    #
    # Gated on scratch_checkpoints because the id frame re-reads the
    # candidate relation: in scratch mode candidates are a
    # materialized localCheckpoint (the re-read is a block fetch),
    # while in the default lazy mode it would RE-EXECUTE the whole
    # band/floor candidate DAG a second time — measured +40..70% on
    # the sf0.1 dedup-tier entries (BENCH_DEDUP_CODEAB.json head
    # mode, first attempt). scratch_checkpoints IS the at-scale
    # configuration (the funnel's release_stage_frames threads it),
    # so the regime that meets the broadcast→exchange flip is
    # exactly the regime with the reduction.
    if scratch_checkpoints:
        pids = cand.select(
            F.explode(F.array("id_a", "id_b")).alias(id_col)
        ).distinct()
        vsets = sets.join(pids, id_col, "left_semi")
    else:
        vsets = sets
    verified = _jaccard_verify(cand, vsets, id_col, threshold)
    if members is None:
        return verified
    if pair_mode == "star":
        # Connectivity-equivalent linear output (see docstring):
        # verified pairs are already at REP level — keep them as the
        # one edge per group pair — and each group contributes its
        # K−1 rep→member star edges (rep = min id of the group, so
        # id_a < id_b holds with no normalization). Output is
        # |verified group pairs| + Σ(K−1): linear in dup mass where
        # the clique is quadratic.
        intra = (
            members.filter(
                (F.col("_gc") >= 2) & (F.col(id_col) != F.col("_rep"))
            )
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return verified.unionByName(intra)
    # Expand verified rep pairs to member pairs AFTER the verify —
    # members share their rep's shingle set, so every member pair
    # inherits the rep pair's exact jaccard. Same-group pairs have
    # jaccard exactly 1.0 (shared = denom = |sh|) and are emitted by
    # the distributed clique expansion; both unions are disjoint
    # (expansion is cross-group only), so no distinct is needed.
    ma = members.select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("_ma")
    )
    mb = members.select(
        F.col("_rep").alias("id_b"), F.col(id_col).alias("_mb")
    )
    cross = (
        verified.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "jaccard",
        )
    )
    intra = _intra_clique_pairs(members, id_col).withColumn(
        "jaccard", F.lit(1.0)
    )
    return cross.unionByName(intra)


# ------------------------------------------------------------- SimHash


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash fingerprint per document (Charikar '02).

    For each of 64 bit positions, sum +1/-1 over token hashes and take
    the sign. Expressed as one aggregate over exploded tokens with an
    array of 64 signed contributions — map-side partial aggregation
    keeps the shuffle at one row per doc.
    """
    # tokenize+hash+ones-count partials are CPU-bound per row and run
    # in the SCAN stage; spread under-parallel inputs (wide inputs
    # pass through — see _spread)
    docs = _spread(docs, id_col)
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # aggregate ONES-counts per bit directly (s_i > 0 ⟺ 2·ones_i >
    # n_tokens) — the earlier form materialized a 64-element ±1 array
    # per TOKEN and summed its slots, paying a per-token allocation
    # plus 64 interpreted array reads; plain bit-op sums stay inside
    # codegen with no allocation
    summed = tok.groupBy(id_col).agg(
        F.count("*").alias("cnt"), *_ones_counts_xxhash()
    )
    return summed.select(id_col, _fingerprint_from_ones().alias("simhash64"))


@lru_cache(maxsize=1)
def _ones_counts_xxhash():
    """The 64 per-bit ones-count aggregates over the token-hash
    column ``h``. Memoized: each F.* call is a py4j round trip, and
    the whole simhash expression family costs ~1-5 s of pure
    construction per call unmemoized (r14 change 7; Columns are
    immutable unresolved fragments, safe to reuse across frames)."""
    return tuple(
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(
            f"o{i}"
        )
        for i in range(64)
    )


@lru_cache(maxsize=32)
def _fingerprint_from_ones(prefix: str = "o"):
    """64-bit fingerprint from per-bit ONES counts {prefix}0..{prefix}63
    plus the token count: the sign sum s_i = 2·o_i − cnt, so s_i > 0 ⟺
    2·o_i > cnt — identical fingerprints to the ±1 formulation. Bit
    63 can't be expressed as a positive literal (1<<63 overflows
    signed long); in two's complement, setting it means adding
    -(2^63). `prefix` selects the ones-count column family so wide
    (multi-word) fingerprints can reuse the builder per word."""
    bit = lambda i: (F.lit(2) * F.col(f"{prefix}{i}")) > F.col("cnt")  # noqa: E731
    return sum(
        [
            F.when(bit(i), F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(63)
        ],
        F.when(bit(63), F.lit(-(1 << 63)).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )


def simhash_portable(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash with a CONTENT-DEFINED bit source: md5's low 8 bytes
    little-endian (the md5_number_lower convention), parsed byte-wise
    from the hex digest. Fingerprints reproduce bit-for-bit on any
    engine — the property that lets two systems agree on near-dup
    verdicts without sharing code. Costs ~8 hex-parses per token vs
    xxhash64's single JVM hash: use `simhash()` on the hot path,
    this when fingerprints cross a system boundary."""
    # md5-per-token + hex parses are the wall here; spread
    # under-parallel inputs before the per-row work (see _spread)
    docs = _spread(docs, id_col)
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("hhex", F.md5("tok"))
    # parse the 8 low digest bytes as TWO 4-byte hex groups (the bit
    # expressions below would otherwise each re-run the conv; r9 cut
    # 8 per-byte convs to 2 group convs — the md5 hex parse dominated
    # simhash_dup_groups' wall). A group's conv value is big-endian
    # over its 4 bytes while the md5_number_lower bit convention is
    # little-endian per byte, so LE bit i of the word lives at group
    # i//32, shift (3 − (i//8)%4)·8 + i%8 — a fixed permutation;
    # fingerprints are bit-identical to the per-byte parse (pinned by
    # the simhash_fingerprints_portable oracle).
    tok = tok.select(
        id_col,
        *[
            F.conv(F.substring("hhex", 17 + 8 * g, 8), 16, 10)
            .cast("long")
            .alias(f"hg{g}")
            for g in range(2)
        ],
    )
    summed = tok.groupBy(id_col).agg(
        F.count("*").alias("cnt"), *_ones_counts_md5_groups()
    )
    return summed.select(id_col, _fingerprint_from_ones().alias("simhash64"))


@lru_cache(maxsize=1)
def _ones_counts_md5_groups():
    """The 64 per-bit ones-count aggregates over the two md5 hex
    group columns hg0/hg1 (LE-bit↔group-shift permutation, see
    simhash_portable). Memoized — see _ones_counts_xxhash."""
    return tuple(
        F.sum(
            F.shiftright(
                F.col(f"hg{i // 32}"),
                (3 - (i // 8) % 4) * 8 + i % 8,
            ).bitwiseAND(F.lit(1))
        ).alias(f"o{i}")
        for i in range(64)
    )


def simhash_wide(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_words: int = 4,
    portable: bool = True,
) -> DataFrame:
    """SimHash at ANY width: (id, fp0..fp{n_words−1}) — the radius
    dial simhash128's docstring only gestures at. Exact pigeonhole
    recall at hamming ≤ r needs n_chunks = r+1, and SELECTIVE keys
    need 64·n_words/n_chunks ≳ log2(n) bits — so hamming ≤ 3 at 10⁹
    docs takes 128 bits (simhash128), but the hamming ≤ 7 thresholds
    perceptual/fingerprint practice uses need 8 chunks, i.e. 256 bits
    (n_words=4) to keep 32-bit keys. fingerprint_hamming_pairs_wide
    consumes any width unchanged.

    portable=True: md5 digest k supplies words 2k (lower half, the
    md5_number_lower convention) and 2k+1 (upper); digest 0 is
    md5(tok) — so n_words=2 is BIT-IDENTICAL to simhash128 — and
    digest k ≥ 1 is md5('w{k}:' || tok), still one SQL built-in per
    digest for a DuckDB oracle. portable=False: xxhash64 with word
    index as seed column (word0 == simhash()'s fingerprint).

    Same shuffle shape at every width: ones-count partial
    aggregation, one row per doc, 64·n_words+1 agg columns."""
    if n_words < 1:
        raise ValueError(f"n_words must be >= 1, got {n_words}")
    # n_digests md5s per token + 64·n_words ones-count partials run
    # in the scan stage; spread under-parallel inputs (see _spread)
    docs = _spread(docs, id_col)
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    if portable:
        n_digests = (n_words + 1) // 2
        for k in range(n_digests):
            src = (
                F.md5("tok")
                if k == 0
                else F.md5(F.concat(F.lit(f"w{k}:"), F.col("tok")))
            )
            tok = tok.withColumn(f"hhex{k}", src)
        # word w = digest w//2, half w%2 (0 = lower = hex chars 17..,
        # 1 = upper = chars 1..), parsed as two 4-byte hex groups —
        # see simhash_portable for the LE-bit↔group-shift permutation
        tok = tok.select(id_col, *_wide_parse_cols(n_words))
    else:
        tok = tok.select(
            F.col(id_col),
            F.xxhash64("tok").alias("h0"),
            *[
                F.xxhash64("tok", F.lit(w)).alias(f"h{w}")
                for w in range(1, n_words)
            ],
        )
    summed = tok.groupBy(id_col).agg(
        F.count("*").alias("cnt"),
        *_wide_ones_counts(n_words, portable),
    )
    return summed.select(
        id_col,
        *[
            _fingerprint_from_ones(f"s{w}_").alias(f"fp{w}")
            for w in range(n_words)
        ],
    )


@lru_cache(maxsize=8)
def _wide_parse_cols(n_words: int):
    """Portable wide parse: word w = digest w//2, half w%2, as two
    4-byte hex group columns hg{w}_{g}. Memoized — see
    _ones_counts_xxhash (simhash256's build alone is ~5 s of py4j
    unmemoized)."""
    return tuple(
        F.conv(
            F.substring(
                f"hhex{w // 2}",
                (17 - 16 * (w % 2)) + 8 * g,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias(f"hg{w}_{g}")
        for w in range(n_words)
        for g in range(2)
    )


@lru_cache(maxsize=8)
def _wide_ones_counts(n_words: int, portable: bool):
    """The 64·n_words per-bit ones-count aggregates s{w}_{i} over the
    parsed word columns. Memoized — see _ones_counts_xxhash."""
    if portable:
        bitsrc = lambda w, i: F.shiftright(  # noqa: E731
            F.col(f"hg{w}_{i // 32}"),
            (3 - (i // 8) % 4) * 8 + i % 8,
        ).bitwiseAND(F.lit(1))
    else:
        bitsrc = lambda w, i: F.shiftright(  # noqa: E731
            F.col(f"h{w}"), i
        ).bitwiseAND(F.lit(1))
    return tuple(
        F.sum(bitsrc(w, i)).alias(f"s{w}_{i}")
        for w in range(n_words)
        for i in range(64)
    )


def simhash128(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """128-bit SimHash as TWO 64-bit words (id, fp0, fp1) — the
    scale-regime fingerprint for pigeonhole near-dup at large n.

    Why width matters: a c-chunk pigeonhole join buckets on
    (total_bits / c)-bit keys, and exact recall at hamming ≤ c−1 is
    only SELECTIVE while 2^(bits/c) ≫ n — with 64-bit fingerprints
    and 4 chunks the 16-bit keys densify at n ≈ 10⁸–10⁹ docs and the
    bucket self-join goes quadratic even on a dup-free corpus.
    Doubling the fingerprint doubles the chunk key (4×32-bit), which
    keeps hamming ≤ 3 exact AND selective out past 10⁹ docs — the
    multi-index-hashing sizing rule (chunk bits ≳ log2 n).

    portable=True (default) derives both words from ONE md5 per
    token — word0 is the md5_number_lower convention shared with
    simhash_portable (hex bytes 8..15 little-endian) and word1 is
    md5_number_upper (hex bytes 0..7), so DuckDB reproduces both
    words bit-for-bit with built-ins and oracles can hash-match the
    fingerprints themselves. portable=False uses xxhash64 with two
    seeds (word0 identical to simhash()'s fingerprint); engine-
    internal fast path, not cross-engine reproducible.

    Same shuffle shape as simhash(): ones-count partial aggregation,
    one row per doc, 129 agg columns instead of 65. (Delegates to
    simhash_wide(n_words=2) — one implementation per convention.)"""
    return simhash_wide(docs, text_col, id_col, n_words=2, portable=portable)


def simhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
    collapse_exact: bool = True,
    pair_mode: str = "clique",
    allow_lossy: bool = False,
    bucket_star_cap: int | str | None = None,
) -> DataFrame:
    """Pairs within Hamming distance k, bucketed by 16-bit chunks.

    Pigeonhole: distance ≤ 3 ⇒ at least one of the 4 16-bit chunks is
    identical — join on (chunk_idx, chunk_value), then verify exact
    Hamming distance with bit_count(xor). Same shuffle shape as LSH.
    For max_hamming > 3 the 4-chunk bucketing is recall-lossy (a pair
    can differ in all 4 chunks), so — same recall contract as
    fingerprint_hamming_pairs — it raises unless `allow_lossy=True`
    states the caller wants the documented lossy screen; the oracle
    for the portable path replicates the bucketing, so lossy
    semantics are pinned, not approximated.

    portable=True derives bits from md5 (cross-engine reproducible,
    oracle-checkable); False keeps the xxhash64 fast path for
    engine-internal dedup passes.

    `collapse_exact` is this pipeline's copy of the skew fix in
    minhash_near_dup_pairs — and here the group key is SEMANTICALLY
    exact, no hash-collision caveat: docs with equal fingerprints
    have hamming 0 to each other and identical hamming to every
    third doc, so collapsing them to one chunked representative
    (behind the same dup-mass gate) changes no output row. Member
    pairs inherit the rep pair's hamming; intra-group pairs are
    hamming 0 by definition.

    `pair_mode="star"` emits the connectivity-equivalent linear edge
    set instead of the full relation — rep-level cross pairs plus
    K−1 rep→member star edges per group (identical transitive
    closure and vertex set; see minhash_near_dup_pairs). hamming on
    star rows is the rep-pair / intra-group value.
    """
    _check_fp_chunking(1, 4, max_hamming, allow_lossy)
    fp = (simhash_portable if portable else simhash)(docs, text_col, id_col)
    return _fp_near_dup_pairs(
        fp, ["simhash64"], id_col, max_hamming, collapse_exact, pair_mode,
        bucket_star_cap=bucket_star_cap,
    )


def fingerprint_hamming_pairs(
    fp: DataFrame,
    fp_col: str,
    id_col: str,
    max_hamming: int = 3,
    collapse_exact: bool = True,
    pair_mode: str = "clique",
    n_chunks: int = 4,
    allow_lossy: bool = False,
    bucket_star_cap: int | str | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs within Hamming distance of a
    64-bit fingerprint column — the SimHash pigeonhole chunk join
    exposed for ANY fingerprint source (SimHash, perceptual image
    hashes, rolling content hashes). Same bucketing, collapse gate,
    and pair_mode contract as simhash_near_dup_pairs.

    `n_chunks` is the recall/selectivity dial: c chunks of 64/c bits
    pigeonhole ≥1 identical chunk whenever hamming < c, so recall is
    EXACT for max_hamming ≤ c−1; max_hamming ≥ n_chunks silently
    loses pairs, so it raises unless `allow_lossy=True` states the
    caller wants the documented recall-lossy screen. The price of
    more chunks is shorter bucket keys (64/c bits → denser buckets →
    more candidate pairs per bucket): 4×16 suits hamming ≤ 3
    (SimHash near-dup); 8×8 covers the hamming ≤ 7 thresholds
    perceptual-hash practice uses; 16×4-bit keys are usually too
    dense to be selective. Must be one of 1/2/4/8/16 (1 keys on the
    whole word, so only max_hamming=0 is exact).

    Density ceiling: bucket keys of b = 64/c bits stop being
    selective once n approaches 2^b — e.g. 4×16-bit keys densify at
    n ≈ 10⁸–10⁹ docs and the bucket self-join goes quadratic on a
    dup-free corpus. Past that regime use
    `fingerprint_hamming_pairs_wide` over a 128-bit fingerprint
    (simhash128): same n_chunks keeps the same exact-recall radius
    while doubling the key width (4×32-bit is selective past 10⁹).

    ``bucket_star_cap`` (default None = exact all-pairs buckets) is
    the dense-FAMILY guard: K fingerprints descended from one
    ancestor (template mutations, image variants) co-occupy chunk
    buckets and the self-join enumerates C(K,2). With a cap,
    oversized buckets contribute anchor-star candidates (min-id vs
    member, exact hamming still computed and filtered — no false
    positives). Recall contract matches minhash_lsh_candidates':
    pairs inside oversized buckets survive via the anchor, a small
    bucket in another chunk, or exact-fp collapse; CC consumers keep
    identical components whenever members are within k of the
    anchor."""
    _check_fp_chunking(1, n_chunks, max_hamming, allow_lossy)
    return _fp_near_dup_pairs(
        fp.select(F.col(id_col), F.col(fp_col).alias("simhash64")),
        ["simhash64"],
        id_col,
        max_hamming,
        collapse_exact,
        pair_mode,
        n_chunks,
        bucket_star_cap=bucket_star_cap,
    )


def fingerprint_hamming_pairs_wide(
    fp: DataFrame,
    fp_cols: list,
    id_col: str,
    max_hamming: int = 3,
    collapse_exact: bool = True,
    pair_mode: str = "clique",
    n_chunks: int = 4,
    allow_lossy: bool = False,
    bucket_star_cap: int | str | None = None,
) -> DataFrame:
    """fingerprint_hamming_pairs over a WIDE fingerprint split across
    several 64-bit word columns (e.g. simhash128's (fp0, fp1)) — the
    large-n regime of the pigeonhole join. Hamming distance is the
    sum of per-word bit_count(xor); chunk keys are (64·w/c)-bit
    slices, so at the same n_chunks a wider fingerprint means WIDER
    keys, not more of them: 128-bit / 4 chunks = 32-bit keys, which
    stay selective (2^32 ≫ n) past 10⁹ docs where the 64-bit tier's
    16-bit keys have long since densified quadratic. Exact recall
    for max_hamming ≤ n_chunks−1 holds at any width (pigeonhole on
    the concatenated fingerprint).

    n_chunks must be a multiple of len(fp_cols) (each word is cut
    into n_chunks/words equal slices) and the per-word slice width
    must divide 64. Collapse gate, pair_mode, and output contract
    are exactly fingerprint_hamming_pairs'."""
    fp_cols = list(fp_cols)
    _check_fp_chunking(len(fp_cols), n_chunks, max_hamming, allow_lossy)
    return _fp_near_dup_pairs(
        fp.select(F.col(id_col), *[F.col(c) for c in fp_cols]),
        fp_cols,
        id_col,
        max_hamming,
        collapse_exact,
        pair_mode,
        n_chunks,
        bucket_star_cap=bucket_star_cap,
    )


def _check_fp_chunking(
    n_words: int,
    n_chunks: int,
    max_hamming: int,
    allow_lossy: bool = False,
) -> None:
    """The pigeonhole rules of every fingerprint chunk join (batch and
    stream): each of the ``n_words`` 64-bit words is cut into
    n_chunks/n_words equal slices of a width dividing 64, and recall
    is exact only for max_hamming ≤ n_chunks−1 (a pair within that
    radius agrees on at least one whole chunk) — a wider radius
    raises unless ``allow_lossy`` opts into the lossy screen."""
    if n_words < 1:
        raise ValueError("fp_cols must name at least one word column")
    if n_chunks % n_words != 0:
        raise ValueError(
            f"n_chunks={n_chunks} must be a multiple of the fingerprint "
            f"word count {n_words}"
        )
    if n_chunks // n_words not in (1, 2, 4, 8, 16):
        raise ValueError(
            f"chunks-per-word must be one of 1/2/4/8/16, got "
            f"{n_chunks // n_words}"
        )
    if max_hamming >= n_chunks and not allow_lossy:
        raise ValueError(
            f"max_hamming={max_hamming} with n_chunks={n_chunks} is "
            "recall-LOSSY (pigeonhole recall is exact only for "
            "max_hamming <= n_chunks-1); raise n_chunks, or pass "
            "allow_lossy=True where the operator offers a deliberate "
            "lossy screen"
        )


def _fp_chunk_keys(
    fp: DataFrame, fp_cols, id_col: str, n_chunks: int
) -> DataFrame:
    """(id, *fp_cols, chunk, val): one pigeonhole key per chunk,
    map-only. Chunk i of word w covers bits [bits·j, bits·(j+1)) of
    that word (j = i mod cpw); the pigeonhole argument needs only
    that the chunks PARTITION the concatenated fingerprint, so
    per-word slicing is as exact as slicing a single 64·w-bit integer
    would be. cpw == 1 keys on the whole word (no shift/mask:
    (1<<64)-1 overflows a signed long)."""
    cpw = n_chunks // len(fp_cols)
    bits = 64 // cpw
    mask = (1 << bits) - 1

    def _chunk_val(word: str, j: int):
        if cpw == 1:
            return F.col(word)
        return F.shiftrightunsigned(F.col(word), bits * j).bitwiseAND(
            F.lit(mask)
        )

    return fp.select(
        F.col(id_col),
        *[F.col(c) for c in fp_cols],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w * cpw + j).alias("chunk"),
                        _chunk_val(word, j).alias("val"),
                    )
                    for w, word in enumerate(fp_cols)
                    for j in range(cpw)
                ]
            )
        ).alias("cc"),
    ).select(id_col, *fp_cols, "cc.chunk", "cc.val")


def _hamming(fp_cols, left: str, right: str):
    """Hamming distance between the fingerprints held in word columns
    ``{left}{c}`` and ``{right}{c}`` for c in fp_cols: the sum of
    per-word bit_count(xor)."""
    return reduce(
        lambda x, y: x + y,
        [
            F.bit_count(
                F.col(f"{left}{c}").bitwiseXOR(F.col(f"{right}{c}"))
            )
            for c in fp_cols
        ],
    )


def _fp_near_dup_pairs(
    fp: DataFrame,
    fp_cols: list,
    id_col: str,
    max_hamming: int,
    collapse_exact: bool,
    pair_mode: str,
    n_chunks: int = 4,
    bucket_star_cap: int | str | None = None,
) -> DataFrame:
    if pair_mode not in ("clique", "star"):
        raise ValueError(f"pair_mode must be 'clique' or 'star', got {pair_mode!r}")
    cap_auto = (
        bucket_star_cap is not None and _validate_cap(bucket_star_cap)
    )
    members = None
    if collapse_exact:
        fp = fp.persist()  # detection + members + chunks all read it
        # gate statistic in ONE exact aggregate (r14, see
        # _dup_mass_stats): fills the fp persist exactly as the old
        # gate's blocking job did, same (nd, ng) decision, minus the
        # groupBy(fp_cols) exchange + groups persist in the
        # dup-light regime.
        nd, ng = _dup_mass_stats(fp, *fp_cols)
        if nd - ng >= max(_COLLAPSE_MIN_DUP, 0.01 * nd):
            groups = (
                fp.groupBy(*fp_cols)
                .agg(
                    F.min(id_col).alias("_rep"),
                    F.count("*").alias("_gc"),
                )
                .persist()
            )
            members = (
                fp.join(groups, fp_cols)
                .select(F.col(id_col), "_rep", "_gc")
                .persist()
            )
            fp = groups.select(
                F.col("_rep").alias(id_col), *fp_cols
            )
    chunks = _fp_chunk_keys(fp, fp_cols, id_col, n_chunks)
    ham = _hamming(fp_cols, "a.", "b.")
    if bucket_star_cap is None:
        a = chunks.alias("a")
        b = chunks.alias("b")
        cand = (
            a.join(b, on=["chunk", "val"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"),
            )
        )
    else:
        # oversized-bucket guard, mirroring minhash_lsh_candidates:
        # a dense fingerprint FAMILY (every member within small
        # hamming of a common ancestor — template mutations, resized
        # variants of one image) puts K docs in the same (chunk, val)
        # bucket and the self-join enumerates C(K,2); with the cap,
        # oversized buckets contribute ANCHOR-STAR candidates (min-id
        # doc vs each member) — linear in K — and every emitted pair
        # still carries its exact hamming through the shared <= k
        # filter below (no false positives, ever). Recall: a pair in
        # an oversized bucket is kept iff one endpoint anchors it,
        # another chunk's bucket is small for it, or they collapse as
        # exact-fp dups; families stay CC-connected whenever members
        # are within k of the anchor.
        # persisted until the caller materializes; LRU-evicted after
        # (the accepted storage trade — see minhash_lsh_candidates)
        chunks = chunks.persist()
        stats = chunks.groupBy("chunk", "val").agg(
            F.count("*").alias("_bc"),
            F.min(id_col).alias("_anchor"),
            *[F.min_by(c, F.col(id_col)).alias(f"_a_{c}") for c in fp_cols],
        )
        tagged = chunks.join(stats, ["chunk", "val"])
        if cap_auto:
            tagged = tagged.crossJoin(
                F.broadcast(_auto_cap_frame(stats))
            )
            cap_col = F.col("_cap")
        else:
            cap_col = F.lit(bucket_star_cap)
        small = tagged.filter(F.col("_bc") <= cap_col)
        a = small.alias("a")
        b = small.alias("b")
        small_pairs = (
            a.join(b, on=["chunk", "val"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"),
            )
        )
        star_pairs = (
            tagged.filter(
                (F.col("_bc") > cap_col)
                & (F.col(id_col) != F.col("_anchor"))
            )
            .select(
                F.col("_anchor").alias("id_a"),
                F.col(id_col).alias("id_b"),
                _hamming(fp_cols, "_a_", "").alias("hamming"),
            )
        )
        cand = small_pairs.unionByName(star_pairs)
    pairs = cand.distinct().filter(F.col("hamming") <= max_hamming)
    if members is None:
        return pairs
    if pair_mode == "star":
        # rep-level cross pairs + K−1 star edges per group: same
        # transitive closure / vertex set as the clique, output
        # linear in dup mass (see minhash_near_dup_pairs)
        intra = (
            members.filter(
                (F.col("_gc") >= 2) & (F.col(id_col) != F.col("_rep"))
            )
            .select(
                F.col("_rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.bit_count(F.lit(0).cast("long")).alias("hamming"),
            )
        )
        return pairs.unionByName(intra)
    ma = members.select(
        F.col("_rep").alias("id_a"), F.col(id_col).alias("_ma")
    )
    mb = members.select(
        F.col("_rep").alias("id_b"), F.col(id_col).alias("_mb")
    )
    cross = (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("_ma", "_mb").alias("id_a"),
            F.greatest("_ma", "_mb").alias("id_b"),
            "hamming",
        )
    )
    intra = _intra_clique_pairs(members, id_col).withColumn(
        "hamming", F.bit_count(F.lit(0).cast("long"))
    )
    return cross.unionByName(intra)


# ----------------------------------------------------- embedding cosine


def embedding_anchor_block_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    k_anchors: int = 64,
    n_probe: int = 6,
) -> DataFrame:
    """Near-dup pairs via ANCHOR BLOCKING: each vector is assigned to
    its n_probe nearest of k_anchors deterministic anchor vectors
    (the k_anchors smallest ids — reproducible on any engine, unlike
    a k-means fit); candidate pairs share ≥ 1 anchor (a bucket
    EQUI-JOIN on anchor_id), then exact cosine ≥ threshold verifies.

    Scale shape, stage by stage:
      - scoring join is corpus × k_anchors with the anchor table
        broadcast — O(n·k) map-side, never O(n²);
      - top-n_probe per vector is a window over exactly k rows per
        key (no skew by construction);
      - the candidate join groups by anchor_id: cost is
        Σ bucket² ≈ n · n_probe² · avg_bucket — LINEAR in n when
        k_anchors grows with the corpus (k ≈ n/target_bucket, the
        IVF rule). On a small corpus with small k the candidate
        fraction looks large; the asymptotic is what matters.
    Recall is data-dependent: measured 0.87 at threshold 0.35 on the
    test corpus (where "near" pairs sit barely above the random-pair
    background, the hardest regime for any blocking); at production
    near-dup thresholds (cos ≥ 0.8) blocking recall approaches 1.
    The DuckDB oracle reproduces the anchor assignment exactly, so
    the emitted pair set is pinned, not approximated.
    """
    from datasette_upload_csvs_spark.functions.vector import (
        dot,
        double_array_frame,
        l2_norm,
    )

    # Norms are precomputed ONCE per vector (generator-barrier frame,
    # so the cast+norm aren't re-inlined per reference): both the
    # O(n·k) scoring join and the candidate verify then pay ONE
    # interpreted fold per pair (the dot) plus a divide, instead of
    # three folds — the verify stage runs over Σ bucket² pairs, where
    # a 3× fold cut is the dominant cost. cos = dot / (nrm_a · nrm_b)
    # evaluates the exact expression tree cosine() builds, so every
    # emitted double is bit-identical to the oracle's inline form.
    v = double_array_frame(emb, vec_col, id_col).withColumn(
        "nrm", l2_norm(F.col("v"))
    )
    anchors = v.filter(F.col(id_col) < k_anchors).select(
        F.col(id_col).alias("anchor_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("anrm"),
    )
    scored = v.join(F.broadcast(anchors)).select(
        id_col,
        "anchor_id",
        (dot(F.col("v"), F.col("av")) / (F.col("nrm") * F.col("anrm"))).alias(
            "ac"
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("ac").desc(), F.col("anchor_id").asc()
    )
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(id_col, "anchor_id")
    )
    a = assign.alias("a")
    b = assign.alias("b")
    cand = (
        a.join(b, "anchor_id")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    va = v.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("nrm_a"),
    )
    vb = v.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nrm_b"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb"))
                / (F.col("nrm_a") * F.col("nrm_b"))
            ).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
) -> DataFrame:
    """All pairs with cosine ≥ threshold (exact all-pairs join).

    SMALL-CORPUS BASELINE ONLY: the theta join is O(n²) vector
    comparisons (BroadcastNestedLoopJoin). It exists as the exact
    reference for recall measurement and tiny corpora; the
    registry's scale path is embedding_anchor_block_pairs (bucketed
    candidate equi-join + exact verify).
    """
    v = emb.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= threshold)
        .select("id_a", "id_b", F.round("cos_raw", 6).alias("cos_sim"))
    )
