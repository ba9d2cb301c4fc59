"""Iterative graph operators on edge DataFrames.

Connected components is the missing last step of every near-dup
pipeline: pair emitters (MinHash/SimHash/Jaccard — dedup.py) produce
EDGES, but dedup needs GROUPS — if A~B and B~C, then {A,B,C} is one
duplicate cluster even though (A,C) was never emitted. At corpus
scale the pair graph has billions of edges, so the grouping must be
a fixed small number of distributed passes, not a driver-side
union-find.

Algorithm: hash-min label propagation (the standard Pregel-style
formulation, cf. "CC-MR" / GraphX's connectedComponents shape):
every vertex starts labeled with its own id; each round, every
vertex adopts the minimum label in its closed neighborhood;
converged when no label changes. Rounds needed = graph diameter —
for near-dup clusters (tiny, dense clumps) that is 2-3; the loop
is capped and checked, not assumed.

Each round is one join + one aggregation (both on vertex id), all
JVM-side. Labels localCheckpoint per round to cut the exponentially
growing lineage — the classic iterative-DataFrame trap.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# Count of checkpoint-block release attempts that raised (reset only
# by process restart). The release reaches through private plan APIs
# (queryExecution().logical().rdd()); if a Spark version wraps the
# checkpointed plan so that path breaks, release degrades to a no-op
# and block storage accumulates per CC round and funnel stage — this
# counter (plus a debug log line per failure) is the signal that the
# silent degradation is happening, instead of rediscovering it as a
# disk-full at corpus scale.
RELEASE_FAILURES = 0


def _release_checkpoint_blocks(df: DataFrame, what: str) -> None:
    """Best-effort unpersist of a localCheckpoint frame's blocks.
    DataFrame.unpersist is a no-op for local checkpoints (they are
    not cacheManager entries); the blocks live on the checkpointed
    RDD inside the logical plan (verified: getRDDStorageInfo drops to
    zero). Never raises — storage hygiene must never fail the caller —
    but failures are counted + logged."""
    global RELEASE_FAILURES
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception as ex:
        RELEASE_FAILURES += 1
        _log.debug(
            "could not release %s checkpoint blocks "
            "(plan shape changed under this Spark version?): %s",
            what, ex,
        )


def _driver_union_find(adj: DataFrame) -> DataFrame:
    """Label a SMALL (caller-bounded) symmetric adjacency by driver
    union-find with path compression, unioning the larger root under
    the smaller — so every component's label is its min vertex id,
    exactly the distributed loop's fixed point. Returns (vertex,
    component) typed like the adjacency's id column. Exact for any
    orderable id type (the same assumption F.least makes)."""
    pdf = adj.toPandas()
    # .tolist() yields native Python scalars (numpy ints would fail
    # createDataFrame's type verification for LongType fields)
    vs, ns = pdf["v"].tolist(), pdf["n"].tolist()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(vs, ns):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra

    from pyspark.sql import types as T

    vtype = adj.schema["v"].dataType
    schema = T.StructType(
        [
            T.StructField("vertex", vtype),
            T.StructField("component", vtype),
        ]
    )
    # the symmetric adjacency lists every endpoint as `v`, so the
    # distinct v-set IS the vertex set
    verts = sorted(set(vs))
    if not verts:
        return adj.sparkSession.createDataFrame([], schema)
    # Arrow-serialized return (a list-based createDataFrame pays
    # row-at-a-time type verification — seconds at the 1M-row gate)
    import pandas as pd

    out = pd.DataFrame(
        {"vertex": verts, "component": [find(v) for v in verts]}
    )
    return adj.sparkSession.createDataFrame(out, schema)


class ConvergenceError(RuntimeError):
    """Raised when an iterative operator exhausts its round budget
    with labels still moving. A partially-propagated labeling is a
    WRONG grouping (it splits components), not a degraded one — so
    the contract is converge-or-raise, never return-best-effort."""


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    small_graph_rows: int | None = 1_000_000,
    small_graph_id_bytes: int = 64 << 20,
) -> DataFrame:
    """(vertex, component) — component = min vertex id reachable.

    `edges` is an undirected pair relation (src, dst) of NON-NULL,
    orderable ids (every in-repo pair emitter satisfies this; null
    endpoints would silently drop from the distributed path's joins
    and are not supported). Vertices with no edges are absent (join
    the result back to the full vertex set with
    coalesce(component, id) for singleton semantics — see
    dedup_groups in queries.py).

    SMALL-GRAPH FAST PATH: the deduplicated symmetric adjacency is
    counted in the same job that materializes it (Observation rides
    the checkpoint); at or under ``small_graph_rows`` rows the
    labeling runs as driver union-find over the collected adjacency
    instead of the iterative loop. Rationale: each distributed round
    is a fixed-cost Spark job, and near-dup edge relations at bench
    scale are a few thousand rows — ~4 jobs of scheduling overhead
    (~3 s) to label a graph union-find handles in milliseconds. The
    collect is BOUNDED by TWO gates measured in the same job: row
    count (``small_graph_rows``) AND observed id bytes
    (``small_graph_id_bytes``, default 64 MB, summed string-cast
    lengths of both endpoints) — the byte gate covers wide string
    ids (e.g. a doc_id column), where a row-count-only bound would
    let a 1M-row collect plus the Python union-find dict reach
    hundreds of MB of driver heap. 1M rows of long ids stays under
    either gate (≤ ~40 MB of digits); the same rows of 100-char doc
    ids (~200 MB) falls through to the distributed loop. Labels are
    identical (component = min reachable
    id under either algorithm; parity is property-tested), and a
    corpus-scale pair graph (billions of edges) exceeds any sane
    threshold and takes the distributed loop unchanged. Pass
    ``small_graph_rows=0``/``None`` to force the distributed path.

    Raises ConvergenceError if labels are still changing after
    `max_iter` rounds: with pointer jumping each round roughly
    halves label-chain length, so the default 20 rounds covers
    component diameter ~2^20; a graph that needs more gets a loud
    error instead of a silently split grouping. Retry with a larger
    `max_iter` (cost is per-round, so doubling the budget covers
    the square of the diameter).
    """
    from pyspark.sql import Observation

    sym = edges.select(
        F.col(src).alias("v"), F.col(dst).alias("n")
    ).unionByName(edges.select(F.col(dst).alias("v"), F.col(src).alias("n")))
    # adjacency is reused every round: materialize once. A local
    # CHECKPOINT, not persist — persist keeps the edge relation's
    # full lineage referenced for every round, which pins the shuffle
    # files of whatever produced the edges (a multi-million-doc
    # MinHash candidate+verify graph upstream of dedup's CC measurably
    # holds tens of GB of scratch through the whole loop). The
    # checkpoint cuts that lineage at CC entry, so upstream shuffles
    # become collectable the moment the loop starts.
    size_obs = Observation()
    adj = (
        sym.distinct()
        .observe(
            size_obs,
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(
                F.sum(
                    F.length(F.col("v").cast("string"))
                    + F.length(F.col("n").cast("string"))
                ),
                F.lit(0),
            ).alias("id_bytes"),
        )
        .localCheckpoint(eager=True)
    )
    if (
        small_graph_rows
        and size_obs.get["rows"] <= small_graph_rows
        and size_obs.get["id_bytes"] <= small_graph_id_bytes
    ):
        out = _driver_union_find(adj)
        _release_checkpoint_blocks(adj, "adjacency")
        return out
    # seed labels with the first propagation round folded in: the
    # min of the closed neighborhood costs the same shuffle a plain
    # distinct-vertices init would, and dense near-dup clumps
    # (diameter 1-2) then converge on the first loop pass.
    labels = (
        adj.groupBy("v").agg(F.least(F.col("v"), F.min("n")).alias("c"))
    ).localCheckpoint()

    changed = None  # None = loop never ran (max_iter == 0)
    for _ in range(max_iter):
        # candidate label per vertex: min over its own label and all
        # neighbor labels (closed neighborhood); carry the round-start
        # label so convergence is observable in the same pass
        neigh = (
            adj.join(labels.withColumnRenamed("v", "n"), "n")
            .groupBy("v")
            .agg(F.min("c").alias("nc"))
        )
        stepped = labels.join(neigh, "v", "left").select(
            "v",
            F.col("c").alias("old_c"),
            F.least("c", F.coalesce("nc", "c")).alias("c"),
        )
        # pointer jumping (shortcutting): also adopt the label OF the
        # current label — contracts label chains by half each round,
        # so convergence is O(log diameter) instead of O(diameter)
        # (a 1M-vertex path converges in ~20 rounds, not 1M).
        parent = stepped.select(
            F.col("v").alias("c"), F.col("c").alias("cc")
        )
        # the changed-count rides the SAME job as the checkpoint
        # materialization (Observation), so each round costs ONE job
        # instead of a checkpoint job plus a comparison join job.
        obs = Observation()
        new_labels = (
            stepped.join(parent, "c", "left")
            .select(
                "v",
                "old_c",
                F.least("c", F.coalesce("cc", "c")).alias("c"),
            )
            .observe(
                obs,
                # coalesce: sum over ZERO rows is NULL, and a None
                # changed-count must read as converged (an empty edge
                # relation would otherwise loop max_iter times)
                F.coalesce(
                    F.sum((F.col("c") != F.col("old_c")).cast("long")),
                    F.lit(0),
                ).alias("changed"),
            )
            .select("v", "c")
        ).localCheckpoint()
        # the superseded round's label blocks are dead weight the
        # moment the new checkpoint exists — release them
        _release_checkpoint_blocks(labels, "superseded-round label")
        labels = new_labels
        changed = obs.get["changed"]
        if changed == 0:
            break

    _release_checkpoint_blocks(adj, "adjacency")
    if changed is None or changed > 0:
        # converge-or-raise still must not leak: the final round's
        # label blocks are unreachable after the raise
        _release_checkpoint_blocks(labels, "final-round label")
        # the seed fold (above) is itself one propagation round, so
        # max_iter == 0 on a non-trivial graph is also unverified
        raise ConvergenceError(
            f"connected_components: {changed or 'unknown'} labels still "
            f"changing after max_iter={max_iter} rounds; the grouping "
            "would be silently split — retry with a larger max_iter"
        )
    return labels.select(F.col("v").alias("vertex"), F.col("c").alias("component"))
