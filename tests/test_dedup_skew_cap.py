"""Adversarial-skew guard for banded MinHash (round-9 verdict item
2): SUB-threshold template families band-collide at ~0.9 probability
(the LSH s-curve at jaccard ~0.5-0.6), so without a guard the bucket
self-join enumerates C(K,2) doomed candidates per family. The
bucket_star_cap turns oversized buckets into anchor-star candidates:

* template corpus: candidate mass drops from ~quadratic to linear,
  verified output unchanged (template pairs fail verify either way);
* genuine near-dup family: groups via connected components are
  IDENTICAL capped vs uncapped (the family stays anchor-connected);
* default (None) is bit-identical to the historical all-pairs path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup, graph


def _template_docs(spark, n):
    """Half the docs share a 40-token boilerplate template plus 12
    unique tokens (pairwise jaccard ~0.55 — under the 0.7 threshold);
    the other half are fully unique. Plus one planted GENUINE
    near-dup pair built from rare shingles (ids 10^6, 10^6+1)."""
    tmpl = " ".join(f"tmpl{j}" for j in range(40))
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.pmod("id", F.lit(2)) == 0,
            F.concat(
                F.lit(tmpl + " "),
                F.concat_ws(" ", F.array(*[
                    F.concat(F.lit(f"u{j}x"), F.col("id").cast("string"))
                    for j in range(12)
                ])),
            ),
        ).otherwise(
            F.concat_ws(" ", F.array(*[
                F.concat(F.lit(f"v{j}x"), F.col("id").cast("string"))
                for j in range(25)
            ]))
        ).alias("text"),
    )
    pair_text = " ".join(f"planted{j}" for j in range(30))
    planted = spark.createDataFrame(
        [
            (1_000_000, pair_text),
            (1_000_001, pair_text.rsplit(" ", 1)[0] + " plantedZZ"),
        ],
        "doc_id long, text string",
    )
    return base.unionByName(planted)


def _sig(spark, docs):
    sets = dedup._hash_shingle_frame(docs, "text", "doc_id", 3)
    return dedup._signatures_from_hashes(sets, "doc_id", 128).persist()


def test_cap_collapses_template_family_candidates(spark):
    n = 600
    docs = _template_docs(spark, n)
    sig = _sig(spark, docs)
    uncapped = dedup.minhash_lsh_candidates(sig, "doc_id").count()
    capped = dedup.minhash_lsh_candidates(
        sig, "doc_id", bucket_star_cap=16
    ).count()
    # template family: 300 docs, ~C(300,2)=44850 sub-threshold pairs
    # nearly all band-collide without the cap
    assert uncapped > 20_000, uncapped
    # capped: each doc contributes at most one star edge per band
    # (32) plus small-bucket pairs — LINEAR in n by construction
    # (observed ~2.4/doc on this shape), vs ~75/doc uncapped and
    # growing linearly with n
    assert capped <= 34 * (n + 2), capped
    assert capped < uncapped / 15, (capped, uncapped)

    # verified OUTPUT is unchanged: template pairs fail the exact
    # verify either way, the planted genuine pair survives both
    for cap in (None, 16):
        got = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_near_dup_pairs(
                docs, threshold=0.7, bucket_star_cap=cap
            ).collect()
        }
        assert got == {(1_000_000, 1_000_001)}, (cap, got)
    spark.catalog.clearCache()


def test_cap_preserves_genuine_family_groups(spark):
    """A 120-member GENUINE near-dup family (every member = the base
    30-token doc with one token changed at a distinct position;
    pairwise jaccard ~0.8-0.9) lands in oversized buckets. Capped
    candidates shrink to anchor stars, but connected components are
    identical: members verify against the min-id anchor (j >= 0.7),
    so the family is one group either way."""
    base_toks = [f"fam{j:02d}" for j in range(30)]
    rows = [(0, " ".join(base_toks))]
    for m in range(1, 120):
        toks = list(base_toks)
        toks[m % 30] = f"mut{m}"
        rows.append((m, " ".join(toks)))
    # background: unique docs so the corpus isn't one bucket
    for i in range(400):
        rows.append(
            (1000 + i, " ".join(f"bg{i}w{j}" for j in range(25)))
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def groups(cap):
        pairs = dedup.minhash_near_dup_pairs(
            docs, threshold=0.7, pair_mode="star", bucket_star_cap=cap
        ).select("id_a", "id_b")
        cc = graph.connected_components(pairs)
        return {
            r["vertex"]: r["component"] for r in cc.collect()
        }

    g_uncapped = groups(None)
    g_capped = groups(8)
    assert g_capped == g_uncapped
    # the family is one component rooted at the min id
    fam = {v for v in g_capped if v < 1000}
    assert fam == set(range(120))
    assert {g_capped[v] for v in fam} == {0}
    spark.catalog.clearCache()


def test_cap_validation_and_default_identity(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}t{j}" for j in range(10))) for i in range(30)],
        "doc_id long, text string",
    )
    sig = _sig(spark, docs)
    with pytest.raises(ValueError):
        dedup.minhash_lsh_candidates(sig, "doc_id", bucket_star_cap=1)
    # huge cap (never trips) is row-identical to the default path
    a = set(map(tuple, dedup.minhash_lsh_candidates(sig, "doc_id").collect()))
    b = set(
        map(
            tuple,
            dedup.minhash_lsh_candidates(
                sig, "doc_id", bucket_star_cap=10**6
            ).collect(),
        )
    )
    assert a == b
    spark.catalog.clearCache()


def test_fp_bucket_cap_preserves_family_groups(spark):
    """The pigeonhole twin: a dense fingerprint FAMILY (members
    within hamming <= 2 of an anchor fingerprint) co-occupies chunk
    buckets; bucket_star_cap turns those buckets into anchor stars.
    Components are identical capped vs uncapped (members verify
    against the anchor), and the candidate relation shrinks from
    ~C(K,2) to ~K."""
    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base)]
    # 100 family members: flip one distinct low bit -> hamming 1 to
    # the anchor, hamming <= 2 pairwise (all within max_hamming=2)
    for m in range(1, 100):
        rows.append((m, base ^ (1 << (m % 48))))
    # background: well-separated fingerprints
    import random

    rnd = random.Random(7)
    for i in range(300):
        rows.append((1000 + i, rnd.getrandbits(63)))
    fp = spark.createDataFrame(rows, "media_id long, f long")

    def pairs(cap):
        return dedup.fingerprint_hamming_pairs(
            fp, "f", "media_id", max_hamming=2, pair_mode="star",
            bucket_star_cap=cap,
        ).select("id_a", "id_b")

    def comps(frame):
        return {
            r["vertex"]: r["component"]
            for r in graph.connected_components(frame).collect()
        }

    uncapped_pairs = pairs(None).count()
    capped_pairs = pairs(8).count()
    assert capped_pairs < uncapped_pairs / 10, (capped_pairs, uncapped_pairs)
    assert comps(pairs(8)) == comps(pairs(None))
    # the family is one component rooted at the anchor
    got = comps(pairs(8))
    assert {got[v] for v in range(100)} == {0}
    spark.catalog.clearCache()


def test_bucket_stats_forecasts_candidate_mass(spark):
    """bucket_stats.pair_mass = exact pre-distinct join rows; on the
    template corpus it upper-bounds (and tracks the magnitude of)
    the distinct candidate count — the cheap capacity-planning probe
    for whether bucket_star_cap is needed."""
    docs = _template_docs(spark, 400)
    sig = _sig(spark, docs)
    band_sql = "array(" + ",".join(
        f"struct({i} AS band, xxhash64("
        + ",".join(
            f"element_at(signature, {i * 4 + j + 1})" for j in range(4)
        )
        + ") AS bucket)"
        for i in range(32)
    ) + ")"
    banded = sig.select(
        "doc_id", F.explode(F.expr(band_sql)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")
    stats = dedup.bucket_stats(banded, ["band", "bucket"], "doc_id").first()
    distinct_cands = dedup.minhash_lsh_candidates(sig, "doc_id").count()
    assert stats["pair_mass"] >= distinct_cands
    # the template family (200 docs) dominates: forecast is clearly
    # quadratic-regime (>> corpus size), which is the signal the
    # probe exists to give
    assert stats["pair_mass"] > 50 * 402
    assert stats["max_bucket"] >= 100
    # n_ids: the pairs-per-doc denominator (every doc bands)
    assert stats["n_ids"] == 402
    spark.catalog.clearCache()


# -------------------------------------------------- bucket_star_cap="auto"
# Round-10 VERDICT item 4: the guard must not need a manual
# bucket_stats probe — "auto" forecasts pair mass from the bucket
# distribution inside the guarded join's own job graph and picks the
# cap (no-op while linear, max(16, p99) once quadratic).


def test_auto_cap_engages_on_template_corpus(spark):
    """On the adversarial template corpus the auto cap must engage:
    candidate mass comparable to a hand-tuned cap, verified output
    unchanged."""
    n = 600
    docs = _template_docs(spark, n)
    sig = _sig(spark, docs)
    uncapped = dedup.minhash_lsh_candidates(sig, "doc_id").count()
    hand = dedup.minhash_lsh_candidates(
        sig, "doc_id", bucket_star_cap=16
    ).count()
    auto = dedup.minhash_lsh_candidates(
        sig, "doc_id", bucket_star_cap="auto"
    ).count()
    assert auto < uncapped / 15, (auto, uncapped)
    # auto ~ hand-tuned (same anchor-star regime; the derived cap may
    # admit slightly more small-bucket pairs than cap=16)
    assert auto <= 3 * hand, (auto, hand)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(
            docs, threshold=0.7, bucket_star_cap="auto"
        ).collect()
    }
    assert got == {(1_000_000, 1_000_001)}
    spark.catalog.clearCache()


def test_auto_cap_noop_on_clean_corpus(spark):
    """On a corpus whose forecast pair mass is corpus-linear the auto
    cap must be a NO-OP: candidate rows identical to cap=None."""
    rows = []
    for i in range(400):
        rows.append((i, " ".join(f"c{i}w{j}" for j in range(25))))
    # a few small genuine dup families (size 3) — still linear mass
    for f in range(10):
        text = " ".join(f"fam{f}tok{j}" for j in range(25))
        for m in range(3):
            rows.append((10_000 + 10 * f + m, text + f" tail{m}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = _sig(spark, docs)
    a = set(
        map(tuple, dedup.minhash_lsh_candidates(sig, "doc_id").collect())
    )
    b = set(
        map(
            tuple,
            dedup.minhash_lsh_candidates(
                sig, "doc_id", bucket_star_cap="auto"
            ).collect(),
        )
    )
    assert a == b
    spark.catalog.clearCache()


def test_auto_cap_fp_twin_and_validation(spark):
    """fingerprint pigeonhole: auto cap shrinks a dense family's
    candidates like a hand cap and preserves components; bogus cap
    values raise."""
    base = 0x0123_4567_89AB_CDEF
    rows = [(0, base)]
    for m in range(1, 100):
        rows.append((m, base ^ (1 << (m % 48))))
    import random

    rnd = random.Random(7)
    # background sized so the family's forecast pair mass (~4·C(76,2)
    # ≈ 11k) clearly exceeds the linear budget (8 × keyed rows) — the
    # regime the auto policy exists for; with 300 background docs the
    # toy corpus sat just UNDER budget and auto correctly no-opped
    for i in range(100):
        rows.append((1000 + i, rnd.getrandbits(63)))
    fp = spark.createDataFrame(rows, "media_id long, f long")

    def pairs(cap):
        return dedup.fingerprint_hamming_pairs(
            fp, "f", "media_id", max_hamming=2, pair_mode="star",
            bucket_star_cap=cap,
        ).select("id_a", "id_b")

    def comps(frame):
        return {
            r["vertex"]: r["component"]
            for r in graph.connected_components(frame).collect()
        }

    assert pairs("auto").count() < pairs(None).count() / 10
    assert comps(pairs("auto")) == comps(pairs(None))
    with pytest.raises(ValueError):
        pairs("nope").count()
    with pytest.raises(ValueError):
        dedup.cap_bucket_side(fp, ["f"], "media_id", cap=0)
    spark.catalog.clearCache()


def test_auto_cap_bucket_side(spark):
    """cap_bucket_side("auto"): collapses the oversized bucket of a
    skewed side to its anchor, identity on a uniform side."""
    skew_rows = [(i, 7) for i in range(500)] + [
        (1000 + i, 100 + i) for i in range(200)
    ]
    skew = spark.createDataFrame(skew_rows, "vec_id long, bucket long")
    capped = dedup.cap_bucket_side(skew, ["bucket"], "vec_id", "auto")
    out = capped.groupBy("bucket").count().collect()
    sizes = {r["bucket"]: r["count"] for r in out}
    assert sizes[7] == 1  # oversized bucket -> anchor only
    assert sum(v for k, v in sizes.items() if k != 7) == 200
    # anchor is the min id
    assert capped.filter(F.col("bucket") == 7).first()["vec_id"] == 0

    uniform = spark.createDataFrame(
        [(i, i % 97) for i in range(400)], "vec_id long, bucket long"
    )
    same = dedup.cap_bucket_side(uniform, ["bucket"], "vec_id", "auto")
    assert set(map(tuple, same.collect())) == set(
        map(tuple, uniform.collect())
    )
    spark.catalog.clearCache()


def test_funnel_default_auto_cap_matches_uncapped_output(spark):
    """run_curation_funnel now defaults bucket_star_cap="auto": on the
    template corpus the staged counts equal an uncapped run (template
    pairs fail verify either way; genuine families stay anchor-
    connected) while the candidate join runs in the capped regime."""
    from datasette_upload_csvs_spark.pipeline import run_curation_funnel

    docs = (
        _template_docs(spark, 300)
        .select("doc_id", F.col("text"))
        # make docs pass the Gopher floor (>= 20 words, stopwords)
        .withColumn(
            "text",
            F.concat(
                F.lit("the and for with that this from "), F.col("text")
            ),
        )
    )
    def counts(cap):
        stages, _, _ = run_curation_funnel(docs, bucket_star_cap=cap)
        return [(s.name, s.n_docs) for s in stages]

    assert counts("auto") == counts(None)
    spark.catalog.clearCache()


def test_auto_cap_noop_regime_builds_plain_plan(spark):
    """Round-11 VERDICT item 3 (structural pin): when the auto
    forecast lands in the no-op regime, the PLAN — not just the row
    set — must be the plain cap=None candidate plan: no per-bucket
    stats join (_bc/_anchor), no cap literal filter, no broadcast
    scalar. The r11 in-graph variant carried the full capped plan
    shape through the no-op regime and cost +42% end-to-end on the
    staged funnel (BENCH_FUNNEL_CODEAB.json)."""
    rows = [
        (i, " ".join(f"p{i}q{j}" for j in range(25))) for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = _sig(spark, docs)
    plan = (
        dedup.minhash_lsh_candidates(sig, "doc_id", bucket_star_cap="auto")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("_bc", "_anchor", "_cap"):
        assert marker not in plan, f"no-op auto plan carries {marker}"
    # and on the template corpus the ENGAGED plan does carry the guard
    tdocs = _template_docs(spark, 300)
    tsig = _sig(spark, tdocs)
    tplan = (
        dedup.minhash_lsh_candidates(tsig, "doc_id", bucket_star_cap="auto")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_bc" in tplan and "_anchor" in tplan
    spark.catalog.clearCache()


def test_capped_candidate_plan_has_no_cartesian(spark):
    docs = _template_docs(spark, 200)
    sig = _sig(spark, docs)
    plan = (
        dedup.minhash_lsh_candidates(sig, "doc_id", bucket_star_cap=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_auto_pair_budget_is_public_and_restores_noop(spark):
    """ADVICE r12 (medium): the "auto" regime boundary must be
    caller-tunable on every public entry (minhash_lsh_candidates,
    minhash_near_dup_pairs, cap_bucket_side). A budget large enough
    to declare any corpus linear turns auto into the exact cap=None
    output on a corpus where the DEFAULT budget engages — the
    documented mitigation for the r12 OUTPUT-CHANGE note."""
    docs = _template_docs(spark, 400)
    sig = _sig(spark, docs)
    uncapped = set(
        map(tuple, dedup.minhash_lsh_candidates(sig, "doc_id").collect())
    )
    default_auto = dedup.minhash_lsh_candidates(
        sig, "doc_id", bucket_star_cap="auto"
    ).count()
    assert default_auto < len(uncapped)  # default budget engages here
    loose = set(
        map(
            tuple,
            dedup.minhash_lsh_candidates(
                sig,
                "doc_id",
                bucket_star_cap="auto",
                auto_pair_budget=10**9,
            ).collect(),
        )
    )
    assert loose == uncapped
    # pass-through on minhash_near_dup_pairs (the clique consumer the
    # OUTPUT-CHANGE note is about)
    pairs_none = set(
        map(
            tuple,
            dedup.minhash_near_dup_pairs(docs, bucket_star_cap=None)
            .select("id_a", "id_b")
            .collect(),
        )
    )
    pairs_loose = set(
        map(
            tuple,
            dedup.minhash_near_dup_pairs(
                docs, bucket_star_cap="auto", auto_pair_budget=10**9
            )
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert pairs_loose == pairs_none
    # cap_bucket_side: a loose budget keeps the skewed side intact
    skew = spark.createDataFrame(
        [(i, 7) for i in range(500)]
        + [(1000 + i, 100 + i) for i in range(200)],
        "vec_id long, bucket long",
    )
    loose_side = dedup.cap_bucket_side(
        skew, ["bucket"], "vec_id", "auto", auto_pair_budget=10**9
    )
    assert loose_side.count() == 700
    spark.catalog.clearCache()


def test_auto_probe_rides_banded_persist(spark):
    """ADVICE r12 (low): "auto" on an UNPERSISTED sig must not run
    the signature DAG once for the probe and again for the main
    plan. The probe persists the banded relation while resolving the
    regime, so the returned candidate plan reads that cache (an
    InMemoryTableScan) instead of recomputing banding + signatures."""
    rows = [
        (i, " ".join(f"rp{i}q{j}" for j in range(25)))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = dedup._hash_shingle_frame(docs, "text", "doc_id", 3)
    sig = dedup._signatures_from_hashes(sets, "doc_id", 128)  # no persist
    plan = (
        dedup.minhash_lsh_candidates(sig, "doc_id", bucket_star_cap="auto")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" in plan
    spark.catalog.clearCache()


def test_get_spark_warns_on_shared_session_conf_overwrite(spark):
    """ADVICE r12 (low): extra_confs applied to an already-active
    shared session persist for later users — get_spark must make the
    overwrite visible with a RuntimeWarning naming both values."""
    import warnings

    from datasette_upload_csvs_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            got = get_spark(extra_confs={key: str(int(prev) + 1)})
        assert got is spark
        assert spark.conf.get(key) == str(int(prev) + 1)
        msgs = [str(w.message) for w in rec if w.category is RuntimeWarning]
        assert any(key in m and "persists" in m for m in msgs), msgs
        # same-value application stays silent
        with warnings.catch_warnings(record=True) as rec2:
            warnings.simplefilter("always")
            get_spark(extra_confs={key: str(int(prev) + 1)})
        assert not [
            w for w in rec2 if w.category is RuntimeWarning
        ], [str(w.message) for w in rec2]
    finally:
        spark.conf.set(key, prev)


def test_engine_confs_bound_ui_retention():
    """Round-13 driver-hygiene finding (BENCH_FUNNEL_STREAM
    scale_tiered / _noui / _lowret): Spark's default UI state store
    retains 1000 SQL executions, each holding the full plan graph —
    on the 520k-doc streaming-funnel leg that degraded per-epoch wall
    progressively (last/first 2.50 with sporadic 30-56 s stalls and
    no matching GC pauses); the bounded set restored 1.36 and cut the
    drain 621 s -> 496 s. Pin the bounds so a conf cleanup cannot
    silently reintroduce the drift."""
    from datasette_upload_csvs_spark.session import ENGINE_CONFS

    assert int(ENGINE_CONFS["spark.sql.ui.retainedExecutions"]) <= 100
    assert int(ENGINE_CONFS["spark.ui.retainedJobs"]) <= 1000
    assert int(ENGINE_CONFS["spark.ui.retainedStages"]) <= 1000
    assert int(ENGINE_CONFS["spark.ui.retainedTasks"]) <= 50000
