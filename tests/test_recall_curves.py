"""Gate for the lossy-config recall predictions (round-9 verdict
item 5): the design-table formulas — pigeonhole inclusion-exclusion
for lossy hamming screens, the 1-(1-j^r)^b MinHash s-curve — must
match MEASURED recall on planted distance spectra within binomial
noise. BENCH_RECALL_CURVES.json files the full curves at 4000
pairs/point; this test gates a few points at 400 pairs so a code
change that silently shifts either curve fails CI.
"""

from __future__ import annotations

import math
import random

import pytest

from datasette_upload_csvs_spark.operators import dedup

N_PAIRS = 400
# 3-sigma binomial at N=400, p~0.5 is ~0.075; a little slack on top
# for the fixed-seed hash functions standing in for random ones
EPS = 0.09


def _hamming_pred(d: int, c: int) -> float:
    if d == 0:
        return 1.0
    w = 64 // c
    total = math.comb(64, d)
    p = 0.0
    for i in range(1, c + 1):
        free = 64 - i * w
        term = math.comb(c, i) * (math.comb(free, d) if free >= d else 0)
        p += (1 if i % 2 == 1 else -1) * term / total
    return p


def _planted_fp(spark, d: int, rnd):
    rows = []
    for i in range(N_PAIRS):
        base = rnd.getrandbits(64)
        mate = base
        for b in rnd.sample(range(64), d):
            mate ^= 1 << b

        def signed(u):
            return u - (1 << 64) if u >= (1 << 63) else u

        rows.append((i, signed(base)))
        rows.append((i + 1_000_000, signed(mate)))
    return spark.createDataFrame(rows, "media_id long, f long")


@pytest.mark.parametrize("d", [2, 5, 8])
def test_hamming_lossy_recall_matches_pigeonhole_prediction(spark, d):
    rnd = random.Random(97 + d)
    fp = _planted_fp(spark, d, rnd)
    found = dedup.fingerprint_hamming_pairs(
        fp, "f", "media_id", max_hamming=12, n_chunks=4, allow_lossy=True
    ).select("id_a", "id_b").collect()
    recall = sum(
        1 for r in found if r["id_b"] - r["id_a"] == 1_000_000
    ) / N_PAIRS
    pred = _hamming_pred(d, 4)
    if d < 4:  # exact region: pigeonhole guarantees every pair
        assert recall == 1.0
    else:
        assert abs(recall - pred) <= EPS, (d, recall, pred)
    spark.catalog.clearCache()


@pytest.mark.parametrize("p", [22, 28, 34])
def test_minhash_band_recall_matches_scurve(spark, p):
    m = 40
    j = (p - 2) / (2 * m - 2 - p)
    rows = []
    for i in range(N_PAIRS):
        toks = [f"p{p}i{i}t{k}" for k in range(m)]
        fresh = [f"p{p}i{i}f{k}" for k in range(m - p)]
        rows.append((i, " ".join(toks)))
        rows.append((i + 1_000_000, " ".join(toks[:p] + fresh)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = dedup._hash_shingle_frame(docs, "text", "doc_id", 3)
    sig = dedup._signatures_from_hashes(sets, "doc_id", 128)
    found = dedup.minhash_lsh_candidates(sig, "doc_id").collect()
    recall = sum(
        1 for r in found if r["id_b"] - r["id_a"] == 1_000_000
    ) / N_PAIRS
    pred = 1.0 - (1.0 - j**4) ** 32
    if pred > 0.999:  # deep in the certain region
        assert recall >= 0.995, (j, recall)
    else:
        assert abs(recall - pred) <= EPS, (j, recall, pred)
    spark.catalog.clearCache()


@pytest.mark.parametrize("d", [3, 6])
def test_wide_hamming_lossy_recall_matches_prediction(spark, d):
    """The 128-bit wide tier obeys the same inclusion-exclusion at
    bits=128: exact at d < n_chunks, and a much slower lossy decay
    than the 64-bit tier (a clean 32-bit chunk survives more flips)."""
    rnd = random.Random(550 + d)
    rows = []
    for i in range(N_PAIRS):
        base = rnd.getrandbits(128)
        mate = base
        for b in rnd.sample(range(128), d):
            mate ^= 1 << b

        def words(u):
            lo, hi = u & ((1 << 64) - 1), u >> 64
            s = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
            return s(lo), s(hi)

        rows.append((i, *words(base)))
        rows.append((i + 1_000_000, *words(mate)))
    fp = spark.createDataFrame(rows, "media_id long, fp0 long, fp1 long")
    from datasette_upload_csvs_spark.operators.dedup import (
        fingerprint_hamming_pairs_wide,
    )

    found = fingerprint_hamming_pairs_wide(
        fp, ["fp0", "fp1"], "media_id", max_hamming=12, n_chunks=4,
        allow_lossy=True,
    ).select("id_a", "id_b").collect()
    recall = sum(
        1 for r in found if r["id_b"] - r["id_a"] == 1_000_000
    ) / N_PAIRS

    # bits=128 inclusion-exclusion
    w, c, bits = 32, 4, 128
    total = math.comb(bits, d)
    pred = 0.0
    for i in range(1, c + 1):
        free = bits - i * w
        term = math.comb(c, i) * (math.comb(free, d) if free >= d else 0)
        pred += (1 if i % 2 == 1 else -1) * term / total
    if d < 4:
        assert recall == 1.0
    else:
        assert abs(recall - pred) <= EPS, (d, recall, pred)
    spark.catalog.clearCache()
