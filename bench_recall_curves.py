#!/usr/bin/env python
"""Measured recall curves for the two recall-lossy configs
(round-9 verdict item 5).

The engine's lossy screens have DESIGN-TABLE guarantees — the
pigeonhole argument for hamming chunks, the 1-(1-j^r)^b s-curve for
MinHash bands (lsh_band_scurve) — but until now no MEASURED recall
on a planted distance spectrum. This bench plants pairs at known
distances, runs the real operators, and files recall-vs-distance
next to the closed-form prediction:

1. Hamming pigeonhole, lossy region (allow_lossy=True):
   fingerprint pairs planted at hamming d = 0..12 (d random bit
   positions of a random 64-bit base). For c chunks of 64/c bits, a
   pair is a candidate iff >= 1 chunk is clean; with d flips placed
   uniformly the exact prediction is inclusion-exclusion:
       P(found) = sum_{i=1..c} (-1)^(i+1) C(c,i) C(64-i*64/c, d) / C(64, d)
   Exact recall (d < c) must measure 1.0; the lossy region
   (d >= c) must track the formula within binomial noise.

1b. The same spectrum through the 128-bit WIDE tier
   (fingerprint_hamming_pairs_wide, 4x32-bit chunks): identical
   formula at bits=128 — the lossy tail decays far slower (a clean
   32-bit chunk survives more flips), quantifying what the wide
   tier's exact radius costs nothing to keep.

2. MinHash (b=32, r=4) banding: doc pairs planted at controlled
   jaccard via shared token prefixes (A = 40 unique tokens, B shares
   the first p; 3-shingle jaccard = (p-2)/(78-p), exact by
   construction). Candidates from minhash_lsh_candidates; predicted
   recall = 1-(1-j^4)^32.

The deterministic fixed-seed hash functions stand in for the theory's
random permutations/bit-samples; the planted corpora supply the
randomness, so measured recall converges on the prediction as the
pair count grows — that convergence is exactly what this artifact
demonstrates (and tests/test_recall_curves.py gates at smaller N).

Usage: python bench_recall_curves.py [pairs_per_point]  (default 4000)
Writes BENCH_RECALL_CURVES.json and prints one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys


def hamming_prediction(d: int, c: int, bits: int = 64) -> float:
    """P(>=1 of c equal-width chunks of a `bits`-wide fingerprint is
    clean) with d flipped bits placed uniformly at random."""
    if d == 0:
        return 1.0
    w = bits // c
    total = math.comb(bits, d)
    p = 0.0
    for i in range(1, c + 1):
        free = bits - i * w
        if free < d:
            term = 0
        else:
            term = math.comb(c, i) * math.comb(free, d)
        p += (1 if i % 2 == 1 else -1) * term / total
    return p


def scurve(j: float, r: int = 4, b: int = 32) -> float:
    return 1.0 - (1.0 - j**r) ** b


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 4000

    from datasette_upload_csvs_spark.operators import dedup
    from datasette_upload_csvs_spark.session import get_spark

    spark = get_spark(app_name="bench-recall-curves")
    spark.sparkContext.setLogLevel("ERROR")
    rnd = random.Random(20260815)

    # ---------------- hamming pigeonhole, per (n_chunks, d) --------
    hamming_rows = []
    for c in (4, 8):
        for d in range(0, 13):
            rows = []
            for i in range(n_pairs):
                base = rnd.getrandbits(64)
                flips = rnd.sample(range(64), d)
                mate = base
                for b_ in flips:
                    mate ^= 1 << b_

                def signed(u):
                    return u - (1 << 64) if u >= (1 << 63) else u

                rows.append((i, signed(base)))
                rows.append((i + 1_000_000, signed(mate)))
            fp = spark.createDataFrame(rows, "media_id long, f long")
            found = dedup.fingerprint_hamming_pairs(
                fp, "f", "media_id", max_hamming=12, n_chunks=c,
                allow_lossy=True,
            ).select("id_a", "id_b").collect()
            planted_found = sum(
                1 for r in found if r["id_b"] - r["id_a"] == 1_000_000
            )
            recall = planted_found / n_pairs
            pred = hamming_prediction(d, c)
            hamming_rows.append(
                {
                    "n_chunks": c,
                    "hamming": d,
                    "pairs": n_pairs,
                    "recall": round(recall, 4),
                    "predicted": round(pred, 4),
                    "exact_region": d < c,
                }
            )
            print(json.dumps(hamming_rows[-1]), file=sys.stderr)
            spark.catalog.clearCache()

    # ------------- WIDE (128-bit) pigeonhole, lossy region ---------
    # the scale tier (fingerprint_hamming_pairs_wide, 4x32-bit keys):
    # same inclusion-exclusion with bits=128 — the lossy tail decays
    # much slower (wider clean chunks), which is exactly why the wide
    # tier keeps exactness to the same radius with more selective keys
    wide_rows = []
    for d in (0, 2, 3, 4, 6, 8, 10, 12):
        rows = []
        for i in range(n_pairs):
            base = rnd.getrandbits(128)
            mate = base
            for b_ in rnd.sample(range(128), d):
                mate ^= 1 << b_

            def words(u):
                lo = u & ((1 << 64) - 1)
                hi = u >> 64
                s = lambda x: x - (1 << 64) if x >= (1 << 63) else x  # noqa: E731
                return s(lo), s(hi)

            b0, b1 = words(base)
            m0, m1 = words(mate)
            rows.append((i, b0, b1))
            rows.append((i + 1_000_000, m0, m1))
        fp = spark.createDataFrame(
            rows, "media_id long, fp0 long, fp1 long"
        )
        found = dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "media_id", max_hamming=12, n_chunks=4,
            allow_lossy=True,
        ).select("id_a", "id_b").collect()
        recall = sum(
            1 for r in found if r["id_b"] - r["id_a"] == 1_000_000
        ) / n_pairs
        wide_rows.append(
            {
                "n_chunks": 4,
                "hamming": d,
                "pairs": n_pairs,
                "recall": round(recall, 4),
                "predicted": round(hamming_prediction(d, 4, bits=128), 4),
                "exact_region": d < 4,
            }
        )
        print(json.dumps({"wide": wide_rows[-1]}), file=sys.stderr)
        spark.catalog.clearCache()

    # ---------------- minhash (32, 4) s-curve, per prefix p --------
    minhash_rows = []
    m = 40
    for p in (14, 18, 22, 26, 28, 30, 32, 34, 36, 38):
        j = (p - 2) / (2 * m - 2 - p)
        rows = []
        for i in range(n_pairs):
            toks = [f"p{p}i{i}t{k}" for k in range(m)]
            fresh = [f"p{p}i{i}f{k}" for k in range(m - p)]
            rows.append((i, " ".join(toks)))
            rows.append((i + 1_000_000, " ".join(toks[:p] + fresh)))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sets = dedup._hash_shingle_frame(docs, "text", "doc_id", 3)
        sig = dedup._signatures_from_hashes(sets, "doc_id", 128)
        found = dedup.minhash_lsh_candidates(sig, "doc_id").collect()
        planted_found = sum(
            1 for r in found if r["id_b"] - r["id_a"] == 1_000_000
        )
        recall = planted_found / n_pairs
        minhash_rows.append(
            {
                "prefix": p,
                "jaccard": round(j, 4),
                "pairs": n_pairs,
                "recall": round(recall, 4),
                "predicted": round(scurve(j), 4),
            }
        )
        print(json.dumps(minhash_rows[-1]), file=sys.stderr)
        spark.catalog.clearCache()

    out = {
        "metric": "lossy_config_recall_curves",
        "pairs_per_point": n_pairs,
        "hamming_pigeonhole": hamming_rows,
        "hamming_pigeonhole_wide128": wide_rows,
        "minhash_bands_32x4": minhash_rows,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_RECALL_CURVES.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
