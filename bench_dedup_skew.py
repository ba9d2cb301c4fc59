#!/usr/bin/env python
"""Adversarial-skew dedup bench (round-9 verdict item 2).

Prior scale benches (BENCH_DEDUP_SCALE) plant UNIFORM duplicates;
real corpora are skewed. Three adversarial shapes, each with its
measured kill:

* exact_family   — K = n/2 exact copies of one doc. Kill: the
                   exact-dup collapse gate (one rep banded, star
                   output) — candidate+output mass linear in K.
* template_family— 50% of docs share a 40-token boilerplate template
                   plus 12 unique tokens: pairwise jaccard ~0.55,
                   BELOW the 0.7 threshold, but the LSH s-curve
                   band-collides such pairs with p ~ 0.9 → the
                   bucket self-join enumerates ~C(K,2) doomed
                   candidates (measured: 99.7% of the quadratic pair
                   mass; all rejected by verify). Kill:
                   bucket_star_cap — oversized buckets contribute
                   anchor-star candidates, linear in K.
* near_dup_family— K = n/10 GENUINE near-dups of one base doc
                   (pairwise jaccard ~0.8): oversized buckets of
                   distinct texts the collapse gate cannot touch.
                   Kill: bucket_star_cap again — and the connected
                   component is PRESERVED (members verify against
                   the anchor), pinned by tests/test_dedup_skew_cap.

Also runs simhash_near_dup_pairs (star) over the template corpus:
the pigeonhole chunk join has no sub-threshold s-curve (chunk
equality is exact on 16 fingerprint bits), so its candidate mass is
expected ~linear on this shape — measured here rather than assumed.

Per configuration: wall seconds, shuffle-write + input bytes (Spark
UI REST), LSH candidate count, verified/output pair count. Uncapped
template runs only at the two smallest sizes (the quadratic blowup
is the point, not a 10-minute bench). One untimed warmup at the
smallest n; min-of-1 per point (cross-n growth is the claim).

Metric caveat: CANDIDATE COUNT is the scale-honest primary metric.
At bench-scale n the banded relation fits a broadcast join, and a
pair (a,b) is then generated only in a's stream partition — the
distinct dedups partition-locally and the uncapped path can report
near-ZERO shuffle bytes while doing quadratic CPU in the join.
Shuffle bytes become faithful only past the broadcast threshold
(where a real cluster would live); candidate count is faithful at
every scale.

Usage: python bench_dedup_skew.py [sizes...] (default 20000 80000 320000)
Writes BENCH_DEDUP_SKEW.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time


class _ShuffleMeter:
    def __init__(self, spark):
        import urllib.request

        self._url = spark.sparkContext.uiWebUrl
        self._req = urllib.request
        app = json.loads(
            self._req.urlopen(f"{self._url}/api/v1/applications").read()
        )
        self._app_id = app[0]["id"]

    def _stages(self):
        data = json.loads(
            self._req.urlopen(
                f"{self._url}/api/v1/applications/{self._app_id}/stages"
                "?status=complete"
            ).read()
        )
        return {
            (s["stageId"], s["attemptId"]): (
                s.get("shuffleWriteBytes", 0),
                s.get("inputBytes", 0),
            )
            for s in data
        }

    def measure(self, fn):
        before = self._stages()
        t0 = time.perf_counter()
        out = fn()
        el = time.perf_counter() - t0
        after = self._stages()
        new = [v for k, v in after.items() if k not in before]
        evicted = [k for k in before if k not in after]
        if evicted:
            import sys as _sys

            print(
                f"WARN _ShuffleMeter: {len(evicted)} stages evicted "
                "from the UI store during the measured block — "
                "shuffle/input bytes undercounted (raise "
                "spark.ui.retainedStages on a FRESH session)",
                file=_sys.stderr,
            )
        return {
            "wall_s": round(el, 3),
            "shuffle_mb": round(sum(v[0] for v in new) / 2**20, 2),
            "input_mb": round(sum(v[1] for v in new) / 2**20, 2),
            "out": out,
        }


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    sizes = [int(a) for a in sys.argv[1:]] or [20_000, 80_000, 320_000]

    from pyspark.sql import functions as F

    from datasette_upload_csvs_spark.operators import dedup, graph
    from datasette_upload_csvs_spark.session import get_spark

    spark = get_spark(
        app_name="bench-dedup-skew",
        # UI-REST shuffle meter: its measure window must out-live a
        # stage block, so undo ENGINE_CONFS' bounded stage retention
        extra_confs={"spark.ui.retainedStages": "20000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    meter = _ShuffleMeter(spark)

    def uniq(prefix, n_tok=25):
        return F.concat_ws(" ", F.array(*[
            F.concat(F.lit(f"{prefix}{j}x"), F.col("id").cast("string"))
            for j in range(n_tok)
        ]))

    def exact_family(n):
        dup_text = " ".join(f"dup{j}" for j in range(25))
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(F.pmod("id", F.lit(2)) == 0, F.lit(dup_text))
            .otherwise(uniq("e")).alias("text"),
        )

    def template_family(n):
        tmpl = " ".join(f"tmpl{j}" for j in range(40))
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.pmod("id", F.lit(2)) == 0,
                F.concat(F.lit(tmpl + " "), uniq("u", 12)),
            ).otherwise(uniq("v")).alias("text"),
        )

    def near_dup_family(n):
        # K = n/10 one-token mutations of a 30-token base doc
        base_toks = [f"fam{j:02d}" for j in range(30)]
        base = " ".join(base_toks)
        k = n // 10
        fam = spark.range(k).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") == 0, F.lit(base)).otherwise(
                F.concat(
                    F.lit(" ".join(base_toks[:-1]) + " "),
                    F.concat(F.lit("mut"), F.col("id").cast("string")),
                )
            ).alias("text"),
        )
        bg = spark.range(k, n).select(
            F.col("id").alias("doc_id"), uniq("b").alias("text")
        )
        return fam.unionByName(bg)

    def lsh_candidates(docs, cap):
        sets = dedup._hash_shingle_frame(docs, "text", "doc_id", 3)
        sig = dedup._signatures_from_hashes(sets, "doc_id", 128)
        return dedup.minhash_lsh_candidates(
            sig, "doc_id", bucket_star_cap=cap
        ).count()

    def groups_pipeline(docs, cap):
        pairs = dedup.minhash_near_dup_pairs(
            docs, threshold=0.7, pair_mode="star", bucket_star_cap=cap
        ).select("id_a", "id_b")
        cc = graph.connected_components(pairs)
        return cc.count()

    def simhash_pipeline(docs):
        return dedup.simhash_near_dup_pairs(
            docs, max_hamming=3, pair_mode="star"
        ).count()

    results = []

    def record(shape, n, config, fn):
        m = meter.measure(fn)
        spark.catalog.clearCache()
        row = {"shape": shape, "n": n, "config": config, **m}
        row["result"] = row.pop("out")
        results.append(row)
        print(json.dumps(row), file=sys.stderr)

    # warmup, untimed
    w = template_family(2000)
    lsh_candidates(w, None)
    groups_pipeline(w, 256)
    simhash_pipeline(w)
    spark.catalog.clearCache()

    for n in sizes:
        # exact family: collapse-gate kill (default path)
        record("exact_family", n, "collapse+star",
               lambda n=n: groups_pipeline(exact_family(n), None))
        # template family: candidates capped vs uncapped
        record("template_family", n, "cand_capped256",
               lambda n=n: lsh_candidates(template_family(n), 256))
        if n <= sizes[0]:
            record("template_family", n, "cand_uncapped",
                   lambda n=n: lsh_candidates(template_family(n), None))
        record("template_family", n, "groups_capped256",
               lambda n=n: groups_pipeline(template_family(n), 256))
        # near-dup family: capped pipeline (groups preserved — see
        # tests/test_dedup_skew_cap.py for the equality pin)
        record("near_dup_family", n, "groups_capped256",
               lambda n=n: groups_pipeline(near_dup_family(n), 256))
        if n <= sizes[0]:
            record("near_dup_family", n, "groups_uncapped",
                   lambda n=n: groups_pipeline(near_dup_family(n), None))
        # simhash pigeonhole on the template shape: no s-curve —
        # expected ~linear, measured not assumed
        record("template_family", n, "simhash_star",
               lambda n=n: simhash_pipeline(template_family(n)))

    # one half-scale uncapped template point for the growth exponent
    half = sizes[0] // 4
    record("template_family", half, "cand_uncapped",
           lambda: lsh_candidates(template_family(half), None))

    out = {"metric": "dedup_adversarial_skew", "sizes": sizes,
           "results": results}
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DEDUP_SKEW.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
