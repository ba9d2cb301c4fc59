"""128-bit fingerprint tier (round-9 VERDICT item 1): simhash128 and
fingerprint_hamming_pairs_wide — exact recall at any width, wider
(more selective) chunk keys at the same radius, and the recall-
contract validation ADVICE asked for.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from datasette_upload_csvs_spark.operators import dedup

SPLIT = re.compile(r"[^0-9A-Za-z_]+")


def _py_simhash128(text: str) -> tuple[int, int]:
    """Pure-Python recomputation of the portable 128-bit SimHash —
    the executable spec the Spark implementation must match."""
    toks = [t for t in SPLIT.split(text) if t]
    sums = [0] * 128
    for t in toks:
        hx = hashlib.md5(t.encode()).hexdigest()
        lo = sum(int(hx[16 + 2 * j:18 + 2 * j], 16) << (8 * j) for j in range(8))
        hi = sum(int(hx[0 + 2 * j:2 + 2 * j], 16) << (8 * j) for j in range(8))
        for i in range(64):
            sums[i] += 1 if (lo >> i) & 1 else -1
            sums[64 + i] += 1 if (hi >> i) & 1 else -1
    def word(bits):
        v = 0
        for i, s in enumerate(bits):
            if s > 0:
                v |= 1 << i
        return v - (1 << 64) if v >= (1 << 63) else v
    return word(sums[:64]), word(sums[64:])


def test_simhash128_matches_python_spec(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "a b c d e f g h i j k l m n o p"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["fp0"], r["fp1"])
           for r in dedup.simhash128(df).collect()}
    for doc_id, text in rows:
        assert got[doc_id] == _py_simhash128(text), doc_id


def test_simhash128_fast_word0_equals_simhash(spark, sf_dir):
    """portable=False word0 uses xxhash64(tok) — identical to the
    64-bit simhash() fingerprint, so the wide tier strictly extends
    the hot path rather than forking it."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    wide = {r["doc_id"]: r["fp0"]
            for r in dedup.simhash128(docs, portable=False).collect()}
    narrow = {r["doc_id"]: r["simhash64"]
              for r in dedup.simhash(docs).collect()}
    assert wide == narrow


def _brute_pairs(fp_rows, max_hamming):
    out = set()
    for i, (ida, a0, a1) in enumerate(fp_rows):
        for idb, b0, b1 in fp_rows[i + 1:]:
            lo, hi = (ida, idb) if ida < idb else (idb, ida)
            h = bin((a0 ^ b0) & (2**64 - 1)).count("1") + bin(
                (a1 ^ b1) & (2**64 - 1)
            ).count("1")
            if h <= max_hamming:
                out.add((lo, hi, h))
    return out


@pytest.mark.parametrize("n_chunks", [2, 4, 8])
def test_wide_pairs_equal_brute_force(spark, sf_dir, n_chunks):
    """Exact recall at hamming ≤ n_chunks−1 holds at 128-bit width
    for every chunking, including the cpw=1 whole-word edge case
    (n_chunks=2)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    fp = dedup.simhash128(docs).persist()
    rows = [(r["doc_id"], r["fp0"], r["fp1"]) for r in fp.collect()]
    max_h = n_chunks - 1
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "doc_id", max_hamming=max_h,
            n_chunks=n_chunks,
        ).collect()
    }
    assert got == _brute_pairs(rows, max_h)
    spark.catalog.clearCache()


def test_wide_star_clique_connectivity(spark):
    """Star mode over the wide tier: K−1 intra edges per exact-dup
    group, same vertex set as clique (the gate needs ≥1024 dup rows
    to trip, so force it with a big planted group)."""
    dup = spark.range(1200).select(
        F.col("id").alias("doc_id"), F.lit("same text body here").alias("text")
    )
    fill = spark.range(300).select(
        (F.col("id") + 10_000).alias("doc_id"),
        F.concat(F.lit("unique words "), F.col("id").cast("string"),
                 F.lit(" tail "), (F.col("id") * 7919).cast("string")).alias("text"),
    )
    fp = dedup.simhash128(dup.unionByName(fill))
    star = dedup.fingerprint_hamming_pairs_wide(
        fp, ["fp0", "fp1"], "doc_id", max_hamming=3, pair_mode="star"
    )
    intra = star.filter(F.col("id_a") < 10_000).count()
    assert intra == 1199  # K−1, never C(K,2)


def test_wide_validation(spark):
    fp = spark.createDataFrame([(1, 5, 7)], "doc_id long, fp0 long, fp1 long")
    with pytest.raises(ValueError):  # lossy without opt-in
        dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "doc_id", max_hamming=4, n_chunks=4
        )
    with pytest.raises(ValueError):  # cpw=3 does not divide 64
        dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "doc_id", n_chunks=6
        )
    with pytest.raises(ValueError):  # chunks not a multiple of words
        dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "doc_id", n_chunks=5, max_hamming=1
        )
    with pytest.raises(ValueError):
        dedup.fingerprint_hamming_pairs_wide(
            fp, ["fp0", "fp1"], "doc_id", pair_mode="chain"
        )
    # explicit opt-in keeps the documented lossy screen reachable
    assert dedup.fingerprint_hamming_pairs_wide(
        fp, ["fp0", "fp1"], "doc_id", max_hamming=4, n_chunks=4,
        allow_lossy=True,
    ).count() == 0


def test_narrow_lossy_validation(spark):
    """ADVICE item 1: the 64-bit entry point enforces the same
    recall contract."""
    fp = spark.createDataFrame([(1, 5)], "media_id long, dhash64 long")
    with pytest.raises(ValueError):
        dedup.fingerprint_hamming_pairs(
            fp, "dhash64", "media_id", max_hamming=4, n_chunks=4
        )
    assert dedup.fingerprint_hamming_pairs(
        fp, "dhash64", "media_id", max_hamming=4, n_chunks=4,
        allow_lossy=True,
    ).count() == 0
    # n_chunks=1 keys on the whole word: exact at radius 0 only
    assert dedup.fingerprint_hamming_pairs(
        fp, "dhash64", "media_id", max_hamming=0, n_chunks=1
    ).count() == 0
    with pytest.raises(ValueError):
        dedup.fingerprint_hamming_pairs(
            fp, "dhash64", "media_id", max_hamming=1, n_chunks=1
        )
    with pytest.raises(ValueError):  # 3 chunks cannot split 64 bits
        dedup.fingerprint_hamming_pairs(
            fp, "dhash64", "media_id", max_hamming=1, n_chunks=3
        )


def test_simhash_pairs_lossy_validation(spark):
    """r9 ADVICE: simhash_near_dup_pairs (fixed 4-chunk bucketing)
    enforces the same recall contract as the fingerprint entry
    points — max_hamming >= 4 raises unless allow_lossy opts into
    the documented lossy screen."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(docs, max_hamming=4)
    with pytest.raises(ValueError):
        dedup.simhash_near_dup_pairs(docs, max_hamming=8, portable=True)
    got = dedup.simhash_near_dup_pairs(
        docs, max_hamming=8, portable=True, allow_lossy=True
    ).collect()
    # identical texts → hamming 0 pair survives the lossy screen
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 0)]
    spark.catalog.clearCache()


def test_wide_fp_epoch_chunk_validation(spark, tmp_path):
    """r9 ADVICE (medium): wide_fp_epoch rejects n_chunks values
    that would make dedup._fp_chunk_keys emit fewer chunks than
    nominal (n_chunks=3 -> cpw=1 -> only 2 chunks actually emitted)
    instead of silently losing recall against the nominal guard."""
    from datasette_upload_csvs_spark.streaming import (
        phash_stream,
        wide_fp_stream,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    with pytest.raises(ValueError):  # not a multiple of 2 words
        wide_fp_stream.wide_fp_epoch(
            docs, 0, "wfp_v_pairs", "wfp_v_fp", max_hamming=2, n_chunks=3
        )
    with pytest.raises(ValueError):  # cpw=3 does not divide 64
        wide_fp_stream.wide_fp_epoch(
            docs, 0, "wfp_v_pairs", "wfp_v_fp", max_hamming=2, n_chunks=6
        )
    with pytest.raises(ValueError):  # lossy radius still raises
        wide_fp_stream.wide_fp_epoch(
            docs, 0, "wfp_v_pairs", "wfp_v_fp", max_hamming=4, n_chunks=4
        )
    # phash shares the probe epoch: its fixed 4x16-bit chunking is
    # recall-lossy from max_hamming=4 on
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    with pytest.raises(ValueError):
        phash_stream.phash_epoch(
            media, 0, "ph_v_pairs", "ph_v_fp", max_hamming=4
        )
    # the drains apply the same rule before any query starts (the
    # source does not exist, so a started stream would fail
    # differently)
    with pytest.raises(ValueError):
        phash_stream.maintain_phash_stream(
            spark, "/nonexistent", "media_id bigint, payload binary",
            "ph_v_pairs", "ph_v_fp", max_hamming=4,
        )
    assert spark.streams.active == []
    with pytest.raises(ValueError):
        wide_fp_stream.maintain_wide_fp_stream(
            spark, "/nonexistent", "doc_id bigint, text string",
            "wfp_v_pairs", "wfp_v_fp", n_chunks=3,
        )
    assert spark.streams.active == []


def test_fast_groups_contain_exact_dups(spark, sf_dir):
    """The xxhash64 hot-path dup-groups twin (bench-only,
    bench.py:_extra_queries) is NOT group-identical to the portable
    entry on near-dups — hamming between different texts depends on
    the bit source (measured at sf0.001: 60 grouped vertices portable
    vs 46 fast). What IS invariant: identical-TEXT docs have hamming
    0 under ANY bit source, so every planted exact-dup class must
    land inside one group for both tiers."""
    from datasette_upload_csvs_spark.operators import graph

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # plant exact dups: every 7th doc duplicated under doc_id+10^7
    twins = docs.filter(F.pmod("doc_id", F.lit(7)) == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000)
    )
    corpus = docs.unionByName(twins)
    planted = [r["doc_id"] for r in docs.collect() if r["doc_id"] % 7 == 0]
    for portable in (True, False):
        pairs = dedup.simhash_near_dup_pairs(
            corpus, max_hamming=3, portable=portable, pair_mode="star"
        ).select("id_a", "id_b")
        comp = {
            r["vertex"]: r["component"]
            for r in graph.connected_components(pairs).collect()
        }
        for d in planted:
            assert comp.get(d, d) == comp.get(d + 10_000_000, d + 10_000_000), (
                portable,
                d,
            )
        spark.catalog.clearCache()


def test_three_word_fingerprints_generic(spark):
    """fingerprint_hamming_pairs_wide is generic over ANY word count
    (192-bit = 3 words here, n_chunks=6 -> 32-bit keys): exact recall
    at hamming <= 5 against a brute-force join over synthetic
    fingerprints."""
    import random

    rng = random.Random(7)

    def signed(v):  # two's-complement wrap so bit-63 words round-trip
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = []
    base = [rng.getrandbits(64) for _ in range(3)]
    for i in range(60):
        if i % 3 == 0:  # near-dup of base: flip <=5 bits across words
            w = list(base)
            for _ in range(rng.randint(0, 5)):
                j = rng.randrange(3)
                w[j] ^= 1 << rng.randrange(64)
            rows.append((i, *[signed(x) for x in w]))
        else:
            rows.append(
                (i, *[signed(rng.getrandbits(64)) for _ in range(3)])
            )
    fp = spark.createDataFrame(
        rows, "doc_id long, f0 long, f1 long, f2 long"
    )
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.fingerprint_hamming_pairs_wide(
            fp, ["f0", "f1", "f2"], "doc_id", max_hamming=5, n_chunks=6
        ).collect()
    }
    brute = set()
    for i, (ida, *wa) in enumerate(rows):
        for idb, *wb in rows[i + 1:]:
            h = sum(
                bin((a ^ b) & (2**64 - 1)).count("1")
                for a, b in zip(wa, wb)
            )
            if h <= 5:
                lo, hi = (ida, idb) if ida < idb else (idb, ida)
                brute.add((lo, hi, h))
    assert got == brute and len(brute) >= 10


def test_simhash_wide_radius7_exact_at_256_bits(spark, sf_dir):
    """The radius story end-to-end: hamming <= 7 exact recall needs 8
    chunks; at 256 bits (n_words=4) the keys stay 32-bit. Bucketed
    join over simhash_wide fingerprints equals brute force on the
    concatenated 256-bit hamming."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    fp = dedup.simhash_wide(docs, n_words=4, portable=False).persist()
    cols = ["fp0", "fp1", "fp2", "fp3"]
    rows = [tuple(r[c] for c in ["doc_id"] + cols) for r in fp.collect()]
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.fingerprint_hamming_pairs_wide(
            fp, cols, "doc_id", max_hamming=7, n_chunks=8
        ).collect()
    }
    brute = set()
    for i, (ida, *wa) in enumerate(rows):
        for idb, *wb in rows[i + 1:]:
            h = sum(
                bin((a ^ b) & (2**64 - 1)).count("1")
                for a, b in zip(wa, wb)
            )
            if h <= 7:
                lo, hi = (ida, idb) if ida < idb else (idb, ida)
                brute.add((lo, hi, h))
    assert got == brute
    spark.catalog.clearCache()


def test_simhash_wide_conventions(spark):
    """n_words=2 is bit-identical to simhash128 (portable AND fast);
    fast word0 == simhash(); portable words 2..3 come from the salted
    second digest (pure-python recomputation)."""
    import hashlib

    rows = [(0, "the quick brown fox jumps over the lazy dog"),
            (1, "pack my box with five dozen liquor jugs")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for portable in (True, False):
        wide = {r["doc_id"]: (r["fp0"], r["fp1"])
                for r in dedup.simhash_wide(
                    df, n_words=2, portable=portable).collect()}
        h128 = {r["doc_id"]: (r["fp0"], r["fp1"])
                for r in dedup.simhash128(df, portable=portable).collect()}
        assert wide == h128, portable

    def py_word(texts_tokens, digest_fn, half):
        sums = [0] * 64
        for t in texts_tokens:
            hx = digest_fn(t)
            off = 16 - 16 * half
            v = sum(int(hx[off + 2 * j:off + 2 * j + 2], 16) << (8 * j)
                    for j in range(8))
            for i in range(64):
                sums[i] += 1 if (v >> i) & 1 else -1
        out = 0
        for i, s in enumerate(sums):
            if s > 0:
                out |= 1 << i
        return out - (1 << 64) if out >= (1 << 63) else out

    got = {r["doc_id"]: (r["fp2"], r["fp3"])
           for r in dedup.simhash_wide(df, n_words=4).collect()}
    for doc_id, text in rows:
        toks = [t for t in SPLIT.split(text) if t]
        d1 = lambda t: hashlib.md5(f"w1:{t}".encode()).hexdigest()  # noqa: E731
        want = (py_word(toks, d1, 0), py_word(toks, d1, 1))
        assert got[doc_id] == want, doc_id

    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.simhash_wide(df, n_words=0)
