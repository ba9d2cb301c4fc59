#!/usr/bin/env python
"""Multi-million-doc scale legs for the streaming history probes
(r14 VERDICT items 1-2).

Round 14 landed the fused single-long probe key (semi_prune_fused)
on all five history probes but A/B'd it end-to-end only on near_dup
(BENCH_ND_PROBE_AB). This harness files the missing legs — ann,
phash, wide_fp, funnel exact-gate — against persisted ≥2M-doc
histories, and doubles as the task-time A/B rig for the nd_cand
cap-stage decision (survivor materialization vs status quo vs the
rejected counter-table).

Protocol (bench_nd_cap_ab's, generalized):

  --op X --build N D [--wh DIR] : N epochs × D docs of the standard
      adversary mix (recurring sub-threshold family + unique
      background + exact dups) via the op's real epoch function,
      then a major fold to base. Run once per op.
  --op X --probe K --arm A      : re-register the persisted tables,
      run K probe epochs (26k docs), print per-epoch wall + REST
      task-time attribution (executorRunTime / executorCpuTime over
      the probe's own stages) + the last epoch's stage meter where
      the op supports one. Arms:
        fused     — HEAD (single-long fused probe key)
        composite — r13 form: left-semi on the real key columns
                    (monkeypatched; measures what the fused key buys)
        ckpt      — fused + eager localCheckpoint of the semi
                    SURVIVORS, so the cap/anti consumers read one
                    materialization instead of re-deriving the
                    history scan+semi per subtree (the nd_cand
                    duplicate-subtree lever, measured in TASK-TIME
                    per the r14 wash caveat)

  Each --probe run APPENDS its epochs to the store; for identical
  history across arms, copy the built wh per arm (the outer runner
  does) or interleave arms and file history_rows per run (printed).

  --cpus N sets $SPARK_GRAFT_CPUS before the session is built —
  the saturation leg runs the same probes at 8 cores, where
  duplicate subtrees can no longer overlap on idle capacity.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

PREFIX = "ps"


def _rest(spark, path):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/{path}"
    ) as r:
        return json.load(r)


def _mk_spark(wh):
    from datasette_upload_csvs_spark.session import get_spark

    spark = get_spark(
        app_name="bench-probe-scale",
        warehouse_dir=wh,
        extra_confs={
            "spark.ui.retainedStages": "8000",
            "spark.ui.retainedJobs": "8000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _register(spark, wh, tables):
    for name in tables:
        p = os.path.join(wh, name)
        if not os.path.isdir(p):
            continue
        try:
            df = spark.read.parquet(p)
        except Exception:
            continue  # empty state dir (e.g. a pairs table with no
            # emitted pairs yet) — the epoch recreates it on write
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name != "_batch_id"
        )
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({cols}, `_batch_id` INT) "
            f"USING parquet PARTITIONED BY (`_batch_id`) "
            f"LOCATION 'file:{p}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {name}")


# ---------------------------------------------------------------- corpora
# The standard adversary mix (same shape as bench_nd_cap_ab / the
# r13/r14 xover legs): ~10% recurring sub-threshold template family,
# unique background, a small exact-dup family.

def _text_batch(spark, ep: int, n_docs: int):
    from pyspark.sql import functions as F

    stop = "the and for with that this from "
    tmpl = " ".join(f"tmpl{j}" for j in range(30))
    k_fam = max(200, n_docs // 10)
    k_dup = 50
    base = ep * 1_000_000
    fam = spark.range(k_fam).select(
        (F.lit(base) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit(stop + tmpl + " "),
            F.concat_ws(" ", F.array(*[
                F.concat(F.lit(f"u{j}x"),
                         (F.lit(base) + F.col("id")).cast("string"))
                for j in range(12)
            ])),
        ).alias("text"),
    )
    uniq = spark.range(n_docs - k_fam - k_dup).select(
        (F.lit(base + 400_000) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit(stop),
            F.concat_ws(" ", F.array(*[
                F.concat(F.lit(f"v{j}w"),
                         (F.lit(base + 400_000) + F.col("id"))
                         .cast("string"))
                for j in range(20)
            ])),
        ).alias("text"),
    )
    dup_text = stop + " ".join(f"dupXt{j}" for j in range(25))
    dups = spark.range(k_dup).select(
        (F.lit(base + 900_000) + F.col("id")).alias("doc_id"),
        F.lit(dup_text).alias("text"),
    )
    return fam.unionByName(uniq).unionByName(dups)


def _vec_batch(spark, ep: int, n_docs: int):
    """(vec_id, embedding float[64]): 10% family vectors drawn from
    200 FIXED vectors (recur every epoch — the accumulated-family
    adversary), 90% unique; all deterministic in the ids."""
    from pyspark.sql import functions as F

    k_fam = max(200, n_docs // 10)
    base = ep * 1_000_000

    def vec(seed_col):
        return F.expr(
            "transform(sequence(0, 63), i -> "
            f"cast(pmod(xxhash64({seed_col} * 64 + i), 2000) / 1000.0 "
            "- 1.0 as float))"
        )

    fam = spark.range(k_fam).select(
        (F.lit(base) + F.col("id")).alias("vec_id"),
        vec("pmod(id, 200) + 7000000").alias("embedding"),
    )
    uniq = spark.range(n_docs - k_fam).select(
        (F.lit(base + 400_000) + F.col("id")).alias("vec_id"),
        vec(f"id + {base + 400_000}").alias("embedding"),
    )
    return fam.unionByName(uniq)


def _media_batch(spark, ep: int, n_docs: int):
    """(media_id, payload binary): 10% family payloads from 200 fixed
    byte strings (identical dhash across epochs), 90% unique."""
    from pyspark.sql import functions as F

    k_fam = max(200, n_docs // 10)
    base = ep * 1_000_000

    def payload(seed_col):
        return F.expr(
            f"unhex(concat(md5(cast({seed_col} as string)), "
            f"md5(cast({seed_col} + 17 as string)), "
            f"md5(cast({seed_col} + 34 as string))))"
        )

    fam = spark.range(k_fam).select(
        (F.lit(base) + F.col("id")).alias("media_id"),
        payload("pmod(id, 200) + 7000000").alias("payload"),
    )
    uniq = spark.range(n_docs - k_fam).select(
        (F.lit(base + 400_000) + F.col("id")).alias("media_id"),
        payload(f"id + {base + 400_000}").alias("payload"),
    )
    return fam.unionByName(uniq)


# ------------------------------------------------------------------- ops

def _op_config(op):
    """(batch_fn, epoch_runner, tables) per op. epoch_runner(spark,
    batch_df, epoch) runs ONE maintenance epoch with cap='auto'
    (the production configuration the funnel uses)."""
    if op == "near_dup":
        from datasette_upload_csvs_spark.streaming.near_dup_stream import (
            near_dup_epoch,
        )

        def run(spark, b, ep, on_stage=None):
            return near_dup_epoch(
                b, ep, f"{PREFIX}_pairs", f"{PREFIX}_index",
                bucket_star_cap="auto", on_stage=on_stage,
            )

        return _text_batch, run, [
            f"{PREFIX}_pairs", f"{PREFIX}_index", f"{PREFIX}_index__sets",
        ]
    if op == "ann":
        from datasette_upload_csvs_spark.streaming.ann_stream import (
            ann_epoch,
        )

        def run(spark, b, ep, on_stage=None):
            return ann_epoch(
                b, ep, f"{PREFIX}_pairs", f"{PREFIX}_index",
                threshold=0.99, bucket_star_cap="auto",
            )

        return _vec_batch, run, [
            f"{PREFIX}_pairs", f"{PREFIX}_index", f"{PREFIX}_index__vecs",
        ]
    if op == "phash":
        from datasette_upload_csvs_spark.streaming.phash_stream import (
            phash_epoch,
        )

        def run(spark, b, ep, on_stage=None):
            return phash_epoch(
                b, ep, f"{PREFIX}_pairs", f"{PREFIX}_fp",
                max_hamming=2, bucket_star_cap="auto",
            )

        return _media_batch, run, [f"{PREFIX}_pairs", f"{PREFIX}_fp"]
    if op == "wide_fp":
        from datasette_upload_csvs_spark.streaming.wide_fp_stream import (
            wide_fp_epoch,
        )

        def run(spark, b, ep, on_stage=None):
            return wide_fp_epoch(
                b, ep, f"{PREFIX}_pairs", f"{PREFIX}_fp",
                max_hamming=3, bucket_star_cap="auto",
            )

        return _text_batch, run, [f"{PREFIX}_pairs", f"{PREFIX}_fp"]
    if op == "funnel":
        from datasette_upload_csvs_spark.streaming.funnel_stream import (
            funnel_epoch,
        )

        def run(spark, b, ep, on_stage=None):
            return funnel_epoch(
                b, ep, PREFIX, None, bucket_star_cap="auto",
                on_stage=on_stage,
            )

        return _text_batch, run, [
            f"{PREFIX}_docs", f"{PREFIX}_pairs", f"{PREFIX}_index",
            f"{PREFIX}_index__sets",
        ]
    sys.exit(f"unknown --op {op}")


# ------------------------------------------------------------------ arms

def _apply_arm(arm):
    """Monkeypatch semi_prune_fused for the chosen arm. near_dup,
    funnel and ann import the symbol from near_dup_stream at call
    time; phash and wide_fp share fp_probe_epoch, which binds it at
    wide_fp_stream's import — so both module attributes are set."""
    from datasette_upload_csvs_spark.streaming import (
        near_dup_stream,
        wide_fp_stream,
    )
    from pyspark.sql import functions as F

    if arm == "fused":
        return
    orig = near_dup_stream.semi_prune_fused
    if arm == "composite":
        def patched(hist, keys_src, key_cols, broadcast_probe,
                    materialize=False):
            pk = keys_src.select(*key_cols).distinct()
            if broadcast_probe:
                pk = F.broadcast(pk)
            out = hist.join(pk, list(key_cols), "left_semi")
            return out.localCheckpoint(eager=True) if materialize else out
    elif arm == "ckpt":
        def patched(hist, keys_src, key_cols, broadcast_probe,
                    materialize=False):
            return orig(
                hist, keys_src, key_cols, broadcast_probe, materialize=True
            )
    else:
        sys.exit(f"unknown --arm {arm}")
    for mod in (near_dup_stream, wide_fp_stream):
        mod.semi_prune_fused = patched


def main() -> None:
    args = sys.argv[1:]

    def _opt(name, default=None):
        return args[args.index(name) + 1] if name in args else default

    op = _opt("--op")
    if op is None:
        sys.exit("--op {near_dup,ann,phash,wide_fp,funnel} required")
    os.environ["SPARK_GRAFT_CPUS"] = _opt("--cpus", "32")
    wh = _opt("--wh", f"/root/probe_wh/{op}")
    global PREFIX
    # near_dup reuses the r14 2.08M-doc history at /root/nd_ab_wh
    # (bench_nd_cap_ab's nd_ab_* table names) instead of rebuilding
    PREFIX = _opt("--prefix", "nd_ab" if op == "near_dup" else PREFIX)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    batch_fn, run_epoch, tables = _op_config(op)

    if "--build" in args:
        i = args.index("--build")
        n_epochs, docs = int(args[i + 1]), int(args[i + 2])
        if os.path.isdir(wh):
            shutil.rmtree(wh)
        os.makedirs(wh)
        spark = _mk_spark(wh)
        from datasette_upload_csvs_spark.streaming.epoch_write import (
            compact_state_table,
        )

        for ep in range(n_epochs):
            t0 = time.perf_counter()
            r = run_epoch(spark, batch_fn(spark, ep, docs), ep)
            spark.catalog.clearCache()
            print(
                f"# build {op} ep{ep}: {time.perf_counter()-t0:.1f}s {r}",
                file=sys.stderr, flush=True,
            )
        for t in tables:
            if spark.catalog.tableExists(t):
                compact_state_table(spark, t, n_epochs)
        idx = tables[1] if op != "funnel" else f"{PREFIX}_index"
        n = spark.table(idx).count()
        print(json.dumps({
            "op": op, "built_epochs": n_epochs, "docs_per_epoch": docs,
            "index_rows": n,
        }))
        return

    if "--probe" in args:
        k = int(args[args.index("--probe") + 1])
        arm = _opt("--arm", "fused")
        # ann's key space is n_tables×2^n_planes = 1024 (8-bit sign
        # patterns), so batch size sets in-batch bucket density
        # QUADRATICALLY — the realistic ann regime is smaller epochs
        # accumulating history (see OPTIMIZATION_r15.md); text/media
        # probes keep the nd protocol's 26k
        probe_docs = int(
            _opt("--probe-docs", "12500" if op == "ann" else "26000")
        )
        spark = _mk_spark(wh)
        _register(spark, wh, tables)
        _apply_arm(arm)
        # the store the fused-key probe actually scans: band index
        # (near_dup/ann), fingerprint store (phash/wide_fp), or the
        # docs hash history (funnel exact-gate)
        hist_table = {
            "near_dup": f"{PREFIX}_index",
            "ann": f"{PREFIX}_index",
            "phash": f"{PREFIX}_fp",
            "wide_fp": f"{PREFIX}_fp",
            "funnel": f"{PREFIX}_docs",
        }[op]
        n_hist = spark.table(hist_table).count()
        walls, task_ms, cpu_ms = [], [], []
        stage_rows = []

        def on_stage(ep, st, sec):
            stage_rows.append({"ep": ep, "stage": st, "s": round(sec, 3)})

        for j in range(k):
            ep = 9000 + j
            jobs_before = max(
                (jb["jobId"] for jb in _rest(spark, "jobs")), default=-1
            )
            t0 = time.perf_counter()
            run_epoch(
                spark, batch_fn(spark, ep, probe_docs), ep,
                on_stage=on_stage if j == k - 1 else None,
            )
            el = round(time.perf_counter() - t0, 3)
            spark.catalog.clearCache()
            jobs = [
                jb for jb in _rest(spark, "jobs")
                if jb["jobId"] > jobs_before
            ]
            sids = {s for jb in jobs for s in jb["stageIds"]}
            trun = tcpu = 0
            for s in _rest(spark, "stages?status=complete"):
                if s["stageId"] in sids:
                    trun += s.get("executorRunTime", 0)
                    tcpu += s.get("executorCpuTime", 0) // 1_000_000
            walls.append(el)
            task_ms.append(trun)
            cpu_ms.append(tcpu)
            print(
                f"# {op}/{arm} ep{ep}: wall {el}s task {trun/1e3:.1f}s "
                f"cpu {tcpu/1e3:.1f}s",
                file=sys.stderr, flush=True,
            )
        print(json.dumps({
            "op": op, "arm": arm, "cpus": os.environ["SPARK_GRAFT_CPUS"],
            "history_rows": n_hist, "walls": walls,
            "task_time_s": [round(t / 1e3, 1) for t in task_ms],
            "cpu_time_s": [round(t / 1e3, 1) for t in cpu_ms],
            "stages_last": stage_rows,
        }))
        return

    sys.exit("usage: --op X (--build N D | --probe K --arm A) "
             "[--wh DIR] [--cpus N]")


if __name__ == "__main__":
    main()
