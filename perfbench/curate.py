"""curate: the analyst's read path plus the curation drain.

Closed loop, one client, over one seeded star schema (lineitem 60k
rows, documents 500):

* query op: one `__spark_entry__.queries()` entry, count(), then
  spark.catalog.clearCache(), as bench.py does. The entries span three
  tiers: relational, text, and the fixed-cost dedup tier. A pass runs
  every entry once.
* drain op: the curation corpus (the documents with doc_id mod 10 != 0)
  lands as seeded arrival parquet files, one per epoch, in the source
  directory of one checkpointed
  streaming.funnel_stream.run_curation_funnel_stream; a drain lands
  the next files and runs the stream until it has taken them. The
  doc_id mod 10 == 0 slice is the decontamination benchmark. The
  tiered schedule (compact_every=1, major_every=2) makes a minor fold
  before every odd epoch and a major one before every even one.
* fold op: funnel_stream_stages over the maintained state.

Set-up checks every entry against its oracle_sql() twin in DuckDB (the
cold query pass) and runs four warm-up count passes; beside them, on
two more threads, it runs pipeline.run_curation_funnel on the whole
corpus and a warm-up drain of the first two files. The timed round is
a query pass, a drain of the next file, a pass, a drain of the next
file, a pass, the fold and a pass; more passes follow until the time
given is up. Every query must return the checked row count, and the
fold must equal the batch funnel's stage counts.
"""

from __future__ import annotations

import itertools
import math
import os
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.run import median
from perfbench.trace import SparkRest, Tracer

RELATIONAL = ("q1_pricing_summary", "q6_revenue_change")
TEXT = ("text_tfidf_top_terms",)
FIXED_COST = ("dedup_containment",)
ENTRIES = RELATIONAL + TEXT + FIXED_COST
SCALE = 0.01
# count passes in set-up after the oracle pass, beside the drain:
# queries still speed up through ten passes
WARM_PASSES = 4
WARM_EPOCHS = 2  # arrival files, so epochs, of the warm-up drain
# the timed round: query passes spread over the whole round, between
# one-epoch drains, so both kinds of sample span the same minute of a
# host whose speed drifts by 15% from one 10 s to the next
ROUND = ("pass", "drain", "pass", "drain", "pass", "fold", "pass")
COMPACT_EVERY, MAJOR_EVERY = 1, 2
SCHEMA = "doc_id bigint, text string"
STAGES = ("prep", "exact_gate", "nd_sig", "nd_cand", "nd_verify_pairs",
          "nd_index_write", "nd_sets_write", "docs_write", "compact", "other")
_KEYS = (("jobs", "count"), ("stages", "count"), ("task_s", "s"),
         ("shuffle_mb", "MB"), ("driver_gap_s", "s"))
LAYER = {f"queries.{e}.{k}": u for e in ENTRIES for k, u in _KEYS}
LAYER.update({f"stream.{s}_s": "s" for s in STAGES})
LAYER.update({"stream.jobs_per_epoch": "count", "stream.cached_rdds": "count",
              "stream.epoch_drift": "ratio", "trace.op_overhead_s": "s",
              "trace.epoch_overhead_s": "s"})


def normalize(rows, columns) -> list[str]:
    """Column-name-sorted, order-insensitive canonical form (the
    comparison tests/test_oracle_parity.py makes)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.10g}"
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


def oracle_check(bench, queries, oracles, data: str) -> dict[str, int]:
    """Each entry's Spark result against its DuckDB twin; returns the
    checked row counts (-1 for an entry that failed)."""
    import duckdb

    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    spark = bench.spark
    want = {}
    for name in ENTRIES:
        sdf = queries[name](spark, data)
        got = [tuple(r) for r in sdf.collect()]
        res = con.execute(oracles[name])
        cols = [d[0] for d in res.description]
        exp = res.fetchall()
        ok = (sorted(sdf.columns) == sorted(cols)
              and normalize(got, sdf.columns) == normalize(exp, cols))
        bench.check(ok, f"{name} differs from its DuckDB oracle")
        want[name] = len(exp) if ok else -1
    con.close()
    return want


class Drain:
    """One drain's timings."""

    def __init__(self) -> None:
        self.marks: list[float] = []  # wall clock at drain start, then per epoch
        self.stage_s: dict[str, float] = defaultdict(float)
        self.cached: list[int] = []
        self.jobs: list[int] = []  # per epoch, filled in for a metered drain
        self.seconds = 0.0

    @property
    def epochs(self) -> list[float]:
        return [b - a for a, b in zip(self.marks, self.marks[1:])]


class Stream:
    """The checkpointed curation stream; each drain lands the next
    arrival files in its source directory and runs it until it has
    taken them."""

    def __init__(self, bench, arrivals: str, benchmark: str) -> None:
        self.bench, self.benchmark = bench, benchmark
        self.files = sorted(os.path.join(arrivals, f) for f in os.listdir(arrivals))
        self.src = bench.path("corpus", "stream")
        os.makedirs(self.src)

    def drain(self, n_files: int, metered: bool) -> Drain:
        from datasette_upload_csvs_spark.streaming.funnel_stream import (
            run_curation_funnel_stream)

        spark = self.bench.spark
        jsc = spark.sparkContext._jsc
        d = Drain()

        def on_epoch(_epoch: int) -> None:
            d.marks.append(time.time())
            if metered:
                d.cached.append(jsc.getPersistentRDDs().size())

        def on_stage(_epoch: int, stage: str, seconds: float) -> None:
            name = "compact" if stage.startswith("compact:") else stage
            d.stage_s[name if name in STAGES else "other"] += seconds

        for _ in range(n_files):
            f = self.files.pop(0)
            os.link(f, os.path.join(self.src, os.path.basename(f)))
        d.marks.append(time.time())
        t0 = time.perf_counter()
        run_curation_funnel_stream(
            spark, self.src, SCHEMA, benchmark=spark.read.parquet(self.benchmark),
            prefix="curation", checkpoint_dir=self.bench.path("ck"),
            compact_every=COMPACT_EVERY, major_every=MAJOR_EVERY,
            on_epoch=on_epoch, on_stage=on_stage if metered else None)
        d.seconds = time.perf_counter() - t0
        return d

    def fold(self) -> tuple[list, float]:
        from datasette_upload_csvs_spark.streaming.funnel_stream import (
            funnel_stream_stages)

        spark = self.bench.spark
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        stages = funnel_stream_stages(spark, "curation").stages
        took = time.perf_counter() - t0
        spark.catalog.clearCache()
        return stages, took


def batch_stages(spark, src: str, benchmark: str) -> list[tuple[str, int, int]]:
    from datasette_upload_csvs_spark.pipeline import run_curation_funnel

    stages, _, _ = run_curation_funnel(
        spark.read.parquet(src), benchmark=spark.read.parquet(benchmark))
    return [(s.name, s.n_docs, s.n_tokens) for s in stages]


def run(bench) -> dict[str, float]:
    import __spark_entry__ as entry

    spark = bench.start_spark()
    sc = spark.sparkContext
    data = bench.path("data")
    gen.star_schema(data, bench.seed, SCALE)
    n_files = WARM_EPOCHS + ROUND.count("drain") * (2 if bench.trace else 1)
    arrivals = gen.arrivals(bench.path("corpus"), f"{data}/documents.parquet", n_files)
    benchmark = bench.path("corpus", "benchmark.parquet")
    stream = Stream(bench, arrivals, benchmark)
    queries = entry.queries()
    tracer = bench.tracer = Tracer()
    bench.log("inputs generated")
    ops = itertools.count()
    want: dict[str, int] = {}  # checked row count per entry
    # per entry: latencies of untraced and traced timed passes
    times: dict[str, list[float]] = {n: [] for n in ENTRIES}
    traced_times: dict[str, list[float]] = {n: [] for n in ENTRIES}
    layer: dict[str, list[dict]] = {n: [] for n in ENTRIES}
    rest = SparkRest(sc) if bench.trace else None

    def query_pass(traced: bool, timed: bool = True) -> None:
        pass_ops, took = set(), {}
        for name in ENTRIES:
            i = next(ops)
            pass_ops.add(i)
            tracer.enabled, tracer.op = traced, i
            sc.setJobGroup(f"perfbench-{i}", name)
            t0 = time.perf_counter()
            with tracer.span(f"queries.{name}"):
                n = queries[name](spark, data).count()
                if timed:  # set-up's passes run beside a drain
                    spark.catalog.clearCache()
            took[name] = time.perf_counter() - t0
            tracer.enabled = False
            sc.setLocalProperty("spark.jobGroup.id", None)
            bench.check(n == want[name], f"{name}: {n} rows, want {want[name]}")
        bench.log(("traced " if traced else "") + "pass: "
                  + " ".join(f"{n}={t:.3f}" for n, t in took.items()))
        if not timed:
            return
        for name, t in took.items():
            (traced_times if traced else times)[name].append(t)
        if traced:  # read the jobs before later ops evict them
            snap = rest.snapshot()
            for name in ENTRIES:
                (w,) = tracer.windows(f"queries.{name}", pass_ops)
                layer[name].append(SparkRest.window(snap, *w))

    def drain(metered: bool, n_files: int = 1) -> Drain:
        d = stream.drain(n_files, metered)
        if metered:  # read the jobs before later ops evict them
            snap = rest.snapshot()
            d.jobs = [SparkRest.window(snap, a, b)["jobs"]
                      for a, b in zip(d.marks, d.marks[1:])]
        bench.check(len(d.epochs) == n_files, f"drain: {len(d.epochs)} epochs, want {n_files}")
        bench.log(("metered " if metered else "")
                  + f"drain: epochs {[round(e, 2) for e in d.epochs]}")
        return d

    # set-up, on three threads: the oracle check (the cold query pass)
    # and the warm-up count passes; the batch funnel; the warm-up drain.
    # JIT and codegen keep speeding up for several calls, so each kind
    # of op runs more than once before anything is timed. Nothing
    # clears the cache until the warm-up is done.
    def warm_queries() -> None:
        want.update(oracle_check(bench, queries, entry.oracle_sql(), data))
        bench.log("oracle check done")
        for _ in range(WARM_PASSES):
            query_pass(False, timed=False)

    def batch() -> list:
        stages = batch_stages(spark, arrivals, benchmark)
        bench.check(bool(stages) and stages[0][1] > 0, "batch funnel is empty")
        bench.log("batch funnel done")
        return stages

    with ThreadPoolExecutor(3) as pool:
        warm = [pool.submit(warm_queries), pool.submit(batch), pool.submit(drain, False, WARM_EPOCHS)]
        want_stages = [f.result() for f in warm][1]
    spark.catalog.clearCache()
    bench.end_setup()

    # the timed round, then query passes until the time given is up; a
    # traced run pairs every untraced op with its traced twin, in turn
    # first and second, and reports the difference as the tracing
    # overhead
    plain: list[Drain] = []
    metered: list[Drain] = []
    fold_s = 0.0
    t_end = time.perf_counter() + bench.seconds
    steps = iter(ROUND)
    flips = defaultdict(itertools.count)  # twin order flips per kind of op
    for k in itertools.count():
        step = next(steps, "pass")
        if step == "pass" and k >= len(ROUND) and time.perf_counter() >= t_end:
            break
        if step == "fold":
            stages, fold_s = stream.fold()
            bench.check(stages == want_stages,
                        f"fold stages {stages}, batch funnel {want_stages}")
            bench.log(f"fold {fold_s:.2f}s")
            continue
        twins = ((True, False) if next(flips[step]) % 2 else (False, True)) if bench.trace else (False,)
        for traced in twins:
            if step == "pass":
                query_pass(traced)
            else:
                (metered if traced else plain).append(drain(traced))
    if not bench.trace:
        per_entry = [median(ts) for ts in times.values()]
        return {
            "op_p50_s": median(per_entry),
            "heavy_p50_s": sum(d.seconds for d in plain) + fold_s,
            "set_s": sum(per_entry),
        }
    return _layers(layer, traced_times, times, metered, plain)


def _layers(layer, traced_times, times, metered: list[Drain],
            plain: list[Drain]) -> dict[str, float]:
    out = {f"queries.{n}.{k}": sum(w[k] for w in ws) / max(1, len(ws))
           for n, ws in layer.items() for k, _ in _KEYS}
    out["trace.op_overhead_s"] = sum(
        median(traced_times[n]) - median(times[n]) for n in ENTRIES) / len(ENTRIES)
    ep = [e for d in metered for e in d.epochs]
    n = max(1, len(ep))
    cached = [c for d in metered for c in d.cached]
    out.update({f"stream.{s}_s": sum(d.stage_s[s] for d in metered) / n for s in STAGES})
    # the timed epochs in drain order; each half holds one major and one
    # minor compaction, one metered epoch and one unmetered
    timed = [e for d in sorted(plain + metered, key=lambda d: d.marks[0]) for e in d.epochs]
    half = len(timed) // 2
    out.update({
        "stream.jobs_per_epoch": sum(j for d in metered for j in d.jobs) / n,
        "stream.cached_rdds": sum(cached) / max(1, len(cached)),
        "stream.epoch_drift": sum(timed[-half:]) / sum(timed[:half]),
        "trace.epoch_overhead_s": median(ep) - median([e for d in plain for e in d.epochs]),
    })
    return out
