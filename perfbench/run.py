#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {upload,curate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Set-up (session start, seeded input
generation, correctness baselines, a fixed count of warm-up ops) is
timed as setup_s; then the workload's closed loop runs for --seconds.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the spans under .perfbench_out/). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datasette_upload_csvs_spark"
WORKLOADS = ("upload", "curate")
# local[n] with n <= 4, leaving one core to the driver, JIT and GC threads
CPUS = max(1, min(4, (os.cpu_count() or 1) - 1))

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "heavy_p50_s": "s", "set_s": "s"}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class RssSampler:
    """Peak resident memory of this process plus its JVM, sampled from
    /proc every `period` seconds on a daemon thread; `on_sample` (the
    JVM heap reader) is called on each tick. Traced runs only."""

    def __init__(self, jvm_pid: int | None, period: float = 0.2, on_sample=None):
        self._pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self._period = period
        self._on_sample = on_sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="rss")
        self.peak_mb = 0.0

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb,
                               sum(self._rss_kb(p) for p in self._pids) / 1024.0)
            if self._on_sample is not None:
                self._on_sample()
            if self._stop.wait(self._period):
                return

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)


class Bench:
    """One run: its temp root, Spark session, op accounting and timers.
    Workload modules receive it and call `check` once per op."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.t_begin = time.perf_counter()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = os.path.join(ROOT, ".perfbench_tmp", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()  # set-up checks ops on two threads
        self.setup_s: float | None = None
        self.layer: dict[str, float] = {}
        self.spark = None
        self.rss: RssSampler | None = None
        self.jvm = None
        self.tracer = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """Count one op; a failed op is logged and counted, never raised."""
        with self._lock:
            self.attempted += 1
            self.failed += not ok
        if not ok:
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)
        return ok

    def log(self, what: str) -> None:
        print(f"perfbench: {time.perf_counter() - self.t_begin:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def start_spark(self):
        """Start the engine's session on local[CPUS] with every file the
        JVM and Python write kept under the run's temp root."""
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        # every JVM, the launcher's too: no /tmp/hsperfdata, temp files here
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        import tempfile
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
        from datasette_upload_csvs_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CPUS}]",
            shuffle_partitions=CPUS,
            warehouse_dir=self.path("warehouse"),
            extra_confs={
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.log("session started")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from perfbench.trace import JvmSampler
            self.jvm = JvmSampler(self.spark)
            self.rss = RssSampler(self._jvm_proc().pid, on_sample=self.jvm.sample)
            self.rss.start()
        return self.spark

    @staticmethod
    def _jvm_proc():
        from pyspark import SparkContext
        return SparkContext._gateway.proc

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_begin
        self.log("set-up done")

    def close(self) -> None:
        """Stop Spark and its JVM, wait for them, drop the temp root."""
        if self.rss is not None:
            self.rss.stop()
        if self.spark is not None:
            from pyspark import SparkContext
            proc = self._jvm_proc()
            self.spark.stop()
            SparkContext._gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
            self.spark = None
        shutil.rmtree(self.root, ignore_errors=True)

    def result(self, metrics: dict[str, float], units: dict[str, str]) -> dict:
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run files, whatever the
    workload: a layer the workload does not call reads 0."""
    from perfbench import curate, upload

    return {**upload.LAYER, **curate.LAYER, "session.get_spark_s": "s",
            "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB", "process.rss_peak_mb": "MB"}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload and return the result object."""
    from perfbench import curate, upload

    module = {"upload": upload, "curate": curate}[workload]
    bench = Bench(workload, seed, seconds, trace)
    try:
        metrics = module.run(bench)
        if not trace:
            metrics["setup_s"] = bench.setup_s
            return bench.result(metrics, E2E_UNITS)
        metrics.update(bench.layer)
        metrics.update({"jvm.gc_s": bench.jvm.gc_s(), "jvm.heap_peak_mb": bench.jvm.heap_peak_mb,
                        "process.rss_peak_mb": bench.rss.peak_mb})
        units = layer_units()
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        bench.tracer.dump(os.path.join(out, f"spans-{workload}-{seed}.jsonl"))
        return bench.result({n: metrics.get(n, 0.0) for n in units}, units)
    finally:
        bench.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
