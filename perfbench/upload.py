"""upload: the reference's user journey over the web layer.

Closed loop, one client, in-process ASGI calls into
web.UploadApp(open_sql=True), no sockets. Each op POSTs one multipart
CSV with xhr=1, waits on app.tasks[task_id].result(), then reads the
table back with GET /default.json?sql=SELECT count(*), sum(id).

Set-up uploads the special inputs as its warm-up ops: latin-1 with a
'£' column name, gzip, and quoted newlines. The timed loop is small
files (10-200 KB) with one 11.2 MB file in every five ops, each under
its own table name, except one same-name re-upload that must land as
<name>_2.
"""

from __future__ import annotations

import asyncio
import dataclasses
import io
import json
import os
import time
from urllib.parse import urlencode

from perfbench import gen
from perfbench.run import median
from perfbench.trace import SparkRest, Tracer

LAYER = {
    "web.post_s": "s",
    "web.sql_get_s": "s",
    "ingest.detect_encoding_s": "s",
    "ingest.resolve_multiline_s": "s",
    "ingest.read_csv_s": "s",
    "ingest.infer_types_s": "s",
    "ingest.write_s": "s",
    "ingest.jobs_per_upload": "count",
    "ingest.progress_rows_per_upload": "count",
    "catalog.resolve_collision_s": "s",
    "catalog.register_logical_name_s": "s",
    "trace.op_overhead_s": "s",
}
LARGE_BYTES = 10 * 1024 * 1024
SMALL_KB = (12, 180, 40, 90, 25, 140, 60, 110)  # small-file sizes, cycled
CYCLE = 5  # timed ops per cycle, the fourth of them a large file
REUPLOAD = 102  # op that re-sends op 101's file under the same name
BOUNDARY = "perfbench-boundary"
# (wrapped module attribute, span name); upload_csv resolves these
# through module globals, so rebinding catches its calls
_WRAPPED = (
    ("ingest", "upload_csv", "ingest.upload_csv"),
    ("ingest", "detect_encoding", "ingest.detect_encoding"),
    ("ingest", "resolve_multiline", "ingest.resolve_multiline"),
    ("ingest", "read_csv_all_strings", "ingest.read_csv"),
    ("ingest", "infer_column_types", "ingest.infer_types"),
    ("ingest", "_append_progress", "ingest.progress_row"),
    ("catalog", "resolve_collision", "catalog.resolve_collision"),
    ("catalog", "register_logical_name", "catalog.register_logical_name"),
)


def multipart(filename: str, data: bytes) -> bytes:
    out = io.BytesIO()
    out.write(f'--{BOUNDARY}\r\nContent-Disposition: form-data; name="csv"; '
              f'filename="{filename}"\r\nContent-Type: text/csv\r\n\r\n'.encode())
    out.write(data)
    out.write(f'\r\n--{BOUNDARY}\r\nContent-Disposition: form-data; name="xhr"'
              f'\r\n\r\n1\r\n--{BOUNDARY}--\r\n'.encode())
    return out.getvalue()


class AsgiClient:
    """Drives an ASGI app in-process on a private event loop."""

    def __init__(self, app) -> None:
        self.app = app
        self.loop = asyncio.new_event_loop()

    async def _call(self, method, path, query, body, ctype):
        pending = [{"type": "http.request", "body": body, "more_body": False}]
        sent = []

        async def receive():
            return pending.pop(0) if pending else {"type": "http.disconnect"}

        async def send(msg):
            sent.append(msg)

        headers = [(b"content-type", ctype.encode())] if ctype else []
        await self.app({"type": "http", "method": method, "path": path,
                        "query_string": query, "headers": headers}, receive, send)
        return sent[0]["status"], b"".join(m.get("body", b"") for m in sent[1:])

    def request(self, method, path, query=b"", body=b"", ctype=None):
        return self.loop.run_until_complete(self._call(method, path, query, body, ctype))

    def close(self) -> None:
        self.loop.close()


def file_for(seed: int, i: int, kind: str) -> gen.CsvFile:
    """Op i's upload: a seeded file of `kind`. Sizes follow a fixed
    schedule, so every seed times the same mix; every fourth name has
    a space and capitals, so the name map is written."""
    if kind == "large":
        rows = LARGE_BYTES // 38  # ~40 bytes a row: a little over 10 MB
    else:
        rows = SMALL_KB[i % len(SMALL_KB)] * 1024 // 38
    name = f"Upload {i:04d}" if i % 4 == 1 else f"upload_{i:04d}"
    suffix = ".csv.gz" if kind == "gzip" else ".csv"
    return gen.csv_file(kind, name + suffix, seed * 100003 + i, rows)


class Journey:
    """Upload-then-read-back ops against one UploadApp."""

    def __init__(self, bench, tracer: Tracer) -> None:
        from datasette_upload_csvs_spark.web import UploadApp

        self.bench = bench
        self.tracer = tracer
        self.app = UploadApp(bench.spark, upload_dir=bench.path("spool"), open_sql=True)
        self.client = AsgiClient(self.app)

    def op(self, f: gen.CsvFile, table: str) -> dict | None:
        """One checked op; returns its timings, or None if it failed."""
        t0 = time.perf_counter()
        with self.tracer.span("web.post"):
            status, body = self.client.request(
                "POST", "/-/upload-csvs", body=multipart(f.filename, f.data),
                ctype=f"multipart/form-data; boundary={BOUNDARY}")
        if status != 200:
            return self._fail(f, f"POST status {status}")
        r = self.app.tasks[json.loads(body)["task_id"]].result(timeout=170)
        ready = time.perf_counter() - t0
        if r.error is not None:
            return self._fail(f, f"ingest error {r.error[:200]!r}")
        if (r.table, r.rows, r.types) != (table, f.rows, f.types):
            return self._fail(f, f"got {(r.table, r.rows, r.types)}, "
                                 f"want {(table, f.rows, f.types)}")
        t1 = time.perf_counter()
        sql = f"SELECT count(*) AS n, sum(id) AS s FROM `{table}`"
        with self.tracer.span("web.sql_get"):
            status, body = self.client.request(
                "GET", "/default.json", query=urlencode({"sql": sql}).encode())
        read = time.perf_counter() - t1
        rows = json.loads(body).get("rows") if status == 200 else None
        if rows != [{"n": f.rows, "s": f.id_sum}]:
            return self._fail(f, f"read-back status {status} rows {rows}")
        self.bench.check(True, f.filename)
        return {"ready": ready, "read": read}

    def _fail(self, f: gen.CsvFile, why: str) -> None:
        self.bench.check(False, f"upload {f.filename} ({f.kind}): {why}")
        return None

    def close(self) -> None:
        self.client.close()


def expected_table(filename: str) -> str:
    base = filename[:-7] if filename.endswith(".csv.gz") else filename[:-4]
    return base.lower().replace(" ", "_")


def run(bench) -> dict[str, float]:
    tracer = Tracer()
    bench.tracer = tracer
    if bench.trace:
        import datasette_upload_csvs_spark.catalog as catalog
        import datasette_upload_csvs_spark.ingest as ingest

        mods = {"ingest": ingest, "catalog": catalog}
        for mod, attr, name in _WRAPPED:
            tracer.wrap(mods[mod], attr, name)
    try:
        return _run(bench, tracer)
    finally:
        tracer.restore()


def _run(bench, tracer: Tracer) -> dict[str, float]:
    seed = bench.seed
    bench.start_spark()
    os.makedirs(bench.path("spool"))
    journey = Journey(bench, tracer)
    # set-up: the special inputs are the warm-up ops (the first op of a
    # process pays about 10 s of JIT, the next ones still 1-2 s extra)
    for i, kind in ((2, "latin1"), (3, "gzip"), (4, "multiline")):
        journey.op(file_for(seed, i, kind), f"upload_{i:04d}")
        bench.log(f"warm-up {kind}")
    large = file_for(seed, 4, "large")  # one body, a new name each time
    bench.end_setup()

    small_ready, large_ready, reads = [], [], []
    traced_ready, untraced_ready, traced_ops = [], [], set()
    t_end = time.perf_counter() + bench.seconds
    i = 100
    # run for the time given and until both file sizes were timed; a
    # traced run makes one cycle at least, and sends every file twice
    # under two names, untraced and traced, the order flipping per op,
    # so the tracing overhead compares like with like
    while (time.perf_counter() < t_end or not small_ready or not large_ready
           or (bench.trace and i < 100 + CYCLE)):
        kind = "large" if i % CYCLE == 3 else "small"
        if kind == "large":
            f = dataclasses.replace(large, filename=f"upload_{i:04d}.csv")
        elif i == REUPLOAD:  # the one same-name re-upload: must land as _2
            f = file_for(seed, i - 1, kind)
        else:
            f = file_for(seed, i, kind)
        for traced in ((True, False) if i % 2 else (False, True)) if bench.trace else (False,):
            g = f
            if bench.trace:
                stem, _, ext = f.filename.partition(".")
                g = dataclasses.replace(f, filename=f"{stem}_{'ut'[traced]}.{ext}")
            table = expected_table(g.filename) + ("_2" if i == REUPLOAD else "")
            op = 2 * i + traced
            tracer.enabled, tracer.op = traced, op
            res = journey.op(g, table)
            tracer.enabled = False
            if res is None:
                continue
            bench.log(f"{kind} ready {res['ready']:.3f}s read-back {res['read']:.3f}s")
            (large_ready if kind == "large" else small_ready).append(res["ready"])
            reads.append(res["read"])
            if bench.trace and kind == "small":
                (traced_ready if traced else untraced_ready).append(res["ready"])
            if traced:
                traced_ops.add(op)
        i += 1
    journey.close()
    if not bench.trace:
        op = median(small_ready)
        heavy = median(large_ready)
        return {"op_p50_s": op, "heavy_p50_s": heavy,
                "set_s": op + heavy + median(reads)}
    snap = SparkRest(bench.spark.sparkContext).snapshot()
    windows = [SparkRest.window(snap, s, e)
               for s, e in tracer.windows("ingest.upload_csv", traced_ops)]
    return _layers(tracer, traced_ops, windows, traced_ready, untraced_ready)


def _layers(tracer: Tracer, ops: set[int], windows: list[dict],
            traced_ready: list[float], untraced_ready: list[float]) -> dict[str, float]:
    n = max(1, len(ops))
    per = {name: tracer.seconds(name, ops) / n for _, _, name in _WRAPPED}
    # write_s is the rest of upload_csv: saveAsTable and the progress appends
    children = sum(e - s for name, s, e, parent, op in tracer.spans
                   if parent == "ingest.upload_csv" and op in ops
                   and name != "ingest.progress_row")
    return {
        "web.post_s": tracer.seconds("web.post", ops) / n,
        "web.sql_get_s": tracer.seconds("web.sql_get", ops) / n,
        "ingest.detect_encoding_s": per["ingest.detect_encoding"],
        "ingest.resolve_multiline_s": per["ingest.resolve_multiline"],
        "ingest.read_csv_s": per["ingest.read_csv"],
        "ingest.infer_types_s": per["ingest.infer_types"],
        "ingest.write_s": per["ingest.upload_csv"] - children / n,
        "ingest.jobs_per_upload": sum(w["jobs"] for w in windows) / n,
        "ingest.progress_rows_per_upload": tracer.count("ingest.progress_row", ops) / n,
        "catalog.resolve_collision_s": per["catalog.resolve_collision"],
        "catalog.register_logical_name_s": per["catalog.register_logical_name"],
        "trace.op_overhead_s": median(traced_ready) - median(untraced_ready),
    }
