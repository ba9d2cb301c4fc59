"""CSV → typed managed table: the reference's entire engine, Spark-first.

Pipeline parity map (reference = /root/reference/datasette_upload_csvs/__init__.py):

1. encoding sniff on the first 2 MB, ascii upgraded to latin-1
   (reference :76-79, :134-142) — driver-side, charset-normalizer.
2. all-string CSV read with header (reference :177-180). We
   deliberately do NOT use Spark's inferSchema: it samples and infers
   dates/booleans, diverging from the reference's type lattice.
3. full-scan type inference restricted to {INTEGER, FLOAT, TEXT}
   (reference TypeTracker, :14,:175-180,:220) — ONE distributed
   aggregation pass (exact, not sampled, like TypeTracker's full
   stream scan), then a cast projection (reference .transform(),
   :217-222).
4. table-name derivation + collision suffixing (reference :118-129).
5. `_csv_progress_` bookkeeping rows: init / complete / error
   (reference :144-162, :200-214, :224-228).

Scale shape: stages 2-3 are two distributed scans of the file
(splittable CSV → one partition per ~128 MB); the probe aggregation
is a partial/final agg with a few bits per column, so the shuffle is
O(columns), not O(rows). At 100 TB this is the minimal exact plan:
you cannot type a column without seeing every value (the reference
makes the same choice, row-at-a-time).
"""

from __future__ import annotations

import os
import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datasette_upload_csvs_spark import catalog as cat

SNIFF_BYTES_DEFAULT = 2 * 1024 * 1024  # reference __init__.py:76-79
PROGRESS_TABLE = "_csv_progress_"

# TypeTracker-parity integer shape: optional sign, digits only.
# (Python int() — which sqlite-utils TypeTracker calls — rejects
# '1e5'/'1.0'; Spark's string→long CAST would accept '1.0' by
# truncation, so we gate the cast behind this regex instead.)
_INT_RE = r"^[+-]?\d+$"

_PROGRESS_SCHEMA = (
    "id string, filename string, database_name string, table_name string, "
    "bytes_todo bigint, bytes_done bigint, rows_done bigint, "
    "started string, completed string, error string, seq bigint"
)

# The reference serializes all progress writes through one writer
# thread per database (execute_write_fn, __init__.py:162); we keep a
# driver-side lock for the same single-writer guarantee.
_progress_lock = threading.Lock()


class Forbidden(Exception):
    """Raised before any work when the allow hook denies the actor
    (reference __init__.py:73-74 raises starlette Forbidden)."""


# Permission gate (reference A18, __init__.py:18-25 registers the
# 'upload-csvs' action; :73-74 enforces it per request). Analytics
# engines don't carry an auth stack, so the gate is a pluggable
# hook: install a callable (actor, action) -> bool and every ingest
# entry point checks it BEFORE touching the filesystem or catalog.
UPLOAD_ACTION = "upload-csvs"
_allow_hook = None


def set_allow_hook(fn) -> None:
    """Install (or clear, with None) the permission hook."""
    global _allow_hook
    _allow_hook = fn


def _check_allowed(actor) -> None:
    if _allow_hook is not None and not _allow_hook(actor, UPLOAD_ACTION):
        raise Forbidden(f"Permission denied for {UPLOAD_ACTION}")


@dataclass
class IngestResult:
    task_id: str
    table: str  # physical table name (catalog-safe)
    logical_name: str  # requested name, may contain any chars
    database: str | None
    rows: int
    bytes_todo: int
    columns: list[str] = field(default_factory=list)
    types: dict[str, str] = field(default_factory=dict)
    error: str | None = None

    def response(self) -> dict:
        """The reference's xhr JSON contract (__init__.py:233-241):
        {url, database_path, task_id, bytes_todo}. url is the
        table's path under its database, database_path the
        quote_plus'd database name ('default' = Spark's default
        catalog database, standing in for the reference's db.name).
        """
        from urllib.parse import quote_plus

        db = self.database or "default"
        return {
            "url": f"/{quote_plus(db)}/{quote_plus(self.table)}",
            "database_path": quote_plus(db),
            "task_id": self.task_id,
            "bytes_todo": self.bytes_todo,
        }


def detect_encoding(path: str, sniff_bytes: int = SNIFF_BYTES_DEFAULT) -> str:
    """Charset of the first `sniff_bytes` bytes; ascii→latin-1.

    Mirrors reference __init__.py:134-142: a file that looks ascii in
    its head may contain latin-1 later, and latin-1 is a superset, so
    ascii is always upgraded. Driver-side on head bytes only — O(1)
    memory regardless of file size.
    """
    # Directory input (multi-file CSV dataset — beyond the reference,
    # which only sees single uploads): sniff the first part file;
    # Spark applies one encoding to the whole scan.
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        )
        if not parts:
            return "utf-8"
        path = os.path.join(path, parts[0])
    head = _head_bytes(path, sniff_bytes)
    encoding = None
    try:
        from charset_normalizer import detect

        res = detect(head)
        encoding = res.get("encoding") if isinstance(res, dict) else None
    except ImportError:
        pass
    if not encoding:
        try:
            head.decode("utf-8")
            encoding = "utf-8"
        except UnicodeDecodeError:
            encoding = "latin-1"
    if encoding in ("ascii", "utf_8", "utf-8-sig"):
        # keep utf-8 variants as utf-8; ascii upgraded (ref :139-142)
        encoding = "latin-1" if encoding == "ascii" else "utf-8"
    return _spark_charset(encoding)


def _spark_charset(encoding: str) -> str:
    """Map a detected charset to Spark's CSV charset whitelist
    (iso-8859-1, us-ascii, utf-8, utf-16[le|be], utf-32).

    Any single-byte charset (latin-1, cp1252, …) is read as
    iso-8859-1: every byte decodes, so ingest never fails — the
    reference's ascii→latin-1 upgrade exists for the same reason
    (ref __init__.py:139-142). cp1252's 0x80-0x9F printables decode
    to C1 controls instead; a documented approximation.
    """
    e = encoding.lower().replace("_", "-")
    if e in ("utf-8", "utf-8-sig", "utf8"):
        return "utf-8"
    if e.startswith("utf-16") or e.startswith("utf-32"):
        return e
    return "iso-8859-1"


def read_csv_all_strings(
    spark: SparkSession,
    path: str,
    encoding: str | None = None,
    delimiter: str = ",",
    quote: str = '"',
    multiline: bool = False,
) -> DataFrame:
    """Header-ed CSV scan with every column as string.

    PERMISSIVE mode gives the reference's ragged-row semantics
    (dict(zip(headers, row)), __init__.py:180): short rows null-pad,
    extra cells drop. Dialect defaults = csv.excel (the reference's
    parser); delimiter/quote are overridable for TSV-style files.

    multiline=False is the scale default: a multiLine CSV scan is
    NOT splittable in Spark (one partition per file), so a single
    large upload would ingest on one core. upload_csv sniffs the
    file head and opts in automatically when quoted newlines are
    actually present — only those files pay the per-file
    parallelism cap.
    """
    reader = (
        spark.read.option("header", True)
        .option("inferSchema", False)
        .option("mode", "PERMISSIVE")
        .option("multiLine", multiline)
        .option("sep", delimiter)
        .option("quote", quote)
        .option("escape", quote)  # csv.excel dialect: doublequote escaping
    )
    if encoding:
        reader = reader.option("encoding", encoding)
    return reader.csv(path)


def sniff_multiline(
    path: str,
    encoding: str,
    sniff_bytes: int = SNIFF_BYTES_DEFAULT,
    delimiter: str = ",",
    quote: str = '"',
) -> bool:
    """True if the file head contains a quoted embedded newline —
    the one CSV feature that forces Spark's non-splittable multiLine
    scan. Driver-side over the same head bytes as the encoding
    sniff; a quoted newline appearing only after the sniff window
    degrades like the reference's post-2MB encoding drift
    (documented approximation, tests pin the 2MB behavior).
    """
    import csv as _csv
    import io

    # utf-16/32: Hadoop's byte-oriented line splitter can't split
    # multi-byte-unit charsets safely — whole-file decode required.
    if encoding.startswith(("utf-16", "utf-32")):
        return True
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        )
        if not parts:
            return False
        path = os.path.join(path, parts[0])
    head = _head_bytes(path, sniff_bytes)
    text = head.decode("iso-8859-1" if encoding == "latin-1" else encoding,
                       errors="replace")
    # drop the possibly mid-record tail of the sniff window
    cut = text.rfind("\n")
    if cut > 0:
        text = text[: cut + 1]
    try:
        for row in _csv.reader(
            io.StringIO(text), delimiter=delimiter, quotechar=quote
        ):
            if any("\n" in f or "\r" in f for f in row):
                return True
    except _csv.Error:
        return True  # unparseable head: take the semantically-safe path
    return False


def quote_balance_probe(
    spark: SparkSession, path: str, quote: str = '"'
) -> bool:
    """True if any physical line has an ODD number of quote chars —
    the signature of a quoted field containing an embedded newline
    (RFC 4180 quoting always closes within a record: opening/closing
    quotes pair up and doubled escape quotes come in pairs, so a
    complete one-line record has even quote parity; a record split
    across lines leaves odd-parity fragments).

    This is the full-file check the head sniff can't give: it runs as
    a SPLITTABLE distributed text scan (parallel at any size, unlike
    the multiLine CSV scan it guards) with limit(1) early-stop, and
    is only invoked when the file extends past the sniff window. A
    stray unbalanced quote in a malformed unquoted field can
    false-positive; that costs scan parallelism, never correctness.
    """
    probe = spark.read.text(path)
    odd = (
        F.length("value")
        - F.length(F.translate("value", quote, ""))
    ) % 2 == 1
    return bool(probe.filter(odd).limit(1).count() > 0)


def resolve_multiline(
    spark: SparkSession,
    path: str,
    encoding: str,
    sniff_bytes: int = SNIFF_BYTES_DEFAULT,
    delimiter: str = ",",
    quote: str = '"',
) -> bool:
    """Decide the multiLine scan mode safely: head sniff first, and —
    when the file is larger than the sniff window so the head may
    not be representative — confirm the negative with the
    distributed quote-balance probe. Closes the silent-corruption
    window where the first quoted embedded newline sits past the
    sniff head (records would split mid-field and PERMISSIVE
    null-padding would swallow the damage without an error)."""
    if sniff_multiline(path, encoding, sniff_bytes, delimiter, quote):
        return True
    p = path
    if os.path.isdir(p):
        parts = [
            os.path.join(p, f)
            for f in os.listdir(p)
            if not f.startswith(("_", "."))
        ]
        size = sum(os.path.getsize(f) for f in parts)
    else:
        size = os.path.getsize(p)
    if size <= sniff_bytes and not path.endswith(".gz"):
        return False  # head covered the whole file; sniff is exact
    return quote_balance_probe(spark, path, quote)


def _head_bytes(path: str, n: int) -> bytes:
    """First n bytes of the (logical) file. `.gz` inputs are
    transparently decompressed: Spark's CSV scan picks its
    decompression codec by extension, so the driver-side sniff must
    look at the same decoded byte stream the scan will parse."""
    if path.endswith(".gz"):
        import gzip

        with gzip.open(path, "rb") as gz:
            return gz.read(n)
    with open(path, "rb") as f:
        return f.read(n)


def _read_header_row(path: str, encoding: str, delimiter: str = ",") -> list[str]:
    """First CSV row parsed with the reference's dialect, driver-side
    (csv.excel, like reference __init__.py:177-179)."""
    import csv as csv_std
    import io

    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    head = _head_bytes(path, 1 << 20)
    codec = {"utf-16": "utf-16", "utf-32": "utf-32"}.get(encoding, encoding)
    text = head.decode(codec, errors="replace")
    reader = csv_std.reader(io.StringIO(text), delimiter=delimiter)
    for row in reader:
        return row
    return []


def dedup_header_columns(df: DataFrame, original_headers: list[str]) -> DataFrame:
    """Reference parity for duplicate header names: dict(zip(headers,
    row)) keeps the LAST occurrence (__init__.py:180). Spark's CSV
    reader renames duplicates positionally (a, b, a → a0, b, a2);
    undo that by selecting the last position per original name."""
    if len(original_headers) != len(df.columns) or len(
        set(original_headers)
    ) == len(original_headers):
        return df
    # dict(zip(...)): column ORDER is first occurrence, VALUE is the
    # last occurrence (python dict insertion + overwrite semantics)
    last_index: dict[str, int] = {}
    for i, h in enumerate(original_headers):
        last_index[h] = i
    return df.select(
        *[F.col(df.columns[i]).alias(name) for name, i in last_index.items()]
    )


def infer_column_types(df: DataFrame) -> dict[str, str]:
    """TypeTracker-parity type per column: 'integer' | 'float' | 'text'.

    One exact full-scan aggregation (not a sample): per column two
    booleans — "saw a value that is not integer-shaped" and "saw a
    value that does not cast to double". Empty strings count as null
    (TypeTracker skips None/'' — sqlite-utils public behavior), but
    whitespace-only cells count as PRESENT and type the column text
    (int(' ')/float(' ') both raise in the reference's tracker).
    Integer-shaped values outside int64 range demote to float/text
    instead of silently nulling under a bigint cast (the reference
    surfaces sqlite3's OverflowError; silent data loss is worse than
    either). All-null columns stay text. No date/bool inference,
    matching the reference's test contract ('01/01/2009 03:01' stays
    text, reference tests :54-82).
    """
    aggs = []
    for c in df.columns:
        v = F.trim(F.col(c))
        present = F.col(c).isNotNull() & (F.col(c) != "")
        not_int = present & (
            ~v.rlike(_INT_RE) | v.try_cast("bigint").isNull()
        )
        not_float = present & v.try_cast("double").isNull()
        any_present = F.max(present.cast("int"))
        aggs.append(F.max(not_int.cast("int")).alias(f"{c}ni"))
        aggs.append(F.max(not_float.cast("int")).alias(f"{c}nf"))
        aggs.append(any_present.alias(f"{c}p"))
    row = df.agg(*aggs).collect()[0]
    types: dict[str, str] = {}
    for i, c in enumerate(df.columns):
        not_int, not_float, present = row[3 * i], row[3 * i + 1], row[3 * i + 2]
        if not present:
            types[c] = "text"
        elif not not_int:
            types[c] = "integer"
        elif not not_float:
            types[c] = "float"
        else:
            types[c] = "text"
    return types


_SPARK_TYPES = {"integer": "bigint", "float": "double", "text": "string"}


def apply_types(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast projection to the inferred types (reference .transform(),
    __init__.py:217-222). '' → NULL before numeric cast, like the
    tracker treated it as null."""
    cols = []
    for c in df.columns:
        t = _SPARK_TYPES[types.get(c, "text")]
        if t == "string":
            cols.append(F.col(c))
        else:
            cols.append(
                F.nullif(F.trim(F.col(c)), F.lit("")).try_cast(t).alias(c)
            )
    return df.select(*cols)


def _append_progress(spark: SparkSession, database: str | None, row: dict) -> None:
    full = f"{database}.{PROGRESS_TABLE}" if database else PROGRESS_TABLE
    with _progress_lock:
        cat.insert_row(spark, full, _PROGRESS_SCHEMA, row)


class _ProgressTicker:
    """Mid-ingest progress for the batch path (reference parity:
    __init__.py:186-190 updates rows_done/bytes_done every 10 rows
    and the client polls at 1 Hz).

    Spark shape: the ingest's scan+write jobs are tagged with a job
    group (the task id); a driver-side thread polls
    SparkContext.statusTracker() for that group's task counts and
    appends a progress row whenever the completed fraction advances.
    bytes_done = bytes_todo × completed/total tasks — byte-accurate
    per task wave for a splittable scan. rows_done stays NULL on
    intermediate ticks (exact count arrives with the final row's
    observe() result); pollers get monotone bytes_done either way.
    The ticker's own tiny append jobs run outside the job group
    (PySpark pins thread-local properties), so they never count
    toward their own progress.
    """

    def __init__(self, spark, database, base_row, bytes_todo, group, interval):
        self._spark = spark
        self._db = database
        self._base = base_row
        self._todo = bytes_todo
        self._group = group
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.next_seq = 1

    def _fraction(self) -> float:
        tracker = self._spark.sparkContext.statusTracker()
        total = done = 0
        for jid in tracker.getJobIdsForGroup(self._group):
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numTasks == 0:
                    continue
                total += st.numTasks
                done += st.numCompletedTasks
        return (done / total) if total else 0.0

    def _run(self) -> None:
        last_bytes = 0
        while not self._stop.wait(self._interval):
            frac = self._fraction()
            bytes_done = min(int(self._todo * frac), self._todo)
            if bytes_done <= last_bytes or bytes_done >= self._todo:
                continue  # only monotone, strictly-intermediate ticks
            last_bytes = bytes_done
            row = dict(self._base)
            row.update(
                bytes_done=bytes_done,
                rows_done=None,
                completed=None,
                error=None,
                seq=self.next_seq,
            )
            try:
                _append_progress(self._spark, self._db, row)
                self.next_seq += 1
            except Exception:
                return  # progress is best-effort; never fail the ingest

    def start(self) -> None:
        if self._interval > 0:
            self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=30)


def get_progress(spark: SparkSession, task_id: str, database: str | None = None):
    """Latest progress row for a task (the reference's poll endpoint
    reads `_csv_progress_` by id, templates/upload_csv.html:188-204)."""
    full = f"{database}.{PROGRESS_TABLE}" if database else PROGRESS_TABLE
    if not spark.catalog.tableExists(full):
        return None
    rows = (
        spark.table(full)
        .filter(F.col("id") == task_id)
        .orderBy(F.col("seq").desc())
        .limit(1)
        .collect()
    )
    return rows[0].asDict() if rows else None


def _utcnow_str() -> str:
    # reference stores str(datetime.datetime.utcnow()) (:154,:210)
    import datetime

    return str(datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None))


def _gzip_alias(path: str) -> tuple[str, str | None]:
    """(effective_path, alias_or_None): when `path` is a gzip stream
    (magic 1f 8b) WITHOUT a '.gz' suffix — a compressed CSV arriving
    through the web spool, whose temp name carries no extension —
    hard-link it to path+'.csv.gz' so Spark's extension-driven
    decompression codec and the driver-side sniff both see the same
    decoded stream. The alias is removed by the caller after the
    ingest materializes (a hard link: removing either name leaves the
    other's inode intact). Falls back to a copy on filesystems
    without hard links. Extensionless NON-gzip files pass through
    untouched."""
    if os.path.isdir(path) or path.endswith(".gz"):
        return path, None
    try:
        with open(path, "rb") as f:
            magic = f.read(2)
    except OSError:
        return path, None
    if magic != b"\x1f\x8b":
        return path, None
    alias = path + ".csv.gz"
    if not os.path.exists(alias):
        try:
            os.link(path, alias)
        except OSError:
            import shutil

            try:
                shutil.copyfile(path, alias)
            except OSError:
                # ENOSPC / read-only dir mid-copy: drop the partial
                # alias and re-raise — upload_csv's try converts this
                # into a lifecycle error result
                try:
                    os.unlink(alias)
                except OSError:
                    pass
                raise
    return alias, alias


def upload_csv(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    database: str | None = None,
    sniff_bytes: int = SNIFF_BYTES_DEFAULT,
    task_id: str | None = None,
    delimiter: str = ",",
    multiline: bool | None = None,
    progress_interval: float = 1.0,
    actor=None,
) -> IngestResult:
    """Ingest a CSV file into a typed managed table.

    The reference's full EP1 pipeline (SURVEY.md §3) as a synchronous
    call; `upload_csv_async` gives the detached-task shape.
    multiline=None sniffs the file head and enables Spark's
    (non-splittable) multiLine scan only when quoted newlines are
    actually present; pass True/False to force.
    progress_interval is the mid-flight progress tick period in
    seconds (reference clients poll at 1 Hz); <= 0 disables ticks.
    Raises Forbidden (not captured in the result) when the installed
    allow hook denies `actor` — permission failures happen before
    any work, like the reference's route guard (__init__.py:73-74).
    """
    _check_allowed(actor)
    task_id = task_id or str(uuid.uuid4())
    logical = table if table is not None else cat.derive_table_name(os.path.basename(path))
    db = database
    started = _utcnow_str()
    # gzip uploads arrive extension-less from the web spool; Spark's
    # CSV codec and the driver-side sniff are both extension-driven,
    # so a magic-byte gzip without '.gz' is aliased (hard link) to a
    # '.csv.gz' path for the duration of the ingest. Runs inside the
    # error-capturing try: the hard-link fallback copies the file, and
    # a copy failure (ENOSPC, read-only dir) must land in
    # result.error like every other ingest failure, not escape.
    gz_alias = None
    try:
        path, gz_alias = _gzip_alias(path)
        if os.path.isdir(path):
            bytes_todo = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if not f.startswith(("_", "."))
            )
        else:
            bytes_todo = os.stat(path).st_size  # reference :131,:255-261
    except OSError as ex:
        if gz_alias:  # drop a (possibly partial) alias before bailing
            try:
                os.unlink(gz_alias)
            except OSError:
                pass
        return IngestResult(
            task_id=task_id,
            table=cat.sanitize_identifier(logical),
            logical_name=logical,
            database=db,
            rows=0,
            bytes_todo=0,
            error=str(ex),
        )

    physical_base = cat.sanitize_identifier(logical)
    physical = cat.resolve_collision(spark, physical_base, db)

    _append_progress(
        spark,
        db,
        dict(
            id=task_id,
            filename=os.path.basename(path),
            database_name=db or spark.catalog.currentDatabase(),
            table_name=physical,
            bytes_todo=bytes_todo,
            bytes_done=0,
            rows_done=0,
            started=started,
            completed=None,
            error=None,
            seq=0,
        ),
    )

    ticker = _ProgressTicker(
        spark,
        db,
        dict(
            id=task_id,
            filename=os.path.basename(path),
            database_name=db or spark.catalog.currentDatabase(),
            table_name=physical,
            bytes_todo=bytes_todo,
            started=started,
        ),
        bytes_todo,
        group=task_id,
        interval=progress_interval,
    )
    spark.sparkContext.setJobGroup(task_id, f"ingest {path}")
    ticker.start()
    try:
        encoding = detect_encoding(path, sniff_bytes)
        if multiline is None:
            multiline = resolve_multiline(
                spark, path, encoding, sniff_bytes, delimiter
            )
        raw = read_csv_all_strings(
            spark, path, encoding, delimiter=delimiter, multiline=multiline
        )
        raw = dedup_header_columns(
            raw, _read_header_row(path, encoding, delimiter)
        )
        if not raw.columns:
            raise ValueError(
                f"CSV file has no header row (empty file?): {path}"
            )
        types = infer_column_types(raw)
        typed = apply_types(raw, types)
        full = f"{db}.{physical}" if db else physical
        # observe() rides the write job: row count comes out of the
        # same scan that materializes the table — no extra pass over
        # the written data (the reference counts as it inserts, :186).
        obs = Observation()
        typed = typed.observe(obs, F.count(F.lit(1)).alias("n"))
        typed.write.mode("errorifexists").saveAsTable(full)
        if physical != logical:
            cat.register_logical_name(spark, logical, physical, db)
        rows = int(obs.get["n"])
        ticker.stop()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        _append_progress(
            spark,
            db,
            dict(
                id=task_id,
                filename=os.path.basename(path),
                database_name=db or spark.catalog.currentDatabase(),
                table_name=physical,
                bytes_todo=bytes_todo,
                bytes_done=bytes_todo,  # invariant at completion (ref tests :176)
                rows_done=rows,
                started=started,
                completed=_utcnow_str(),
                error=None,
                seq=ticker.next_seq,
            ),
        )
        return IngestResult(
            task_id=task_id,
            table=physical,
            logical_name=logical,
            database=db,
            rows=rows,
            bytes_todo=bytes_todo,
            columns=list(typed.columns),
            types=types,
        )
    except Exception as ex:  # reference error capture :224-228
        ticker.stop()
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        _append_progress(
            spark,
            db,
            dict(
                id=task_id,
                filename=os.path.basename(path),
                database_name=db or spark.catalog.currentDatabase(),
                table_name=physical,
                bytes_todo=bytes_todo,
                bytes_done=0,
                rows_done=0,
                started=started,
                # reference leaves completed NULL on failure: error is
                # the sole failure marker, completed-is-set the sole
                # success signal for pollers (__init__.py:224-228)
                completed=None,
                error=str(ex),
                seq=ticker.next_seq,
            ),
        )
        return IngestResult(
            task_id=task_id,
            table=physical,
            logical_name=logical,
            database=db,
            rows=0,
            bytes_todo=bytes_todo,
            error=str(ex),
        )
    finally:
        # the ingest has fully materialized (or failed) by now —
        # drop the extension alias; the caller's original spool file
        # is untouched (hard link) and stays the caller's to clean
        if gz_alias:
            try:
                os.unlink(gz_alias)
            except OSError:
                pass


def append_csv(
    spark: SparkSession,
    path: str,
    table: str,
    sniff_bytes: int = SNIFF_BYTES_DEFAULT,
    actor=None,
) -> IngestResult:
    """Append a CSV to an existing table with schema evolution —
    the reference's ``insert_all(batch, alter=True)`` semantics
    (reference __init__.py:159,168): columns present only in the new
    file are added (existing rows read NULL), columns missing from
    the new file are null-filled.

    Spark shape: unionByName(allowMissingColumns=True) over the
    existing table + typed new batch, then an atomic table swap.
    (The reference's ALTER TABLE is metadata-only; a columnar rewrite
    is the Spark equivalent when the union changes the column set —
    when the schemas already match we use a plain append, no rewrite.)
    """
    _check_allowed(actor)
    task_id = str(uuid.uuid4())
    if not spark.catalog.tableExists(table):
        # forward the actor: the permission check above already
        # passed, but upload_csv re-checks and must see the same
        # identity (a None fall-through would wrongly Forbidden an
        # authorized actor under a deny-anonymous hook)
        return upload_csv(
            spark, path, table=table, sniff_bytes=sniff_bytes, actor=actor
        )

    encoding = detect_encoding(path, sniff_bytes)
    raw = read_csv_all_strings(
        spark,
        path,
        encoding,
        multiline=resolve_multiline(spark, path, encoding, sniff_bytes),
    )
    types = infer_column_types(raw)
    typed = apply_types(raw, types)
    existing = spark.table(table)

    if set(typed.columns) == set(existing.columns):
        aligned = typed.select(*existing.columns)
        # widen to the existing column types (e.g. int batch into a
        # previously-float column)
        for name, dtype in existing.dtypes:
            if dict(aligned.dtypes)[name] != dtype:
                aligned = aligned.withColumn(name, F.col(name).try_cast(dtype))
        obs = Observation()
        aligned.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).insertInto(table)
        rows = int(obs.get["n"])
        return IngestResult(
            task_id=task_id,
            table=table,
            logical_name=table,
            database=None,
            rows=rows,
            bytes_todo=os.stat(path).st_size,
            columns=list(existing.columns),
            types=types,
        )

    # the batch's row count rides the swap write (observed below the
    # union, so existing rows are not counted)
    obs = Observation()
    typed = typed.observe(obs, F.count(F.lit(1)).alias("n"))
    merged = existing.unionByName(typed, allowMissingColumns=True)
    # atomic-ish swap through a staging table (managed tables cannot
    # be overwritten while being read)
    staging = f"{table}__evolving"
    merged.write.mode("overwrite").saveAsTable(staging)
    spark.sql(f"DROP TABLE `{table}`")
    spark.sql(f"ALTER TABLE `{staging}` RENAME TO `{table}`")
    rows = int(obs.get["n"])
    return IngestResult(
        task_id=task_id,
        table=table,
        logical_name=table,
        database=None,
        rows=rows,
        bytes_todo=os.stat(path).st_size,
        columns=list(merged.columns),
        types=types,
    )


@dataclass
class IngestTask:
    """Detached ingest job handle (reference asyncio.create_task,
    __init__.py:231 — here a daemon thread; Spark jobs are submitted
    from it and progress is visible via get_progress immediately)."""

    task_id: str
    thread: threading.Thread
    _holder: dict

    def result(self, timeout: float | None = None) -> IngestResult:
        self.thread.join(timeout)
        if self.thread.is_alive():
            raise TimeoutError("ingest still running")
        return self._holder["result"]


def upload_csv_async(
    spark: SparkSession,
    path: str,
    table: str | None = None,
    database: str | None = None,
    sniff_bytes: int = SNIFF_BYTES_DEFAULT,
    actor=None,
) -> IngestTask:
    _check_allowed(actor)  # deny BEFORE the detached task exists
    task_id = str(uuid.uuid4())
    holder: dict = {}

    def run():
        # forward the actor: the gate already passed above, and the
        # hook may legitimately deny a None actor (same fall-through
        # bug class as append_csv's, fixed round 3)
        holder["result"] = upload_csv(
            spark, path, table, database, sniff_bytes, task_id=task_id,
            actor=actor,
        )

    t = threading.Thread(target=run, daemon=True, name=f"ingest-{task_id[:8]}")
    t.start()
    return IngestTask(task_id=task_id, thread=t, _holder=holder)
