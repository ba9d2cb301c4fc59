"""Streaming CSV ingest: the reference's micro-batched insert loop
(reference __init__.py:173-198) re-expressed as Structured Streaming.

readStream.csv over a directory → foreachBatch append + progress
update per batch, Trigger.AvailableNow to drain-and-stop (the exact
semantic of 'ingest this uploaded file asynchronously, reporting
progress, then finish').

Progress parity note (SURVEY.md §7): the reference ticks progress
every 10 rows; Spark's unit of progress is the micro-batch, so
rows_done/bytes_done advance per batch. The invariant the reference's
tests actually check — bytes_done == bytes_todo at completion —
holds exactly.
"""

from __future__ import annotations

import os
import threading
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession  # noqa: F401
from pyspark.sql import functions as F

from datasette_upload_csvs_spark import ingest as batch_ingest


def stream_csv_to_table(
    spark: SparkSession,
    path: str,
    table: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Drain a directory of CSV files into a managed table.

    Returns {"task_id", "rows", "batches", "table"}. Progress rows go
    to the `_csv_progress_` table after every micro-batch — the
    streaming twin of the reference's per-batch UPDATE loop.
    """
    task_id = str(uuid.uuid4())
    bytes_todo = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".csv")
    )
    if schema is None:
        # header probe on the driver (one file) to fix the column set;
        # all-string like the batch path, types applied post-hoc.
        sample = batch_ingest.read_csv_all_strings(spark, path)
        schema = ", ".join(f"`{c}` string" for c in sample.columns)

    stream = (
        spark.readStream.option("header", True)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger or 1)
        .csv(path)
    )

    state = {"rows": 0, "batches": 0}
    lock = threading.Lock()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the batch's row count rides its write: one scan, not two
        obs = Observation()
        batch_df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).saveAsTable(table)
        n = int(obs.get["n"])
        with lock:
            state["rows"] += n
            state["batches"] += 1
        batch_ingest._append_progress(
            spark,
            None,
            dict(
                id=task_id,
                filename=path,
                database_name=spark.catalog.currentDatabase(),
                table_name=table,
                bytes_todo=bytes_todo,
                bytes_done=None,  # unknown mid-stream; set at completion
                rows_done=state["rows"],
                started=batch_ingest._utcnow_str(),
                completed=None,
                error=None,
                seq=state["batches"],
            ),
        )

    q = (
        stream.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            os.path.join(
                spark.conf.get("spark.sql.warehouse.dir", "/tmp"),
                f"_ckpt_{task_id}",
            ).replace("file:", ""),
        )
        .start()
    )
    q.awaitTermination()

    batch_ingest._append_progress(
        spark,
        None,
        dict(
            id=task_id,
            filename=path,
            database_name=spark.catalog.currentDatabase(),
            table_name=table,
            bytes_todo=bytes_todo,
            bytes_done=bytes_todo,
            rows_done=state["rows"],
            started=batch_ingest._utcnow_str(),
            completed=batch_ingest._utcnow_str(),
            error=None,
            seq=state["batches"] + 1,
        ),
    )
    return {
        "task_id": task_id,
        "rows": state["rows"],
        "batches": state["batches"],
        "table": table,
    }
