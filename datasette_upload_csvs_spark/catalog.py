"""Catalog glue: logical↔physical table names + collision handling.

The reference allows any string as a table name (its tests create a
table literally named ``weird ~ filename here.csv``,
reference tests/test_datasette_upload_csvs.py:94-97). Spark SQL
identifiers can't hold every such name, so we keep a logical→physical
indirection: the physical name is a sanitized identifier, and the
logical name travels in table properties / the name-map table.

Collision policy mirrors the reference (__init__.py:124-129): probe
existence, suffix ``_2``, ``_3``, ...
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

NAME_MAP_TABLE = "_csv_name_map_"


def derive_table_name(filename: str) -> str:
    """Filename minus one trailing '.csv' (case-insensitive), as the
    reference does (__init__.py:118-122): 'x.csv.csv' → 'x.csv'.
    Compressed uploads additionally shed one '.csv.gz' — 'x.csv.gz'
    → 'x', matching what the '.csv' rule gives their uncompressed
    twins."""
    low = filename.lower()
    if low.endswith(".csv.gz"):
        return filename[:-7]
    if low.endswith(".csv"):
        return filename[:-4]
    return filename


def sanitize_identifier(logical: str) -> str:
    """Physical Spark identifier for an arbitrary logical name."""
    phys = re.sub(r"[^A-Za-z0-9_]", "_", logical)
    if not phys or phys[0].isdigit():
        phys = "t_" + phys
    return phys.lower()


def resolve_collision(spark: SparkSession, base: str, database: str | None = None) -> str:
    """First free name among base, base_2, base_3, ... (reference
    __init__.py:124-129 keeps the plain name for the first upload)."""
    prefix = f"{database}." if database else ""
    name = base
    suffix = 1
    while spark.catalog.tableExists(f"{prefix}{name}"):
        suffix += 1
        name = f"{base}_{suffix}"
    return name


def insert_row(spark: SparkSession, table: str, ddl: str, row: dict) -> None:
    """Append one row to a managed parquet table, creating it from
    `ddl` on first use.

    A parameterized INSERT … VALUES plans as a JVM LocalRelation, so the
    append runs no Python worker (a one-row createDataFrame plans a
    LogicalRDD over a Python RDD and pays a worker round-trip per row).
    Values travel only as parameter markers: quotes and backslashes in
    filenames or error text need no escaping, and None lands as NULL.
    """
    target = ".".join("`" + part.replace("`", "``") + "`" for part in table.split("."))
    if not spark.catalog.tableExists(table):
        spark.sql(f"CREATE TABLE IF NOT EXISTS {target} ({ddl}) USING parquet")
    cols = ", ".join(f"`{c}`" for c in row)
    markers = ", ".join(f":{c}" for c in row)
    spark.sql(f"INSERT INTO {target} ({cols}) VALUES ({markers})", args=row)


def register_logical_name(
    spark: SparkSession, logical: str, physical: str, database: str | None = None
) -> None:
    """Record the logical→physical mapping in the name-map table."""
    prefix = f"{database}." if database else ""
    insert_row(
        spark,
        f"{prefix}{NAME_MAP_TABLE}",
        "logical_name string, physical_name string, database_name string",
        dict(
            logical_name=logical,
            physical_name=physical,
            database_name=database or spark.catalog.currentDatabase(),
        ),
    )


def lookup_physical_name(
    spark: SparkSession, logical: str, database: str | None = None
) -> str | None:
    prefix = f"{database}." if database else ""
    full = f"{prefix}{NAME_MAP_TABLE}"
    if not spark.catalog.tableExists(full):
        return None
    rows = (
        spark.table(full)
        .filter(F.col("logical_name") == logical)
        .select("physical_name")
        .tail(1)
    )
    return rows[0][0] if rows else None
