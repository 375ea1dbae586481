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
import threading
import time

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


def resolve_collision(
    spark: SparkSession,
    base: str,
    database: str | None = None,
    taken: frozenset[str] = frozenset(),
) -> str:
    """First free name among base, base_2, base_3, ... (reference
    __init__.py:124-129 keeps the plain name for the first upload).
    Names in `taken` count as occupied even before their table
    exists."""
    prefix = f"{database}." if database else ""
    name = base
    suffix = 1
    while name in taken or spark.catalog.tableExists(f"{prefix}{name}"):
        suffix += 1
        name = f"{base}_{suffix}"
    return name


# Physical names handed out to ingests whose table does not exist
# yet, keyed (application id, database, name). An ingest picks its
# name seconds before its write creates the table, so two concurrent
# same-name uploads would otherwise both pick the plain name and the
# second write would fail on the existing table.
_reserved: set[tuple[str, str, str]] = set()
_lock = threading.Lock()


def _scope(spark: SparkSession, database: str | None) -> tuple[str, str]:
    return (
        spark.sparkContext.applicationId,
        database or spark.catalog.currentDatabase(),
    )


def reserve_physical_name(
    spark: SparkSession, base: str, database: str | None = None
) -> str:
    """resolve_collision under a process-wide lock, skipping names
    other in-flight ingests hold. The caller must hand the name back
    with release_physical_name once its table exists or its ingest
    failed."""
    scope = _scope(spark, database)
    with _lock:
        taken = frozenset(n for (*s, n) in _reserved if tuple(s) == scope)
        name = resolve_collision(spark, base, database, taken)
        _reserved.add((*scope, name))
    return name


def release_physical_name(
    spark: SparkSession, name: str, database: str | None = None
) -> None:
    with _lock:
        _reserved.discard((*_scope(spark, database), name))


# Bookkeeping tables (this name map, ingest's progress rows) take one
# row per event. On a 4-core host (local[4]) a DataFrame write job per
# row cost ~0.7 s and two parquet files; a parameterized INSERT ...
# VALUES into a table made once per application costs ~0.2 s and one
# file, and binds every value as a literal, so no quoting is needed.
_created: set[tuple[str, str]] = set()


def insert_row(spark: SparkSession, full: str, schema: str, row: dict) -> None:
    """Append `row` (column name → value, in `schema` order) to the
    parquet table `full`, creating the table on first use. Callers
    serialize inserts into one table: concurrent appends to one path
    share its _temporary staging directory."""
    create = f"CREATE TABLE IF NOT EXISTS {full} ({schema}) USING parquet"
    insert = f"INSERT INTO {full} VALUES ({', '.join(f':{c}' for c in row)})"
    key = (spark.sparkContext.applicationId, full)
    if key not in _created:
        spark.sql(create)
        _created.add(key)
    try:
        spark.sql(insert, args=row)
    except Exception:
        if spark.catalog.tableExists(full):
            raise
        # dropped since it was created here: make it again
        spark.sql(create)
        spark.sql(insert, args=row)


_NAME_MAP_SCHEMA = (
    "logical_name string, physical_name string, database_name string, "
    "registered_ns bigint"
)
# serializes name-map inserts; guards _last_ns
_map_lock = threading.Lock()
_last_ns = 0


def register_logical_name(
    spark: SparkSession, logical: str, physical: str, database: str | None = None
) -> None:
    """Record the logical→physical mapping in the name-map table."""
    prefix = f"{database}." if database else ""
    row = dict(
        logical_name=logical,
        physical_name=physical,
        database_name=database or spark.catalog.currentDatabase(),
    )
    global _last_ns
    with _map_lock:
        # registered_ns orders registrations (file order does not):
        # wall-clock nanoseconds, strictly increasing in-process
        _last_ns = row["registered_ns"] = max(time.time_ns(), _last_ns + 1)
        insert_row(spark, f"{prefix}{NAME_MAP_TABLE}", _NAME_MAP_SCHEMA, row)


def lookup_physical_name(
    spark: SparkSession, logical: str, database: str | None = None
) -> str | None:
    """Physical table of the latest registration of `logical`."""
    prefix = f"{database}." if database else ""
    full = f"{prefix}{NAME_MAP_TABLE}"
    if not spark.catalog.tableExists(full):
        return None
    rows = (
        spark.table(full)
        .filter(F.col("logical_name") == logical)
        .orderBy(F.col("registered_ns").desc())
        .select("physical_name")
        .limit(1)
        .collect()
    )
    return rows[0][0] if rows else None
