"""Derived canonical views over the driver's synthetic tables.

The correctness harness compares our Spark plans against DuckDB running on
the same parquet files, so every reference-plane query (which wants
``files``/``status`` tables) is expressed over *deterministic derivations*
of the driver tables.  The derivation SQL below is written in the common
SQL dialect both engines parse identically (||, CASE, %, instr, substr,
length, greatest, CAST), so one string serves as both the Spark temp view
and the DuckDB CTE — derivation drift between engines is impossible.

``files`` is derived from ``documents`` (doc_id → path/size/times/owner),
``status`` from ``events`` (event_id/ts/event_type → id/time/status/value/
units).  Path shapes are chosen to exercise every find_extension edge:
dotless names, multi-dot tails, >6-char extensions (tail-scan miss →
fall-through), and dotted directory components.

This module is also the package's one parquet-footer reader: base-table
schemas and row counts are read from footers on the driver, so registering
a table runs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, LongType, MapType, StructField, StructType, TimestampNTZType

# -- extension, as the reference computes it (storcrawl.py:259-268), for
# clean-ASCII paths, in the common dialect.  The negative scan covers the
# last min(L+1, len) bytes EXCLUDING the final byte (path[-1:0] is empty);
# on miss it falls through and rescans from the start.
EXTENSION_EXPR = """
CASE
  WHEN instr(substr({p}, greatest(1, length({p}) - 6), length({p}) - greatest(1, length({p}) - 6)), '.') > 0
    THEN substr({p}, greatest(1, length({p}) - 6) + instr(substr({p}, greatest(1, length({p}) - 6), length({p}) - greatest(1, length({p}) - 6)), '.'))
  WHEN instr({p}, '.') > 0
    THEN substr({p}, instr({p}, '.') + 1)
  ELSE NULL
END
""".strip()

FILES_VIEW_SQL = f"""
SELECT
  doc_id AS id,
  CAST(1710000000 + doc_id AS BIGINT) AS insert_epoch,
  (CASE CAST(doc_id % 3 AS INTEGER)
     WHEN 0 THEN '/data/' || source
     WHEN 1 THEN '/data/v1.0/' || source
     ELSE '/archive/' || source
   END) || '/' ||
  (CASE CAST(doc_id % 5 AS INTEGER)
     WHEN 0 THEN 'doc_' || CAST(doc_id AS STRING)
     WHEN 1 THEN 'doc_' || CAST(doc_id AS STRING) || '.tarball'
     WHEN 2 THEN 'doc_' || CAST(doc_id AS STRING) || '.tar.gz'
     WHEN 3 THEN 'doc_' || CAST(doc_id AS STRING) || '.' || lang || '.txt'
     ELSE 'doc_' || CAST(doc_id AS STRING) || '.dat'
   END) AS path,
  CAST(n_chars * 4096 AS BIGINT) AS st_size,
  CAST(1700000000 + (doc_id * 7919) % 900000 AS BIGINT) AS st_mtime,
  CAST(1700000000 + (doc_id * 104729) % 900000 AS BIGINT) AS st_ctime,
  CAST(1700000000 + (doc_id * 13) % 900000 AS BIGINT) AS st_atime,
  CAST(doc_id % 10 AS BIGINT) AS st_uid,
  CAST(doc_id % 5 AS BIGINT) AS st_gid,
  CASE WHEN doc_id % 7 = 0 THEN NULL
       ELSE 'owner_' || CAST(CAST(doc_id % 7 AS INTEGER) AS STRING) END AS owner
FROM documents
""".strip()

# extension is derived from the path expression; computed in a wrapper so the
# common dialect stays readable.
FILES_WITH_EXT_SQL = (
    "SELECT f.*, " + EXTENSION_EXPR.format(p="f.path") + " AS extension FROM (" + FILES_VIEW_SQL + ") f"
)

# Deterministic as-of instant for 'recent change' predicates (replaces the
# reference's NOW(), which an oracle comparison cannot reproduce).
FILES_AS_OF_EPOCH = 1_700_500_000
# Scaled-down large/recent thresholds for the synthetic sizes/times above
# (the reference CLI hardcodes 3 GiB / 608400 s, report.py:235 — kept for
# real crawls in reports/queries.py; these drive the oracle-checked plan).
FILES_MIN_SIZE = 600_000
FILES_MIN_DELTA = 500_000

STATUS_VIEW_SQL = """
SELECT
  event_id AS id,
  ts AS time,
  CASE event_type
    WHEN 'click' THEN 'file stat rate'
    WHEN 'view' THEN 'file walk rate'
    WHEN 'purchase' THEN 'insert rate'
    ELSE event_type
  END AS status,
  CASE WHEN event_type = 'signup' THEN NULL ELSE value END AS value,
  CASE event_type
    WHEN 'click' THEN 'files/sec'
    WHEN 'view' THEN 'entries/sec'
    WHEN 'purchase' THEN 'inserts/sec'
    WHEN 'error' THEN 'errors'
    ELSE 'event'
  END AS units
FROM events
""".strip()

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(events: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to a session-timezone TIMESTAMP whatever
    physical parquet type the driver wrote this round:

    - nanosecond parquet → Spark reads LONG (under ``nanosAsLong``):
      ``timestamp_micros(ts div 1000)``;
    - microsecond parquet → Spark reads TIMESTAMP_NTZ: reinterpreted in the
      (UTC-pinned) session timezone, matching DuckDB's naive ``epoch()``;
    - tz-aware parquet → already TIMESTAMP, passed through.

    Every consumer (``Dialect.epoch_s_events`` → ``unix_seconds(ts)``, the
    status view, the streaming source, the temporal joins) reads the
    canonical column, so a future driver-side dtype flip only touches here.
    """
    dt = events.schema["ts"].dataType
    if isinstance(dt, LongType):
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def _parquet_files(path: str) -> list[str]:
    """A parquet table's data files in sorted order: ``path`` itself, or a
    directory's part files (``_``- and ``.``-prefixed names skipped, as
    Spark's file listing skips them)."""
    if not os.path.isdir(path):
        return [path]
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if not f.startswith(("_", "."))]


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet footers — a driver-side metadata read
    (no Spark job), for single files or directories of part files.  Used as
    a strategy gate, where a full count() job would cost a scan."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


class MissingColumnStats(ValueError):
    """A parquet row group holds rows but no min/max statistics for the
    column asked about, so its maximum cannot be read from the footer."""


def parquet_column_max(path: str, column: str):
    """Largest value of a top-level ``column`` from parquet footer
    statistics — a driver-side metadata read (no Spark job).  Row groups
    with no rows are skipped; ``None`` when the table has no rows.  Raises
    :class:`MissingColumnStats` when a row group with rows has no min/max
    for the column, so a caller never takes a partial maximum."""
    import pyarrow.parquet as pq

    top = None
    for f in _parquet_files(path):
        md = pq.read_metadata(f)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if rg.num_rows == 0:
                continue
            col = next(
                (rg.column(j) for j in range(rg.num_columns) if rg.column(j).path_in_schema == column), None
            )
            stats = col.statistics if col is not None else None
            if stats is None or not stats.has_min_max:
                raise MissingColumnStats(f"{f}: row group {g} has no min/max statistics for {column!r}")
            top = stats.max if top is None else max(top, stats.max)
    return top


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable, as Spark's file
    sources read any schema."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType)) for f in dt])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def parquet_schema(path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers under ``nanosAsLong``,
    read from a parquet footer on the driver — no Spark job.

    Non-merging inference reads the footer of the first data file, so this
    reads that one.  Unzoned micro/millisecond timestamps map to
    TIMESTAMP_NTZ (Spark's ``inferTimestampNTZ`` default), top-level
    nanosecond timestamps to LONG, and every field is nullable.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(_parquet_files(path)[0])
    arrow = pa.schema(
        [f.with_type(pa.int64()) if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f for f in arrow]
    )
    return _nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=True))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema given from the footer
    (:func:`parquet_schema`), so no schema-inference job runs."""
    return spark.read.schema(parquet_schema(path)).parquet(path)


def register_base_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = BASE_TABLES) -> None:
    """Register the driver parquet tables as temp views (idempotent).

    Each table's schema comes from its parquet footer
    (:func:`parquet_schema`), read on the driver, so registering runs no
    Spark job (a bare ``spark.read.parquet`` runs one inference job per
    table).  The footer is read again on every call, never cached: a file
    rewritten in place with another schema would otherwise be scanned with
    the stale one, and Spark returns NULL for the columns that no longer
    match, without an error.

    ``events.ts`` is normalized to TIMESTAMP via :func:`normalize_events_ts`
    (schema-adaptive: LONG nanos or TIMESTAMP/NTZ micros) so second-level
    results match DuckDB's native timestamp reading regardless of the
    parquet physical type.  The session timezone is pinned UTC here — the
    NTZ reinterpretation and ``unix_seconds`` both depend on it, and the
    driver's session may not come from session.build_session.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name in tables:
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = normalize_events_ts(df)
        df.createOrReplaceTempView(name)


def files_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_base_tables(spark, sf_dir, ("documents",))
    return spark.sql(FILES_WITH_EXT_SQL)


def status_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_base_tables(spark, sf_dir, ("events",))
    return spark.sql(STATUS_VIEW_SQL)


def with_files_cte(select_sql: str) -> str:
    """Wrap an oracle SELECT with the files-view CTE (DuckDB side)."""
    return f"WITH files AS ({FILES_WITH_EXT_SQL})\n{select_sql}"


def with_status_cte(select_sql: str) -> str:
    return f"WITH status AS ({STATUS_VIEW_SQL})\n{select_sql}"
