"""Base-table schemas come from parquet footers, not from inference jobs.

``views.parquet_schema`` must equal the schema Spark's own inference gives
(with ``nanosAsLong`` set, as ``register_base_tables`` sets it) on every
base table, on empty DuckDB-written copies and on a nanosecond ``events``
copy; registering must run no Spark job, and a file rewritten in place
must be read with its new schema.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from storage_crawler_spark.plans import registry
from storage_crawler_spark.plans import views as V

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("table", V.BASE_TABLES)
@pytest.mark.parametrize("sf", SF_DIRS, ids=os.path.basename)
def test_footer_schema_equals_inferred(spark, sf, table):
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} missing")
    path = f"{sf}/{table}.parquet"
    assert V.parquet_schema(path) == _inferred(spark, path)


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    """Zero-row copies, written as tools/gen_sf.py writes tables."""
    d = tmp_path_factory.mktemp("sf_empty_footer")
    con = duckdb.connect()
    for t in V.BASE_TABLES:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_DIRS[0]}/{t}.parquet') LIMIT 0) "
            f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


@pytest.mark.parametrize("table", V.BASE_TABLES)
def test_footer_schema_equals_inferred_on_empty_copies(spark, empty_sf_dir, table):
    path = f"{empty_sf_dir}/{table}.parquet"
    assert V.parquet_schema(path) == _inferred(spark, path)


def test_nanosecond_events_read_as_long(spark, tmp_path):
    events = pq.read_table(f"{SF_DIRS[0]}/events.parquet")
    i = events.schema.get_field_index("ts")
    events = events.set_column(i, "ts", pc.cast(events["ts"], pa.timestamp("ns")))
    path = str(tmp_path / "events.parquet")
    pq.write_table(events, path)

    schema = V.parquet_schema(path)
    assert schema["ts"].dataType == LongType()
    assert schema == _inferred(spark, path)

    V.register_base_tables(spark, str(tmp_path), ("events",))
    got = spark.sql(
        "SELECT event_id, unix_seconds(ts) FROM events ORDER BY event_id LIMIT 50"
    ).collect()
    want = duckdb.sql(
        f"SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) FROM read_parquet('{path}') "
        "ORDER BY event_id LIMIT 50"
    ).fetchall()
    assert [tuple(r) for r in got] == want


def test_directory_schema_and_row_count(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").repartition(3).write.parquet(path)
    assert V.parquet_schema(path) == _inferred(spark, path)
    assert V.parquet_row_count(path) == 10


def _drain_listener_bus(spark):
    # job events reach the status tracker asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


@pytest.mark.parametrize("name", registry.headline_queries())
def test_headline_builder_runs_no_job(spark, sf_dir, name):
    sc = spark.sparkContext
    group = f"build-{name}-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        registry.QUERIES[name].builder(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _drain_listener_bus(spark)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_in_place_rewrite_is_read_with_new_schema(spark, tmp_path):
    """No schema is cached: a rewrite that adds a column is visible after
    ``refreshByPath``, and the old columns keep their values."""
    docs = pq.read_table(f"{SF_DIRS[0]}/documents.parquet")
    path = str(tmp_path / "documents.parquet")
    pq.write_table(docs, path)
    V.register_base_tables(spark, str(tmp_path), ("documents",))
    before = spark.table("documents").orderBy("doc_id").collect()

    pq.write_table(docs.append_column("extra", pc.multiply(docs["doc_id"], 2)), path)
    spark.catalog.refreshByPath(path)
    V.register_base_tables(spark, str(tmp_path), ("documents",))
    after = spark.table("documents").orderBy("doc_id").collect()

    cols = docs.column_names
    assert spark.table("documents").columns == cols + ["extra"]
    assert [tuple(r[c] for c in cols) for r in after] == [tuple(r) for r in before]
    assert all(r["extra"] == 2 * r["doc_id"] for r in after)


def test_column_max_from_footers(tmp_path):
    """The largest ``id`` over a table's row groups comes from footer
    statistics; 0-row files are skipped, and a row group with rows but no
    ``id`` statistics raises rather than return a partial maximum."""
    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(pa.table({"id": [3, 9]}), str(table / "part-0.parquet"))
    pq.write_table(pa.table({"id": [12, 4]}), str(table / "part-1.parquet"), row_group_size=1)
    pq.write_table(pa.table({"id": pa.array([], pa.int64())}), str(table / "part-2.parquet"))
    assert V.parquet_column_max(str(table), "id") == 12

    empty = tmp_path / "empty"
    empty.mkdir()
    pq.write_table(pa.table({"id": pa.array([], pa.int64())}), str(empty / "part-0.parquet"))
    assert V.parquet_column_max(str(empty), "id") is None

    pq.write_table(pa.table({"id": [99]}), str(table / "part-3.parquet"), write_statistics=False)
    with pytest.raises(V.MissingColumnStats):
        V.parquet_column_max(str(table), "id")
