"""Native-read fast path for SQL-registered manifest views (r13): a
plain, dimension-sized snapshot binds as a JVM parquet FileScan over the
snapshot's exact live file list (zero Python read tasks, native
pushdown/pruning), while every state that needs executor-side logic —
merge-on-read deletes, column mapping, schema evolution null-fill,
oversized file lists — keeps the Python DataSource. Results must be
byte-identical between the two bindings."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    manifest_sql,
    manifest_sql_register,
    manifest_sql_unregister,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    _publish_manifest,
    manifest_add_column,
    manifest_delete_where,
    manifest_upsert_partitioned,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/nsr_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _plan(spark, view: str) -> str:
    return spark.table(view)._jdf.queryExecution().executedPlan().toString()


def _rows(spark, view: str):
    return sorted(map(tuple, spark.table(view).collect()))


def _register_ds(spark, view, path, monkeypatch, **kw):
    """Bind through the Python DataSource regardless of snapshot shape."""
    monkeypatch.setenv("MANIFEST_SQL_NATIVE_READ_MAX_FILES", "0")
    try:
        manifest_sql_register(spark, view, path, **kw)
    finally:
        monkeypatch.delenv("MANIFEST_SQL_NATIVE_READ_MAX_FILES")


def test_plain_snapshot_binds_native_and_matches_ds(
    spark, table_path, monkeypatch
):
    rows = [(i, f"d{i % 3}", float(i)) for i in range(30)]
    manifest_upsert_partitioned(
        spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE").coalesce(2),
        table_path,
        ["k"],
        "day",
    )
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    plan = _plan(spark, view)
    assert "FileScan parquet" in plan and "(Python)" not in plan
    native = _rows(spark, view)
    _register_ds(spark, view, table_path, monkeypatch)
    assert "(Python)" in _plan(spark, view)
    assert native == _rows(spark, view) and len(native) == 30
    manifest_sql_unregister(spark, view)


def test_native_filter_pushes_to_parquet(spark, table_path):
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(30)],
            "k LONG, day STRING, v DOUBLE",
        ),
        table_path,
        ["k"],
        "day",
    )
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    plan = (
        spark.table(view)
        .filter(F.col("v") >= 10.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(v), GreaterThanOrEqual(v,10.0)" in plan
    manifest_sql_unregister(spark, view)


def test_mor_delete_keeps_datasource_binding(spark, table_path):
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(i, f"d{i % 3}", float(i)) for i in range(30)],
            "k LONG, day STRING, v DOUBLE",
        ),
        table_path,
        ["k"],
        "day",
    )
    manifest_delete_where(spark, table_path, "k % 2 = 0", mode="mor")
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    assert "(Python)" in _plan(spark, view)  # pending deletes: DS only
    got = _rows(spark, view)
    assert len(got) == 15 and all(r[0] % 2 == 1 for r in got)
    manifest_sql_unregister(spark, view)


def test_evolved_table_keeps_datasource_binding(spark, table_path):
    """After ADD COLUMN the pre-evolution dirs need null-fill — the
    uniform-dir-schema gate must refuse the native binding."""
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k, concat('n', id) AS name FROM range(5)",
    )
    manifest_sql(spark, f"ALTER TABLE {view} ADD COLUMN note STRING")
    manifest_sql(spark, f"INSERT INTO {view} VALUES (100, 'x', 'noted')")
    plan = _plan(spark, view)
    assert "(Python)" in plan
    got = _rows(spark, view)
    assert (100, "x", "noted") in got
    assert sum(1 for r in got if r[2] is None) == 5  # null-filled old rows
    manifest_sql_unregister(spark, view)


def test_dir_without_recorded_schema_keeps_datasource_binding(
    spark, table_path
):
    """A live dir with no recorded write schema (a manifest from before
    per-dir schemas) is not proven to match the table schema, so the
    native binding must refuse it and the DataSource null-fills."""
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(i, f"d{i % 2}") for i in range(4)], "k LONG, day STRING"
        ),
        table_path,
        ["k"],
        "day",
    )
    manifest_add_column(table_path, "note", "STRING")
    version, content = _latest_manifest(table_path)
    _publish_manifest(
        table_path, version + 1, {**content, "dir_schemas": {}}, op="test"
    )
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path)
    assert "(Python)" in _plan(spark, view)
    assert _rows(spark, view) == [
        (0, "d0", None), (1, "d1", None), (2, "d0", None), (3, "d1", None)
    ]
    manifest_sql_unregister(spark, view)


def test_time_travel_binds_native_per_version(spark, table_path):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} LOCATION '{table_path}' AS "
        "SELECT id AS k FROM range(3)",
    )
    manifest_sql(spark, f"INSERT INTO {view} SELECT id + 10 FROM range(2)")
    old = manifest_sql(
        spark, f"SELECT COUNT(*) AS n FROM {view} VERSION AS OF 1"
    ).collect()[0]["n"]
    new = manifest_sql(spark, f"SELECT COUNT(*) AS n FROM {view}").collect()[0][
        "n"
    ]
    assert (old, new) == (3, 5)
    manifest_sql_unregister(spark, view)


def test_empty_table_native_binding(spark, table_path):
    view = f"nsr_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} (k INT, day STRING) LOCATION "
        f"'{table_path}' PARTITIONED BY (day)",
    )
    assert spark.table(view).count() == 0
    assert [f.name for f in spark.table(view).schema.fields] == ["k", "day"]
    manifest_sql_unregister(spark, view)
